"""Read an uncompressed Spark event log and attribute its work to spans.

Jobs carry the job group (``span-<id>``) that was active when they were
submitted; stages belong to jobs and tasks to stages. Task metrics come
from ``SparkListenerTaskEnd``; the Python operators' SQL metrics (worker
start, initialization, run time, bytes sent) ride on the same event as
named accumulables, in milliseconds and bytes.
"""

from __future__ import annotations

import json
import os
import statistics

_PY = {
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_sent",
}


def _log_files(log_dir: str) -> list[str]:
    """Event files of the one application under ``log_dir`` (Spark 4
    writes a rolling ``eventlog_v2_*`` directory of ``events_*`` parts)."""
    out = []
    for dirpath, _dirs, files in os.walk(log_dir):
        for fn in files:
            if fn.startswith("events_") or fn.startswith("local-"):
                out.append(os.path.join(dirpath, fn))
    return sorted(out, key=lambda p: (len(p), p))


def parse(log_dir: str) -> tuple[dict, dict, list[dict]]:
    """Returns (job group by job id, job group by stage id, tasks)."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    tasks: list[dict] = []
    for path in _log_files(log_dir):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    job_group[ev["Job ID"]] = group
                    for st in ev.get("Stage Infos", []):
                        stage_group[st["Stage ID"]] = group
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(_task(ev))
    return job_group, stage_group, tasks


def _task(ev: dict) -> dict:
    info = ev["Task Info"]
    m = ev.get("Task Metrics") or {}
    run_ms = m.get("Executor Run Time", 0)
    t = {
        "stage": ev["Stage ID"],
        "run_s": run_ms / 1e3,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "sched_delay_s": max(
            0,
            (info["Finish Time"] - info["Launch Time"])
            - run_ms
            - m.get("Executor Deserialize Time", 0)
            - m.get("Result Serialization Time", 0)
            - info.get("Getting Result Time", 0),
        ) / 1e3,
        "shuffle_bytes": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
    }
    for k in _PY.values():
        t[k] = 0
    for a in info.get("Accumulables", []):
        key = _PY.get(a.get("Name"))
        if key is not None:
            t[key] += int(a.get("Update") or 0)
    return t


def fold(job_group: dict, stage_group: dict, tasks: list[dict], apply_spans: set[int],
         n_batches: int, read_spans: set[int], n_reads: int) -> dict:
    """``spark.*`` per-layer metrics.

    Apply-side figures are per ``apply_batch`` call over the tasks whose
    job was submitted inside one of ``apply_spans``; the apply stage is
    any such stage that ran a Python operator. ``spark.scan.bytes_read``
    is per read operation over the jobs inside ``read_spans``.
    """

    def in_spans(t, ids) -> bool:
        return _span_of(stage_group.get(t["stage"])) in ids

    app = [t for t in tasks if in_spans(t, apply_spans)]
    nb = max(n_batches, 1)
    py_stages = {t["stage"] for t in app if t["py_run_ms"] or t["py_init_ms"]}
    stage_tasks: dict[int, list[float]] = {}
    for t in app:
        if t["stage"] in py_stages:
            stage_tasks.setdefault(t["stage"], []).append(t["run_s"])
    skews = [
        max(v) / statistics.median(v)
        for v in stage_tasks.values()
        if statistics.median(v) > 0
    ]
    apply_stage = [t for t in app if t["stage"] in py_stages]
    reads = [t for t in tasks if in_spans(t, read_spans)]
    return {
        "spark.jobs_per_batch": sum(
            1 for g in job_group.values() if _span_of(g) in apply_spans
        ) / nb,
        "spark.tasks_per_batch": len(app) / nb,
        "spark.scheduler_delay_s": sum(t["sched_delay_s"] for t in app) / nb,
        "spark.python.start_s": sum(t["py_start_ms"] for t in app) / 1e3 / nb,
        "spark.python.init_s": sum(t["py_init_ms"] for t in app) / 1e3 / nb,
        "spark.python.run_s": sum(t["py_run_ms"] for t in app) / 1e3 / nb,
        "spark.python.bytes_sent": sum(t["py_sent"] for t in app) / nb,
        "spark.apply_stage.task_s": sum(t["run_s"] for t in apply_stage) / nb,
        "spark.apply_stage.cpu_s": sum(t["cpu_s"] for t in apply_stage) / nb,
        "spark.apply_stage.skew": statistics.median(skews) if skews else 1.0,
        "spark.shuffle.bytes": sum(t["shuffle_bytes"] for t in app) / nb,
        "spark.gc_s": sum(t["gc_s"] for t in app) / nb,
        "spark.scan.bytes_read": sum(t["input_bytes"] for t in reads) / max(n_reads, 1),
    }


def _span_of(group: str | None) -> int | None:
    if group and group.startswith("span-"):
        return int(group[5:])
    return None
