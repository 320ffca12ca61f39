"""Self-tests of the benchmark's own logic.

    python3 -m pytest perfbench -q

The percentile rule, self-time arithmetic over nested spans, the
event-log folding, and the DuckDB reference agreeing with an engine
replay on a tiny changelog (the one test that starts Spark).
"""

from __future__ import annotations

import json

import pytest

from perfbench import eventlog, stats
from perfbench.trace import Tracer, prefer_timed


# ------------------------------------------------------------ percentiles


def test_tail_needs_more_than_ten_samples():
    assert stats.tail(list(range(10))) is None


def test_tail_leaves_exactly_ten_samples_beyond():
    xs = [float(x) for x in range(40, 0, -1)]  # unsorted input
    pct, value = stats.tail(xs)
    assert pct == 75.0
    assert value == 30.0
    assert sum(1 for x in xs if x > value) == 10


def test_tail_of_eleven_samples_is_the_smallest():
    pct, value = stats.tail([5.0] + [9.0] * 10)
    assert (round(pct, 2), value) == (9.09, 5.0)


def test_tail_of_thirty_samples_is_p66():
    pct, value = stats.tail(list(range(1, 31)))
    assert (round(pct, 1), value) == (66.7, 20.0)


# ------------------------------------------------------------------ steal


def test_steal_share_is_of_busy_time():
    # 100 ticks: 40 idle, 15 stolen, so 15 of the 60 busy ticks
    assert stats.steal_share((5, 10, 1000), (20, 50, 1100)) == 0.25
    assert stats.steal_share((0, 0, 0), (0, 0, 0)) == 0.0


def test_run_time_removes_the_stolen_share():
    assert stats.run_time({"wall": 2.0, "steal": 0.25}) == 1.5
    assert stats.run_time({"wall": 2.0, "steal": 0.0}) == 2.0
    with stats.timed() as m:
        pass
    assert m["wall"] >= 0.0 and 0.0 <= m["steal"] <= 1.0


# -------------------------------------------------------------- self time


def test_self_time_subtracts_the_union_of_children():
    # children [1,3] and [2,5] overlap: together they cover [1,5]
    assert stats.self_time(0.0, 10.0, [(1.0, 3.0), (2.0, 5.0), (7.0, 8.0)]) == 5.0


def test_self_time_clips_children_to_the_parent():
    assert stats.self_time(0.0, 10.0, [(-2.0, 1.0), (9.0, 12.0)]) == 8.0
    assert stats.self_time(0.0, 10.0, [(11.0, 12.0)]) == 10.0


class _Toy:
    def outer(self, n):
        self.inner()
        self.inner()
        return n

    def inner(self):
        return None


def test_tracer_nests_spans_and_inherits_batch_ids():
    tr = Tracer()
    tr.wrap(_Toy, "outer", "toy.outer", batch_of=lambda _self, n: f"b{n}")
    tr.wrap(_Toy, "inner", "toy.inner")
    try:
        tr.phase = "timed"
        assert _Toy().outer(7) == 7
    finally:
        tr.unwrap_all()
    assert not hasattr(_Toy.outer, "__wrapped__")
    outer = [s for s in tr.spans if s["name"] == "toy.outer"]
    inner = [s for s in tr.spans if s["name"] == "toy.inner"]
    assert len(outer) == 1 and len(inner) == 2
    assert {s["parent"] for s in inner} == {outer[0]["id"]}
    assert {s["batch_id"] for s in tr.spans} == {"b7"}
    assert {s["op_id"] for s in tr.spans} == {outer[0]["id"]}
    selfs = tr.self_times()
    wall = outer[0]["end"] - outer[0]["start"]
    covered = sum(s["end"] - s["start"] for s in inner)
    assert selfs[outer[0]["id"]] == pytest.approx(wall - covered, abs=1e-9)
    assert tr.descendants(outer) == {s["id"] for s in tr.spans}
    assert tr.outermost(tr.spans) == outer


def test_prefer_timed_falls_back_to_every_span():
    setup = [{"phase": "setup"}]
    timed = [{"phase": "timed"}]
    assert prefer_timed(setup + timed) == timed
    assert prefer_timed(setup) == setup


# -------------------------------------------------------------- event log


def _task_end(stage, run_ms, init_ms=0, launch=0, finish=None):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {
            "Launch Time": launch,
            "Finish Time": launch + run_ms + 5 if finish is None else finish,
            "Getting Result Time": 0,
            "Accumulables": [
                {"Name": "time to initialize Python workers", "Update": str(init_ms)},
                {"Name": "time to run Python workers", "Update": str(run_ms // 2)},
            ] if init_ms else [],
        },
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 1_000_000,
            "Executor Deserialize Time": 0,
            "Result Serialization Time": 0,
            "JVM GC Time": 1,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            "Input Metrics": {"Bytes Read": 10},
        },
    }


def test_fold_attributes_tasks_to_spans_by_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage Infos": [{"Stage ID": 0}],
         "Properties": {"spark.jobGroup.id": "span-3"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage Infos": [{"Stage ID": 1}],
         "Properties": {"spark.jobGroup.id": "span-9"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage Infos": [{"Stage ID": 2}],
         "Properties": {}},
        _task_end(0, 100, init_ms=40),
        _task_end(0, 300, init_ms=60),
        _task_end(1, 50),
        _task_end(2, 1000),
    ]
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    job_group, stage_group, tasks = eventlog.parse(str(tmp_path))
    out = eventlog.fold(job_group, stage_group, tasks, apply_spans={3}, n_batches=2,
                        read_spans={9}, n_reads=1)
    assert out["spark.jobs_per_batch"] == 0.5
    assert out["spark.tasks_per_batch"] == 1.0
    assert out["spark.python.init_s"] == pytest.approx(0.05)
    assert out["spark.python.run_s"] == pytest.approx(0.1)
    assert out["spark.apply_stage.task_s"] == pytest.approx(0.2)
    assert out["spark.apply_stage.skew"] == pytest.approx(0.3 / 0.2)
    assert out["spark.scheduler_delay_s"] == pytest.approx(0.005)
    assert out["spark.shuffle.bytes"] == 100
    assert out["spark.scan.bytes_read"] == 10


# ---------------------------------------------------------------- key mix


class _Hosts:
    """20 hosts of 10 urls each; the even-numbered pages changed lately."""

    def host_event_counts(self, hi):
        return [(f"h{i}.example", 100 - i) for i in range(20)]

    def urls(self, hi):
        return [f"https://h{i}.example/page/{j}" for i in range(20) for j in range(10)]

    def urls_changed(self, lo, hi):
        return {u for u in self.urls(hi) if int(u.rsplit("/", 1)[1]) % 2 == 0}


def test_key_mix_is_the_same_for_every_seed():
    from perfbench.harness import Bench

    ref, mixes = _Hosts(), set()
    for seed in (1, 2, 3):
        keys = Bench(None, "trickle_mor", seed, 1.0, "unused").key_mix(ref, 0, -1, 20)
        fresh = ref.urls_changed(-1, 0)
        kinds = {}
        for k in keys:
            host, page = k.split("/")[2], k.rsplit("/", 1)[1]
            tier = "absent" if page.startswith("absent") else (
                "hot" if host in ("h0.example", "h1.example") else "cold")
            kind = tier if tier == "absent" else (tier, k in fresh)
            kinds[kind] = kinds.get(kind, 0) + 1
        assert kinds == {("hot", True): 4, ("cold", True): 4, ("hot", False): 4,
                         ("cold", False): 4, "absent": 4}
        mixes.add(tuple(keys))
    assert len(mixes) == 3  # the keys themselves follow the seed


# -------------------------------------------------------------- reference


@pytest.fixture(scope="module")
def spark():
    from clinvar_ingest_spark.session import get_spark

    return get_spark(app_name="perfbench_tests", master="local[2]", shuffle_partitions=2,
                     extra_conf={"spark.driver.memory": "1g"})


def test_reference_agrees_with_an_engine_replay(spark, tmp_path):
    from pyspark.sql import functions as F

    from clinvar_ingest_spark.engine import CdcEngine
    from clinvar_ingest_spark.sources.changelog import ChangelogSpec
    from perfbench.harness import grid, write_batches
    from perfbench.reference import Reference

    spec = ChangelogSpec(n_events=900, n_urls=250, seed=11)
    batches = write_batches(spec, str(tmp_path / "in"), grid(0, 300, 3))
    ref = Reference([b.path for b in batches])
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=4, write_mode="mor")
    sids = []
    for b in batches:
        st = eng.apply_batch(spark.read.parquet(b.path), b.first, b.last)
        sids.append(st.snapshot_id)
    got = {r["url"]: r["h"] for r in
           eng.pages().select("url", F.md5("text").alias("h")).collect()}
    assert got == ref.text_digests(batches[-1].last)
    msg = eng.export_diff_ndjson(sids[0], sids[2], str(tmp_path / "export"))
    assert msg["counts"] == ref.diff_counts(batches[0].last, batches[2].last)
    assert sum(msg["counts"].values()) > 0
    deleted = next(u for u in ref.urls(batches[-1].last) if u not in got)
    assert eng.lookup(deleted).collect() == []
    ref.close()
