"""North-rule scaling evidence: the IDENTICAL MERGE-apply job at two
parallelism levels (local[N] vs local[4N]) on the SAME on-disk input.

Efficiency = (events_per_sec@4N / events_per_sec@N) / 4, target >= 0.8.

Each level runs in its own subprocess (fresh JVM) so nothing warm leaks
between levels. The input changelog is generated once (seeded) and
reused by both. Results go to stdout and BENCH_SCALING.json.

Usage: python tools/scaling_bench.py [--events 1200000] [--n 8] [--xn 32]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RUNNER = r"""
import json, os, shutil, sys, time
sys.path.insert(0, {repo!r})
from clinvar_ingest_spark.session import get_spark
from clinvar_ingest_spark.engine import CdcEngine

cores = int(sys.argv[1]); changelog = sys.argv[2]; workdir = sys.argv[3]
batches = int(sys.argv[4]); n_buckets = int(sys.argv[5])
pin = int(sys.argv[6]); slots = int(sys.argv[7]) if len(sys.argv) > 7 else 1
if pin:
    # Pin the WHOLE process tree (JVM + python UDF workers inherit the
    # affinity mask) to exactly `cores` physical cores: local[N] alone
    # bounds only JVM task slots, and the python workers would
    # otherwise run on extra cores, overstating small-N throughput.
    os.sched_setaffinity(0, set(range(cores)))
# slots>1 oversubscribes TASK SLOTS on the same pinned physical
# cores (identically at both levels): each task alternates python
# Arrow compute and JVM encode, so extra slots fill the handoff
# bubbles the same way a real executor runs more tasks than cores
spark = get_spark(app_name=f"scaling_{{cores}}", master=f"local[{{cores * slots}}]")
cl = spark.read.parquet(changelog)
bounds = cl.selectExpr("min(seq) lo", "max(seq) hi").collect()[0]
n = int(bounds["hi"]) - int(bounds["lo"]) + 1
# JVM/codegen/python-worker warmup outside the timed region, through the
# same code path (small table thrown away afterwards)
warm = CdcEngine(spark, os.path.join(workdir, f"warm{{cores}}_{{os.getpid()}}"), n_buckets=n_buckets)
warm.replay(cl.limit(2000), batch_size=2000)
shutil.rmtree(os.path.join(workdir, f"warm{{cores}}_{{os.getpid()}}"), ignore_errors=True)

def cpu_busy_jiffies():
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:]]
    idle = vals[3] + vals[4]  # idle + iowait
    return sum(vals) - idle, sum(vals)

tdir = os.path.join(workdir, f"pages{{cores}}_{{os.getpid()}}")
eng = CdcEngine(spark, tdir, n_buckets=n_buckets)
busy0, all0 = cpu_busy_jiffies()
t0 = time.time()
stats = eng.replay(cl, batch_size=max(n // batches, 1))
wall = time.time() - t0
busy1, all1 = cpu_busy_jiffies()
# whole-machine average cores busy during the timed region: local[N]
# UDF stages legitimately use ~2N cores (N JVM task threads + N python
# worker PROCESSES pipelined via Arrow), so slot-based N→4N ratios
# undercount the true core scaling — report both.
hz = os.sysconf("SC_CLK_TCK")
cores_busy = (busy1 - busy0) / hz / wall
events = sum(s.n_events for s in stats)
print(json.dumps({{"cores": cores, "events": events, "sec": round(wall, 3),
                  "events_per_sec": round(events / wall, 1),
                  "rows": eng.pages().count(),
                  "write_secs": round(sum(s.write_secs for s in stats), 3),
                  "commit_secs": round(sum(s.commit_secs for s in stats), 3),
                  "cores_busy_avg": round(cores_busy, 2),
                  "state_hash": eng.state_hash()}}))
shutil.rmtree(tdir, ignore_errors=True)
"""


def run_level(
    cores: int, changelog: str, workdir: str, batches: int,
    driver_mem: str = "8g", n_buckets: int = 128, pin: bool = False,
    slots: int = 1,
) -> dict:
    script = RUNNER.format(repo=REPO)
    env = dict(
        os.environ,
        SPARK_GRAFT_DRIVER_MEM=driver_mem,
        # tag-dense pages zstd ~40:1 — split small enough that 8 decoded
        # splits fit the heap comfortably
        SPARK_GRAFT_MAX_PARTITION_BYTES="1m",
        # this sandbox VM intermittently faults in AVX-512 memcpy paths
        # (libc segfaults in dmesg); pin glibc to AVX2
        GLIBC_TUNABLES="glibc.cpu.hwcaps=-AVX512F",
    )
    out = subprocess.run(
        [sys.executable, "-c", script, str(cores), changelog, workdir,
         str(batches), str(n_buckets), str(int(pin)), str(slots)],
        capture_output=True, text=True, timeout=3600, env=env,
    )
    if out.returncode != 0:
        raise RuntimeError(f"level {cores} failed:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def run_level_submit(
    cores: int, changelog: str, workdir: str, batches: int,
    driver_mem: str, n_buckets: int, pin: bool,
) -> dict:
    """North-rule literal mode: drive the level through real
    ``spark-submit --py-files dist/clinvar_ingest_spark.zip`` running
    jobs/cdc_apply.py --bench-json (replay timed INSIDE the job, JVM
    startup/warmup excluded)."""
    import pyarrow.parquet as pq

    from clinvar_ingest_spark.session import _JAVA_OPTS

    n = pq.ParquetFile(changelog).metadata.num_rows
    tdir = os.path.join(workdir, f"submit{cores}_{os.getpid()}")
    cmd = [
        "spark-submit", "--master", f"local[{cores}]",
        "--driver-memory", driver_mem,
        # under spark-submit the driver JVM starts BEFORE session conf,
        # so the GC/AVX flags MUST ride the command line — without them
        # this sandbox's AVX-512 fault kills the 8-core level
        "--driver-java-options", _JAVA_OPTS,
        "--py-files", os.path.join(REPO, "dist", "clinvar_ingest_spark.zip"),
        os.path.join(REPO, "jobs", "cdc_apply.py"),
        "--table", tdir, "--changelog", changelog,
        "--batch-size", str(max(n // batches, 1)),
        "--buckets", str(n_buckets), "--bench-json",
    ]
    env = dict(
        os.environ,
        SPARK_GRAFT_DRIVER_MEM=driver_mem,
        SPARK_GRAFT_MAX_PARTITION_BYTES="1m",
        GLIBC_TUNABLES="glibc.cpu.hwcaps=-AVX512F",
    )
    pre = (lambda: os.sched_setaffinity(0, set(range(cores)))) if pin else None
    out = subprocess.run(
        cmd, capture_output=True, text=True, timeout=3600, env=env, preexec_fn=pre
    )
    if out.returncode != 0:
        raise RuntimeError(f"submit level {cores} failed:\n{out.stderr[-3000:]}")
    import shutil

    shutil.rmtree(tdir, ignore_errors=True)
    for line in reversed(out.stdout.strip().splitlines()):
        try:
            d = json.loads(line)
        except json.JSONDecodeError:
            continue
        if d.get("bench"):
            d["cores"] = cores
            return d
    raise RuntimeError(f"no bench line from level {cores}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=250_000)
    ap.add_argument("--n", type=int, default=1)
    ap.add_argument("--xn", type=int, default=4)
    ap.add_argument("--batches", type=int, default=2)
    ap.add_argument("--tag-dense", action="store_true", default=True,
                    help="tag-dense pages (real-HTML extraction economics)")
    ap.add_argument("--driver-mem", default="10g",
                    help="heap per level JVM; small heaps avoid this "
                         "microVM's page-touch-expensive GC pathology")
    ap.add_argument(
        "--words", type=int, default=200,
        help="words per page: sizes per-event compute to realistic "
             "Common-Crawl page weight (unit tests use tiny 12-word pages)",
    )
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH_SCALING.json"))
    ap.add_argument("--repeats", type=int, default=2,
                    help="best-of-k per level, interleaved N/4N to decorrelate host noise")
    ap.add_argument("--changelog", default=None,
                    help="reuse an existing changelog parquet instead of generating")
    ap.add_argument("--via-submit", action="store_true",
                    help="drive each level through real spark-submit "
                         "--py-files (jobs/cdc_apply.py --bench-json) — "
                         "the north rule's literal invocation")
    ap.add_argument("--pin", action="store_true",
                    help="sched_setaffinity each level to exactly its core "
                         "count (JVM + python workers inherit) — makes the "
                         "N:4N resource ratio exact in local mode")
    ap.add_argument("--n-buckets", type=int, default=None,
                    help="table bucket count; default 4*max(n,xn) per the "
                         "engine's n_buckets >> cores sizing rule "
                         "(merge_cogroup.py plan notes)")
    ap.add_argument("--slots-per-core", type=int, default=1,
                    help="task slots per pinned physical core, applied "
                         "identically at both levels (local[cores*slots] "
                         "pinned to `cores` cores) — >1 overlaps the "
                         "python-Arrow / JVM handoff bubbles")
    ap.add_argument("--tmpfs", action="store_true",
                    help="put workdir + spark.local.dir on /dev/shm — isolates "
                         "CPU scaling from the sandbox's single virtio disk "
                         "(cluster executors have per-node NVMe)")
    args = ap.parse_args()
    if args.tmpfs:
        tempfile.tempdir = "/dev/shm"
        os.environ["SPARK_GRAFT_LOCAL_DIR"] = "/dev/shm/spark_local"

    sys.path.insert(0, REPO)
    from clinvar_ingest_spark.sources.changelog import (
        ChangelogSpec,
        generate_changelog_to_parquet,
    )

    workdir = tempfile.mkdtemp(prefix="scaling_bench_")
    if args.changelog:
        clp = args.changelog
    else:
        clp = os.path.join(workdir, "changelog.parquet")
        print(f"generating {args.events} events -> {clp}", file=sys.stderr)
        generate_changelog_to_parquet(
            ChangelogSpec(
                n_events=args.events,
                n_urls=max(args.events // 6, 1000),
                n_hosts=100,
                seed=42,
                words_per_page=args.words,
                tag_dense=args.tag_dense,
            ),
            clp,
        )

    n_buckets = args.n_buckets or max(32, 4 * max(args.n, args.xn))
    if args.via_submit and args.slots_per_core != 1:
        # run_level_submit launches jobs/cdc_apply.py with the default
        # engine config; silently dropping the flag would stamp a slots
        # setting into the result JSON that was never actually measured
        ap.error(
            "--via-submit supports only --slots-per-core 1; use the "
            "in-process runner for slot A/Bs"
        )
    if args.via_submit:
        subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "build_pyfiles.py")],
            check=True, capture_output=True,
        )
    level_fn = run_level_submit if args.via_submit else run_level
    runs_n, runs_xn = [], []
    for rep in range(args.repeats):
        for cores, sink in ((args.n, runs_n), (args.xn, runs_xn)):
            try:
                kw = {} if args.via_submit else {"slots": args.slots_per_core}
                sink.append(level_fn(cores, clp, workdir, args.batches,
                                     args.driver_mem, n_buckets, args.pin, **kw))
                print(f"rep {rep} local[{cores}]: {sink[-1]['events_per_sec']} ev/s",
                      file=sys.stderr)
            except Exception as e:  # flaky-substrate runs are retried next rep
                print(f"rep {rep} local[{cores}] FAILED: {e}", file=sys.stderr)
    if not runs_n or not runs_xn:
        raise SystemExit("no successful runs at one of the levels")
    r_n = max(runs_n, key=lambda r: r["events_per_sec"])
    r_xn = max(runs_xn, key=lambda r: r["events_per_sec"])
    assert r_n["state_hash"] == r_xn["state_hash"], "levels diverged!"
    eff = (r_xn["events_per_sec"] / r_n["events_per_sec"]) / (args.xn / args.n)
    result = {
        "metric": "merge_apply_scaling_efficiency",
        "input_events": args.events,
        "levels": {f"local[{args.n}]": r_n, f"local[{args.xn}]": r_xn},
        "all_runs": {f"local[{args.n}]": [r["events_per_sec"] for r in runs_n],
                     f"local[{args.xn}]": [r["events_per_sec"] for r in runs_xn]},
        "efficiency": round(eff, 3),
        "target": 0.8,
        "pass": eff >= 0.8,
        "state_hash_identical": True,
    }
    if r_n.get("cores_busy_avg") and r_xn.get("cores_busy_avg"):
        # normalize by cores actually consumed: local[N] runs the
        # python UDF workers as EXTRA processes beyond the N JVM task
        # slots, so the slot ratio overstates the resource ratio
        core_ratio = r_xn["cores_busy_avg"] / r_n["cores_busy_avg"]
        result["cores_busy"] = {
            f"local[{args.n}]": r_n["cores_busy_avg"],
            f"local[{args.xn}]": r_xn["cores_busy_avg"],
        }
        result["core_normalized_efficiency"] = round(
            (r_xn["events_per_sec"] / r_n["events_per_sec"]) / core_ratio, 3
        )
    with open(args.out, "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
