"""Run one workload of the CDC ingest benchmark and print its metrics.

    python3 perfbench/run.py --workload bulk_cow --seed 1 --seconds 6 --trace 0

Run from the repository root. The last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics of a
traced run with ``--trace 1``. The lines before it name every metric
with its unit, the host facts and any reference mismatch. The exit code
is non-zero when an operation raised or disagreed with the reference.
All scratch data lives under ``.perfbench_work/`` and is removed at the
end; span dumps go to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

T_START = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("bulk_cow", "trickle_mor")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_ram_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory(ram: int) -> str:
    """A quarter of the host's RAM, between 1 and 4 GiB: room for the
    driver's heap without crowding the Python workers or the page cache."""
    return f"{max(1, min(4, ram // 4 // 2**30))}g"


def isolate(work: str) -> None:
    """Keep every file the run writes inside ``work`` and drop session
    overrides inherited from the environment."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    for k in ("SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_JAVA_OPTS", "SPARK_GRAFT_DRIVER_MEM",
              "SPARK_GRAFT_MAX_PARTITION_BYTES", "SPARK_GRAFT_LOCAL_DIR"):
        os.environ.pop(k, None)


def start_session(work: str, nproc: int, mem: str, event_dir: str | None):
    from clinvar_ingest_spark.session import _JAVA_OPTS, get_spark

    java_opts = f"{_JAVA_OPTS} -Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    conf = {
        "spark.driver.memory": mem,
        "spark.driver.extraJavaOptions": java_opts,
        "spark.executor.extraJavaOptions": java_opts,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + event_dir,
        })
    return get_spark(app_name="perfbench", master=f"local[{nproc}]",
                     shuffle_partitions=nproc, extra_conf=conf)


def stop_session(spark) -> float:
    """Stop Spark and the JVM it runs in; returns the JVM's peak RSS (MB)."""
    from pyspark import SparkContext

    from perfbench.harness import vm_hwm_mb

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    jvm_mb = vm_hwm_mb(proc.pid) if proc is not None else 0.0
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    return jvm_mb


def capture_apply_partitions(spark, facts: dict):
    """Record ``spark.sql.shuffle.partitions`` as the merge operators see
    it (the engine pins it around every apply) on the first apply."""
    from clinvar_ingest_spark.operators import merge, merge_cogroup

    originals = []
    for mod, attr in ((merge_cogroup, "merge_apply_cogrouped"), (merge, "merge_apply_mor")):
        orig = getattr(mod, attr)

        def probe(*a, _orig=orig, **kw):
            facts.setdefault("apply_shuffle_partitions",
                             int(spark.conf.get("spark.sql.shuffle.partitions")))
            return _orig(*a, **kw)

        setattr(mod, attr, probe)
        originals.append((mod, attr, orig))

    def restore():
        for mod, attr, orig in originals:
            setattr(mod, attr, orig)

    return restore


def source_digest() -> str:
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "clinvar_ingest_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                with open(os.path.join(dirpath, fn), "rb") as fh:
                    h.update(fn.encode() + fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def host_facts(args, nproc: int, ram: int, mem: str) -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "nproc": nproc,
        "ram_gb": round(ram / 2**30, 1),
        "driver_memory": mem,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "git_commit": git_commit(),
        "source_digest": source_digest(),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "clinvar_ingest_spark", "engine.py")):
        print("perfbench: the clinvar_ingest_spark package is missing next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # import perfbench as a package, never its modules bare
    from perfbench.stats import cpu_ticks, run_time, steal_share, tail

    cpu_start = cpu_ticks()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    isolate(work)

    from perfbench import harness, layers
    from perfbench.trace import Tracer

    nproc = len(os.sched_getaffinity(0))
    ram = host_ram_bytes()
    mem = driver_memory(ram)
    facts = host_facts(args, nproc, ram, mem)
    event_dir = os.path.join(work, "events") if args.trace else None
    spark = tracer = accounted = None
    try:
        try:
            t_session = time.perf_counter()
            spark = start_session(work, nproc, mem, event_dir)
            facts["session_start_s"] = round(time.perf_counter() - t_session, 3)
            if args.trace:
                tracer = Tracer(spark.sparkContext)
                layers.install(tracer)
            facts["n_buckets"] = harness.N_BUCKETS
            restore = capture_apply_partitions(spark, facts)
            bench = harness.Bench(spark, args.workload, args.seed, args.seconds, work, tracer)
            try:
                bench.run()
            finally:
                restore()
                if tracer:
                    tracer.unwrap_all()
            setup_wall = bench.t_timed - T_START - bench.ref_secs + bench.probe_warm["wall"]
            setup_s = ((bench.t_timed - T_START - bench.ref_secs)
                       * (1.0 - steal_share(cpu_start, bench.cpu_at_timed))
                       + run_time(bench.probe_warm))
            facts["setup_steps"] = bench.steps
            manifest_bytes = layers.manifest_bytes(bench.table_root)
        finally:
            # stop the JVM (and the Python workers it owns) on every path
            jvm_mb = stop_session(spark) if spark is not None else 0.0
        peak = harness.vm_hwm_mb("self") + jvm_mb
        if tracer:
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
            metrics = layers.per_layer(tracer, bench, event_dir, manifest_bytes)
            accounted = layers.apply_accounting(tracer)
        else:
            metrics = bench.end_to_end(setup_s, peak)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    facts["cpu_steal_share"] = round(steal_share(cpu_start, cpu_ticks()), 4)
    print("host " + json.dumps(facts, sort_keys=True))
    print(f"timed_wall_s {bench.timed_wall:.4f} setup_wall_s {setup_wall:.4f} "
          f"setup_s {setup_s:.4f} peak_rss_mb {peak:.1f}")
    kinds = (("commit", bench.commits), ("export", bench.exports),
             ("scan", bench.scans), ("lookup", bench.lookups))
    for label, ms in kinds:
        print(f"{label}_walls_s " + " ".join(f"{m['wall']:.3f}" for m in ms))
        print(f"{label}_steal " + " ".join(f"{m['steal']:.3f}" for m in ms))
    print("lookup_files_read " + " ".join(str(n) for n in bench.lookup_files))
    print("probe_rounds steal " + " ".join(f"{x:.3f}" for x in bench.round_steal)
          + f" retaken={bench.retakes}")
    print("samples " + " ".join(f"{label}s={len(ms)}" for label, ms in kinds))
    for label, ms in (kinds[0], kinds[3]):
        t, n = tail([run_time(m) for m in ms]), len(ms)
        print(f"{label}_tail " + (f"p{t[0]:.1f} = {t[1]:.4f} s (n={n})" if t
                                  else f"none: n={n} leaves no percentile with 10 samples beyond it"))
    print(f"error_rate {bench.failed / max(bench.attempted, 1):.6f} "
          f"({bench.failed} failed of {bench.attempted} attempted)")
    if tracer:
        print(f"trace spans={len(tracer.spans)} apply_batch accounted by layer spans: "
              f"min {min(accounted):.4f} max {max(accounted):.4f} of wall "
              f"over {len(accounted)} batches")
    for problem in bench.problems:
        print("MISMATCH " + problem)
    for name, (value, unit) in metrics.items():
        print(f"metric {name} = {value:.6g} {unit}")
    ok = bench.failed == 0
    print(json.dumps({
        "correct": ok,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
