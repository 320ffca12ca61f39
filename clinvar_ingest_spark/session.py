"""SparkSession factory tuned for this engine.

Local mode is a stand-in for a multi-executor cluster: every knob here
is chosen so the same plan shape survives a 1000-executor deployment
(AQE for runtime re-plan + skew joins, Arrow for every Python-side
kernel, shuffle partitions sized to cores locally but overridable).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

_JAVA_OPTS = os.environ.get(
    "SPARK_GRAFT_JAVA_OPTS",
    # UseAVX=2: this sandbox VM intermittently faults on AVX-512 (libc
    # segfaults in dmesg) — keep JIT-emitted vector code at AVX2
    "-XX:+UseParallelGC -XX:+DisableExplicitGC -XX:MaxDirectMemorySize=16g -XX:UseAVX=2",
)


def get_spark(
    app_name: str = "clinvar_ingest_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falls back to
    ``local[*]``) so the bench harness can run the identical job at two
    parallelism levels (the sandbox evidence for the N vs 4N executor
    scaling rule). Pass ``master="submit"`` to NOT set a master at all —
    required under ``spark-submit``, where the cluster manager comes
    from the submit command line (jobs/ entry points use this).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = SparkSession.builder if master == "submit" else SparkSession.builder.master(master)
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # parquet timestamp(us) without tz must read as TIMESTAMP (UTC
        # session), not TIMESTAMP_NTZ, so snapshot/changelog types align
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # INT96 (Spark's legacy default) carries NO column statistics;
        # TIMESTAMP_MICROS does — required for the manifest's per-file
        # warc_ts min/max (data-skipping) and matches the changelog
        # generator's arrow timestamps
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # CDC payloads are compute-dense per byte (zstd'd HTML expands
        # ~20x, then regex extraction) — size scan splits by CPU cost,
        # not bytes, or the pre-shuffle stage collapses to a handful of
        # tasks and caps scaling. Raise for thin-payload deployments.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "2m"),
        )
        # table reads hand Spark exact, manifest-known file paths, so
        # listing has nothing to discover: stat them on the driver
        # instead of launching a one-task-per-path listing job whenever
        # a read names more than 32 files. Trade-off: on an object store
        # the driver's stats run serially (no such deployment here).
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "100000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # Throughput GC for batch work. DisableExplicitGC is load-bearing:
        # Arrow/Netty direct-buffer reservation calls System.gc() under
        # pressure, and with 32 concurrent tasks that degenerates into a
        # full-GC storm (measured: reduce stage 784s GC / 81s CPU). The
        # direct ceiling is raised instead so reservations never hit it.
        .config("spark.driver.extraJavaOptions", _JAVA_OPTS)
        .config("spark.executor.extraJavaOptions", _JAVA_OPTS)
    )
    # shuffle/spill dir override (e.g. tmpfs when local disk is the
    # bottleneck — cluster executors have per-node NVMe, the sandbox
    # VM has one slow virtio disk)
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    # JSON dict of extra spark confs — lets deployment (and the scaling
    # bench's fresh-JVM subprocesses) override any default without code
    # changes; explicit extra_conf still wins over the env
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if env_conf:
        import json as _json

        for k, v in _json.loads(env_conf).items():
            builder = builder.config(k, str(v))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executors (the local-mode analogue
    of ``spark-submit --py-files``; on a real cluster either works).

    Without this, any pandas UDF defined here fails on workers with
    ModuleNotFoundError when the driver isn't launched from the repo root.
    """
    sc = spark.sparkContext
    if getattr(sc, "_clinvar_ingest_spark_shipped", False):
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    fd, zpath = tempfile.mkstemp(suffix=".zip", prefix="clinvar_ingest_spark_")
    os.close(fd)
    with zipfile.ZipFile(zpath, "w") as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, root))
    sc.addPyFile(zpath)
    sc._clinvar_ingest_spark_shipped = True
