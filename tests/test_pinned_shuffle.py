"""The apply's bucket partitioning lives in the plan, not the session.

Both cogroup sides are placed into exactly ``min(n_buckets,
defaultParallelism)`` partitions on (``_salt``, ``_bucket``)
(``lakelet.table.place_buckets``), so the kernel stage runs that many
tasks under any ``spark.sql.shuffle.partitions`` and with AQE partition
coalescing on, and an apply never changes the session conf — also when
several engines apply on one session at once.
"""

from __future__ import annotations

from collections import Counter

import pyspark.sql.functions as F
import pytest

from clinvar_ingest_spark.engine import CdcEngine
from clinvar_ingest_spark.lakelet.table import LakeletTable
from clinvar_ingest_spark.operators.merge_cogroup import merge_apply_cogrouped
from clinvar_ingest_spark.sources.changelog import (
    ChangelogSpec,
    changelog_arrow_schema,
    generate_changelog,
)


@pytest.fixture()
def changelog_df(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = generate_changelog(
        ChangelogSpec(n_events=400, n_urls=80, n_hosts=5, seed=11)
    )
    p = str(tmp_path / "changelog.parquet")
    pq.write_table(
        pa.Table.from_pandas(
            pdf, schema=changelog_arrow_schema(), preserve_index=False
        ),
        p,
    )
    return spark.read.parquet(p)


def test_engine_apply_restores_session_conf(spark, tmp_path, changelog_df):
    # restore means "put back whatever was set BEFORE the apply", not a
    # fixed value — another test sharing the session may legitimately
    # have left a different coalescing setting
    before_parts = spark.conf.get("spark.sql.shuffle.partitions")
    before_coal = spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.enabled"
    )
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=4)
    cl = changelog_df.filter(F.col("seq") < 200)
    eng.replay(cl, batch_size=100)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before_parts
    assert (
        spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
        == before_coal
    )
    assert eng.pages().count() > 0


def test_concurrent_engine_applies_restore_conf(spark, tmp_path, changelog_df):
    """Two engines applying in parallel threads on ONE session — after
    both finish, the session conf is back to its pre-apply values."""
    import threading

    before = spark.conf.get("spark.sql.shuffle.partitions")
    before_coal = spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.enabled"
    )
    cl = changelog_df.filter(F.col("seq") < 200)
    errs = []

    def run(i):
        try:
            eng = CdcEngine(spark, str(tmp_path / f"t{i}"), n_buckets=4)
            eng.replay(cl, batch_size=100)
        except Exception as e:  # surfaced below
            errs.append(e)

    ts = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert (
        spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
        == before_coal
    )


def test_apply_runs_one_task_per_core_at_session_conf(
    spark, tmp_path, changelog_df, monkeypatch
):
    """With the session at 2 shuffle partitions and AQE coalescing on,
    the kernel stage still runs ``min(n_buckets, defaultParallelism)``
    tasks (AQE never coalesces an exchange with an explicit partition
    count), each touched bucket still comes out as exactly one data
    file, and the commit runs under the session's own shuffle
    setting."""
    conf = spark.conf
    sc = spark.sparkContext
    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.coalescePartitions.enabled",
    )
    saved = {k: conf.get(k) for k in keys}
    n_buckets = 16
    try:
        conf.set(keys[0], "2")
        conf.set(keys[1], "true")

        # called directly, outside the engine: the plan alone must
        # decide the task count
        table = LakeletTable.create(str(tmp_path / "t"), n_buckets=n_buckets)
        group = f"apply-tasks-{tmp_path.name}"
        sc.setJobGroup(group, "apply kernel stage")
        try:
            stats = merge_apply_cogrouped(spark, table, changelog_df, "b0")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        # the write job runs last; its result stage is the cogroup
        # kernel (the write is fused into it, pre-partitioned)
        write_job = tracker.getJobInfo(max(tracker.getJobIdsForGroup(group)))
        kernel_stage = tracker.getStageInfo(max(write_job.stageIds))
        assert kernel_stage.numTasks == min(n_buckets, sc.defaultParallelism) < n_buckets
        files_per_bucket = Counter(f.bucket for f in table.manifest().files)
        assert len(files_per_bucket) == stats.touched_buckets > 1
        assert set(files_per_bucket.values()) == {1}

        seen = []
        commit_rewrite = LakeletTable.commit_rewrite

        def probe(self, *a, **kw):
            seen.append(conf.get(keys[0]))
            return commit_rewrite(self, *a, **kw)

        monkeypatch.setattr(LakeletTable, "commit_rewrite", probe)
        eng = CdcEngine(spark, str(tmp_path / "e"), n_buckets=n_buckets)
        assert eng.apply_batch(changelog_df.filter(F.col("seq") < 100), 0, 99)
        assert seen == ["2"]
    finally:
        for k, v in saved.items():
            conf.set(k, v)
