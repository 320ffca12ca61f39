"""The placement rule of every bucket-parallel stage
(``lakelet.table.place_buckets``): a stage's buckets go onto ``k =
min(len(buckets), defaultParallelism)`` tasks, the i-th bucket of the
sorted list in task ``i % k``, so the tasks hold ``len(buckets) / k``
buckets ±1 and every bucket lands whole in one task.

The driver picks each bucket's salt with a Murmur3 twin of Spark's
``hash``, so the twin must agree with the JVM bit for bit.
"""

from __future__ import annotations

from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from clinvar_ingest_spark.engine import CdcEngine
from clinvar_ingest_spark.functions.xhash import murmur3_ints
from clinvar_ingest_spark.lakelet.table import LakeletTable, bucket_salts
from clinvar_ingest_spark.operators import merge
from clinvar_ingest_spark.operators.merge_cogroup import _merge_plan, _project_batch
from clinvar_ingest_spark.sources.changelog import (
    ChangelogSpec,
    changelog_arrow_schema,
    generate_changelog,
)


class _Captured(Exception):
    """Raised by a probe once the rows are planned: nothing commits."""


def _exchanges(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count("Exchange")


def test_murmur3_twin_equals_spark_hash(spark):
    df = spark.range(-1025, 1025).select(
        F.col("id").cast("int").alias("a"),
        (F.col("id") * 7919 % 65537).cast("int").alias("b"),
    ).withColumn("b", F.when(F.col("a") % 97 != 0, F.col("b")))
    df = df.unionByName(spark.createDataFrame(
        [(-(2**31), 2**31 - 1), (2**31 - 1, -(2**31))], "a int, b int"
    ))
    rows = df.select("a", "b", F.hash("a").alias("h1"), F.hash("a", "b").alias("h2")).collect()
    assert len(rows) == 2052
    for r in rows:
        assert murmur3_ints([r["a"]]) == r["h1"], r
        assert murmur3_ints([r["a"], r["b"]]) == r["h2"], r


@pytest.mark.parametrize("n_buckets", [1, 3, 16, 64, 1024])
@pytest.mark.parametrize("parallelism", [1, 2, 3, 4, 8])
def test_placement_balances_buckets_over_tasks(n_buckets, parallelism):
    k = min(n_buckets, parallelism)
    salts = bucket_salts(range(n_buckets), k)
    per_task = Counter(murmur3_ints((salts[b], b)) % k for b in range(n_buckets))
    assert len(per_task) == k
    assert max(per_task.values()) - min(per_task.values()) <= 1


@pytest.fixture()
def changelog(spark, tmp_path):
    pdf = generate_changelog(ChangelogSpec(n_events=600, n_urls=120, n_hosts=5, seed=3))
    p = str(tmp_path / "changelog.parquet")
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=changelog_arrow_schema(), preserve_index=False),
        p,
    )
    return spark.read.parquet(p)


def test_cogroup_places_each_bucket_in_one_task(spark, tmp_path, changelog):
    n_buckets = 16
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=n_buckets)
    eng.replay(changelog.filter("seq < 300"), batch_size=300)
    table, m = eng.table, eng.table.manifest()
    buckets = list(range(n_buckets))
    b, _ = _project_batch(m, changelog.filter("seq >= 300"))
    rows, _ = _merge_plan(spark, m, b, buckets, table._read_bucketed(spark, m, buckets, n_buckets))
    # one placed Exchange per cogroup side, none after them
    assert _exchanges(rows) == 2
    placed = rows.select("_bucket", F.spark_partition_id().alias("task")).distinct().collect()
    task_of = {}
    for r in placed:
        assert task_of.setdefault(r["_bucket"], r["task"]) == r["task"], r
    assert set(task_of) == set(buckets)
    k = min(n_buckets, spark.sparkContext.defaultParallelism)
    per_task = Counter(task_of.values())
    assert len(per_task) == k
    assert max(per_task.values()) - min(per_task.values()) <= 1


def test_mor_apply_plans_one_exchange(spark, tmp_path, changelog, monkeypatch):
    """The merge-on-read apply has no current side to shuffle: the
    batch's placement is the plan's only Exchange."""
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=8, write_mode="mor")
    seen = {}

    def capture(self, spark, rows, *a, **kw):
        seen["rows"] = rows
        raise _Captured

    monkeypatch.setattr(LakeletTable, "commit_delta", capture)
    with pytest.raises(_Captured):
        merge.merge_apply_mor(spark, eng.table, changelog, "b0")
    plan = seen["rows"]._jdf.queryExecution().executedPlan().toString()
    assert _exchanges(seen["rows"]) == 1, plan
    assert "REPARTITION_BY_NUM" in plan, plan
