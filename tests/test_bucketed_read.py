"""Every writer that starts from table rows reads them through one
bucketed read (``LakeletTable._read_bucketed``): the rows cross ONE
Exchange, a ``REPARTITION_BY_NUM`` hash partitioning on (``_salt``,
``_bucket``) into ``min(len(buckets), defaultParallelism)`` tasks, and
merge-on-read deltas are LWW-resolved after it by a window on
(``_salt``, ``_bucket``, key) that this partitioning already satisfies.

Checked on an uncompacted MOR table for the rows ``compact()`` and
``rebucket()`` commit and for the current side of a COW apply over
delta-bearing buckets. Each capture stops the operation before it
commits, so the table stays uncompacted for the next one. A delta-free
read plans no window.
"""

from __future__ import annotations

import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from clinvar_ingest_spark.engine import CdcEngine
from clinvar_ingest_spark.lakelet import maintenance
from clinvar_ingest_spark.lakelet.table import LakeletTable
from clinvar_ingest_spark.operators import merge_cogroup
from clinvar_ingest_spark.sources.changelog import (
    ChangelogSpec,
    changelog_arrow_schema,
    generate_changelog,
)


class _Captured(Exception):
    """Raised by a probe once the rows are planned: nothing commits."""


def _exchanges(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count("Exchange")


def _assert_one_bucket_exchange(df, n_buckets: int) -> None:
    """One placed Exchange over ``n_buckets`` buckets, deltas resolved."""
    k = min(n_buckets, df.sparkSession.sparkContext.defaultParallelism)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert _exchanges(df) == 1, plan
    assert "REPARTITION_BY_NUM" in plan, plan
    assert re.search(rf"hashpartitioning\(_salt#\d+, _bucket#\d+, {k}\)", plan), plan
    # the deltas are resolved, inside the shuffle
    assert "Window" in plan, plan


@pytest.fixture()
def mor(spark, tmp_path):
    pdf = generate_changelog(
        ChangelogSpec(n_events=300, n_urls=60, n_hosts=4, seed=5)
    )
    p = str(tmp_path / "changelog.parquet")
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=changelog_arrow_schema(), preserve_index=False),
        p,
    )
    cl = spark.read.parquet(p)
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=4, write_mode="mor")
    eng.replay(cl.filter("seq < 200"), batch_size=100)
    assert eng.table.delta_buckets() == [0, 1, 2, 3]
    return eng, cl


def test_writers_read_table_rows_through_one_exchange(spark, mor, monkeypatch):
    eng, cl = mor
    before = eng.state_hash(include_tombstones=True)
    seen = {}

    def capture(name, df):
        seen[name] = df
        raise _Captured(name)

    monkeypatch.setattr(
        LakeletTable, "commit_rewrite",
        lambda self, spark, rows, *a, **kw: capture("compact", rows),
    )
    with pytest.raises(_Captured):
        maintenance.compact(spark, eng.table)
    _assert_one_bucket_exchange(seen["compact"], 4)

    commit_files = LakeletTable._commit_files
    monkeypatch.setattr(
        LakeletTable, "_commit_files",
        lambda self, spark, rows, *a, **kw: capture("rebucket", rows),
    )
    with pytest.raises(_Captured):
        maintenance.rebucket(spark, eng.table, 8)
    _assert_one_bucket_exchange(seen["rebucket"], 8)
    monkeypatch.setattr(LakeletTable, "_commit_files", commit_files)

    read_bucketed = LakeletTable._read_bucketed

    def probe(self, spark, m, buckets, n_buckets):
        # the state side exactly as the cogroup receives it
        seen["cow_buckets"] = buckets
        capture("cow_current", read_bucketed(self, spark, m, buckets, n_buckets))

    monkeypatch.setattr(LakeletTable, "_read_bucketed", probe)
    with pytest.raises(_Captured):
        merge_cogroup.merge_apply_cogrouped(
            spark, eng.table, cl.filter("seq >= 200"), "cow"
        )
    _assert_one_bucket_exchange(seen["cow_current"], len(seen["cow_buckets"]))

    # nothing committed; the real rebucket keeps the resolved state
    assert eng.table.delta_buckets() == [0, 1, 2, 3]
    monkeypatch.setattr(LakeletTable, "_read_bucketed", read_bucketed)
    maintenance.rebucket(spark, eng.table, 8)
    m = eng.table.manifest()
    assert m.n_buckets == 8 and eng.table.delta_buckets() == []
    assert eng.state_hash(include_tombstones=True) == before

    # a delta-free read plans the one Exchange and no window
    rows = eng.table._read_bucketed(spark, m, [0, 1], m.n_buckets)
    plan = rows._jdf.queryExecution().executedPlan().toString()
    assert _exchanges(rows) == 1 and "Window" not in plan, plan
