"""Dead-letter (quarantine) routing.

The reference aborts the whole ingest run on a malformed record
(ingest-xml-archive.yaml's repair path exists because failed runs
leave partial state); at stream scale the engine must instead route
poison events aside and keep applying. Contract under test: rule
precedence, exclusion from the merge (final state equals a replay of
the pre-filtered changelog), and idempotency under re-delivery —
quarantine is inside the exactly-once envelope.
"""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from clinvar_ingest_spark.engine import CdcEngine
from clinvar_ingest_spark.operators.validate import ValidationRule, default_rules
from clinvar_ingest_spark.sources.changelog import (
    ChangelogSpec,
    changelog_arrow_schema,
    generate_changelog,
)


@pytest.fixture(scope="module")
def clean_path(spark, tmp_path_factory):
    pdf = generate_changelog(ChangelogSpec(n_events=1200, n_urls=150, seed=77))
    p = str(tmp_path_factory.mktemp("vcl") / "changelog.parquet")
    pq.write_table(
        pa.Table.from_pandas(
            pdf, schema=changelog_arrow_schema(), preserve_index=False
        ),
        p,
    )
    return p


def _poison(df):
    """Deterministic faults on disjoint-by-precedence seq classes; an
    event can match several rules (seq 13 mod both) — precedence must
    count it once."""
    return (
        df.withColumn(
            "url",
            F.when(F.col("seq") % 97 == 13, F.lit(None)).otherwise(F.col("url")),
        )
        .withColumn(
            "warc_ts",
            F.when(F.col("seq") % 101 == 7, F.lit(None)).otherwise(
                F.col("warc_ts")
            ),
        )
        .withColumn(
            "op",
            F.when(F.col("seq") % 89 == 11, F.lit("noop")).otherwise(F.col("op")),
        )
    )


def test_routing_and_exclusion(spark, clean_path, tmp_path):
    cl = spark.read.parquet(clean_path)
    poisoned = _poison(cl)
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=4, validate=True)
    eng.replay(poisoned, batch_size=400)
    q = eng.quarantined()
    assert q is not None
    got = {r["reason"]: r["n"] for r in
           q.groupBy("reason").agg(F.count("*").alias("n")).collect()}
    exp = {
        "null_key": poisoned.filter("url IS NULL").count(),
        "null_ts": poisoned.filter(
            "url IS NOT NULL AND warc_ts IS NULL").count(),
        "bad_op": poisoned.filter(
            "url IS NOT NULL AND warc_ts IS NOT NULL AND op = 'noop'"
        ).count(),
    }
    assert got == {k: v for k, v in exp.items() if v > 0}
    # lineage carries the count, events exclude it
    recs = eng.ledger.all_records()
    assert sum(r["n_quarantined"] for r in recs) == q.count()
    assert sum(r["n_events"] for r in recs) == poisoned.count() - q.count()
    # final state == replaying only the valid rows with validation off
    ref = CdcEngine(spark, str(tmp_path / "ref"), n_buckets=4)
    valid = poisoned.filter(
        "url IS NOT NULL AND warc_ts IS NOT NULL AND op <> 'noop'"
    )
    ref.replay(valid, batch_size=400)
    assert eng.state_hash() == ref.state_hash()


def test_idempotent_under_redelivery(spark, clean_path, tmp_path):
    cl = _poison(spark.read.parquet(clean_path))
    root = str(tmp_path / "t")
    eng = CdcEngine(spark, root, n_buckets=4, validate=True)
    eng.replay(cl, batch_size=400)
    n1 = eng.quarantined().count()
    h1 = eng.state_hash()
    # full re-delivery on a fresh engine over the same root: every
    # batch no-ops via the ledger, quarantine must not grow
    eng2 = CdcEngine(spark, root, n_buckets=4, validate=True)
    assert eng2.replay(cl, batch_size=400, from_seq=0) == []
    assert eng2.quarantined().count() == n1
    assert eng2.state_hash() == h1


def test_custom_rules_and_clean_stream(spark, clean_path, tmp_path):
    cl = spark.read.parquet(clean_path)
    # custom rule: quarantine a whole host (e.g. a blocked domain)
    rules = default_rules() + [
        ValidationRule("blocked_host", "url LIKE '%host001%'")
    ]
    eng = CdcEngine(
        spark, str(tmp_path / "t"), n_buckets=4, validate=rules
    )
    eng.replay(cl, batch_size=1200)
    q = eng.quarantined()
    n_blocked = cl.filter("url LIKE '%host001%'").count()
    assert n_blocked > 0
    assert q.filter("reason = 'blocked_host'").count() == n_blocked
    assert eng.live().filter("url LIKE '%host001%'").count() == 0
    # a clean stream with validation on quarantines nothing
    clean = CdcEngine(
        spark, str(tmp_path / "c"), n_buckets=4, validate=True
    )
    clean.replay(cl, batch_size=1200)
    assert (clean.quarantined() is None
            or clean.quarantined().count() == 0)
    # and validation-off engines expose no quarantine surface
    off = CdcEngine(spark, str(tmp_path / "o"), n_buckets=4)
    off.replay(cl, batch_size=1200)
    assert off.quarantined() is None


@pytest.mark.parametrize(
    "kw", [{}, {"write_mode": "mor"}, {"patch_ops": True}], ids=["cow", "mor", "cells"]
)
def test_null_key_refused_without_validation(spark, clean_path, tmp_path, kw):
    """Without validation a NULL-key event must not commit: its bucket
    is NULL (Spark's xxhash64(NULL) is the seed, so an unguarded hash
    would file it under bucket 42 % n), and the commit refuses the
    NULL partition before promoting a file."""
    cl = spark.read.parquet(clean_path)
    root = str(tmp_path / "t")
    eng = CdcEngine(spark, root, n_buckets=4, **kw)
    eng.apply_batch(cl.filter("seq < 400"), 0, 399)
    before = eng.table.current_snapshot_id()
    poisoned = cl.filter("seq >= 400 AND seq < 800").withColumn(
        "url",
        F.when(F.col("seq").isin(450, 451), F.lit(None)).otherwise(F.col("url")),
    )
    with pytest.raises(ValueError, match="NULL partition key"):
        eng.apply_batch(poisoned, 400, 799)
    assert eng.table.current_snapshot_id() == before
    assert glob.glob(os.path.join(root, "_staging-*")) == []
    assert eng.read().filter("url IS NULL").count() == 0
