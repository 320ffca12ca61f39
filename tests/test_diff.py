"""Diff classification vs the reference's created/updated/deleted
semantics (docker/diff/diff.py:117-182), incl. the NULL-safe fix."""

import pytest

from clinvar_ingest_spark.operators.diff import (
    created_rows,
    deleted_rows,
    diff_all,
    updated_rows,
)

COLS = ["id", "val", "tag"]


@pytest.fixture()
def states(spark):
    old = spark.createDataFrame(
        [(1, "a", "t1"), (2, "b", None), (3, "c", "t3"), (4, "d", "t4")], COLS
    )
    new = spark.createDataFrame(
        [
            (1, "a", "t1"),      # unchanged
            (2, "b", "t2"),      # NULL→value (only null-safe sees it)
            (3, "c2", "t3"),     # value change
            (5, "e", "t5"),      # created
        ],
        COLS,
    )
    return old, new


def test_created(states):
    old, new = states
    assert {r["id"] for r in created_rows(new, old, ["id"]).collect()} == {5}


def test_deleted(states):
    old, new = states
    assert {r["id"] for r in deleted_rows(new, old, ["id"]).collect()} == {4}


def test_updated_null_safe(states):
    old, new = states
    assert {r["id"] for r in updated_rows(new, old, ["id"]).collect()} == {2, 3}


def test_updated_reference_parity_drops_null_flips(states):
    old, new = states
    # bug-for-bug reference mode: BigQuery `!=` is NULL-blind (diff.py:148-152)
    got = {r["id"] for r in updated_rows(new, old, ["id"], null_safe=False).collect()}
    assert got == {3}


def test_updated_rows_of_one_dataframe(spark):
    """Two states derived from one DataFrame share column lineage; the
    join must still tell the sides apart (diff_all does, by aliasing)."""
    from pyspark.sql import functions as F

    base = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], ["k", "v"])
    new = base.withColumn("v", F.col("v") * 10)
    got = {(r["k"], r["v"]) for r in updated_rows(new, base, ["k"]).collect()}
    assert got == {(1, 10), (2, 20), (3, 30)}
    assert {(r["k"], r["v"]) for r in diff_all(new, base, ["k"]).collect()} == got


def test_diff_all_single_join(states):
    old, new = states
    out = {(r["id"], r["_change"]) for r in diff_all(new, old, ["id"]).collect()}
    assert out == {(5, "created"), (4, "deleted"), (2, "updated"), (3, "updated")}


def test_diff_all_array_columns(spark):
    old = spark.createDataFrame([(1, ["x", "y"]), (2, ["a"])], ["id", "arr"])
    new = spark.createDataFrame([(1, ["x", "y"]), (2, ["a", "b"])], ["id", "arr"])
    out = {(r["id"], r["_change"]) for r in diff_all(new, old, ["id"]).collect()}
    assert out == {(2, "updated")}


def test_diff_all_composite_keys(spark):
    # composite PKs per reference diff.py:122-129 (gene_association etc.)
    old = spark.createDataFrame([(1, 10, "a"), (1, 11, "b")], ["k1", "k2", "v"])
    new = spark.createDataFrame([(1, 10, "a2"), (2, 10, "c")], ["k1", "k2", "v"])
    out = {
        (r["k1"], r["k2"], r["_change"])
        for r in diff_all(new, old, ["k1", "k2"]).collect()
    }
    assert out == {(1, 10, "updated"), (1, 11, "deleted"), (2, 10, "created")}


def test_diff_changelog_retract_kinds(states):
    from clinvar_ingest_spark.operators.diff import diff_changelog

    old, new = states
    out = {
        (r["id"], r["_change_type"], r["val"], r["tag"])
        for r in diff_changelog(new, old, ["id"]).collect()
    }
    kinds = {}
    for i, k, *_ in out:
        kinds.setdefault(k, set()).add(i)
    # fixture: id 5 created, id 4 deleted, ids 2 & 3 updated
    assert kinds["insert"] == {5}
    assert kinds["delete"] == {4}
    assert kinds["update_before"] == {2, 3}
    assert kinds["update_after"] == {2, 3}
    # images carry the right side: before = old values, after = new
    assert (2, "update_before", "b", None) in out
    assert (2, "update_after", "b", "t2") in out
    assert (3, "update_before", "c", "t3") in out
    assert (3, "update_after", "c2", "t3") in out
    assert (5, "insert", "e", "t5") in out
    assert (4, "delete", "d", "t4") in out


def test_changelog_view_folds_aggregate_exactly(spark, tmp_path):
    """The retract contract: folding the feed (+after/insert, -before/
    delete) into an aggregate of the OLD state yields the NEW state's
    aggregate exactly — the mechanism that keeps downstream rollups
    correct under updates without rereading the table."""
    from pyspark.sql import functions as F

    from clinvar_ingest_spark.engine import CdcEngine
    from clinvar_ingest_spark.sources.changelog import (
        ChangelogSpec,
        generate_changelog,
        write_changelog_parquet,
    )

    p = str(tmp_path / "cl.parquet")
    write_changelog_parquet(
        generate_changelog(ChangelogSpec(n_events=2000, n_urls=300, seed=7)), p
    )
    cl = spark.read.parquet(p)
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=8)
    eng.replay(cl.filter("seq < 1000"), batch_size=1000)
    half = eng.table.current_snapshot_id()
    eng.replay(cl, batch_size=1000)
    head = eng.table.current_snapshot_id()

    def agg(df):
        return {
            r["lang"]: r["n"]
            for r in df.groupBy("lang").agg(F.count("*").alias("n")).collect()
        }

    old_agg = agg(eng.live(half))
    new_agg = agg(eng.live(head))
    feed = eng.changelog_view(half, head)
    delta = {
        r["lang"]: r["d"]
        for r in feed.groupBy("lang")
        .agg(
            F.sum(
                F.when(
                    F.col("_change_type").isin("insert", "update_after"), 1
                ).otherwise(-1)
            ).alias("d")
        )
        .collect()
    }
    folded = dict(old_agg)
    for lang, d in delta.items():
        folded[lang] = folded.get(lang, 0) + d
    folded = {k: v for k, v in folded.items() if v != 0}
    assert folded == new_agg
