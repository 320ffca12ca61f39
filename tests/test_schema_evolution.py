"""Schema evolution: add / rename / widen without data rewrite
(SURVEY.md M5; reference insulation via `content` spill, README.md:24-28,
replaced here by real evolution + name-mapping)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from clinvar_ingest_spark.lakelet.table import LakeletTable, bucket_expr, ColumnSpec

TS = dt.datetime(2024, 1, 1)


def _commit_pages(spark, table, rows, batch_id):
    # `_deleted` is backfilled False by commit_rewrite for live-row writers
    cols = [c.name for c in table.manifest().columns if c.name not in ("_deleted", "props")]
    df = spark.createDataFrame(rows, cols).withColumn(
        "warc_ts", F.col("warc_ts").cast("timestamp")
    )
    if "props" in [c.name for c in table.manifest().columns]:
        df = df.withColumn("props", F.lit(None).cast("string"))
    df = df.withColumn("_bucket", bucket_expr("url", table.manifest().n_buckets))
    buckets = [r["_bucket"] for r in df.select("_bucket").distinct().collect()]
    return table.commit_rewrite(spark, df, buckets, batch_id)


@pytest.fixture()
def table(spark, tmp_table_root):
    t = LakeletTable.create(tmp_table_root, n_buckets=4)
    _commit_pages(
        spark,
        t,
        [("u1", TS, b"<p>a</p>", "a", "en", 0), ("u2", TS, b"<p>b</p>", "b", "de", 1)],
        "b1",
    )
    return t


def test_add_column_backfills_null(spark, table):
    pre = table.current_snapshot_id()
    table.add_column("fetch_status", "int")
    df = table.read(spark)
    assert "fetch_status" in df.columns
    assert df.filter(F.col("fetch_status").isNull()).count() == 2
    # old snapshot unaffected
    assert "fetch_status" not in table.read(spark, snapshot_id=pre).columns


def test_rename_without_rewrite(spark, table):
    files_before = {f.path for f in table.manifest().files}
    table.rename_column("lang", "language")
    files_after = {f.path for f in table.manifest().files}
    assert files_before == files_after  # metadata-only: zero data rewritten
    got = {r["url"]: r["language"] for r in table.read(spark).collect()}
    assert got == {"u1": "en", "u2": "de"}


def test_rename_then_ingest_maps_old_batch_name(spark, tmp_path):
    """A changelog produced against the OLD schema (column `lang`) must
    still update the renamed table column (`language`) — the manifest's
    col-id history maps old batch names to current columns. Regression:
    before the alias map, updates silently froze the renamed column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from clinvar_ingest_spark.engine import CdcEngine
    from clinvar_ingest_spark.sources.changelog import (
        ChangelogSpec,
        changelog_arrow_schema,
        generate_changelog,
    )

    pdf = generate_changelog(ChangelogSpec(n_events=600, n_urls=100, seed=17))
    p = str(tmp_path / "cl.parquet")
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=changelog_arrow_schema(), preserve_index=False), p
    )
    cl = spark.read.parquet(p)
    for mode in ("cow", "mor"):
        eng = CdcEngine(spark, str(tmp_path / mode), n_buckets=4, write_mode=mode)
        eng.replay(cl.filter("seq < 300"), batch_size=300)
        eng.table.rename_column("lang", "language")
        eng.replay(cl, batch_size=300, from_seq=300)

        winners = (
            pdf.sort_values(["warc_ts", "seq"]).groupby("url").tail(1)
        )
        winners = winners[winners["op"] != "delete"].set_index("url")
        got = {r["url"]: r["language"] for r in eng.live().collect()}
        want = dict(winners["lang"])
        assert got == want, mode


def test_widen_without_rewrite(spark, tmp_path):
    cols = [
        ColumnSpec(1, "url", "string"),
        ColumnSpec(2, "warc_ts", "timestamp"),
        ColumnSpec(3, "hits", "int"),
    ]
    t = LakeletTable.create(str(tmp_path / "t"), cols, n_buckets=2)
    df = spark.createDataFrame([("u1", TS, 7)], ["url", "warc_ts", "hits"]).withColumn(
        "warc_ts", F.col("warc_ts").cast("timestamp")
    ).withColumn("hits", F.col("hits").cast("int")).withColumn(
        "_bucket", bucket_expr("url", 2)
    )
    b = [r["_bucket"] for r in df.select("_bucket").distinct().collect()]
    t.commit_rewrite(spark, df, b, "b1")
    files_before = {f.path for f in t.manifest().files}
    t.widen_column("hits", "long")
    assert {f.path for f in t.manifest().files} == files_before
    out = t.read(spark)
    assert dict(out.dtypes)["hits"] == "bigint"
    assert out.collect()[0]["hits"] == 7


def test_illegal_widen_rejected(table):
    with pytest.raises(ValueError):
        table.widen_column("url", "long")


def test_mixed_version_files_union(spark, table):
    """Files written before AND after evolution read as one table."""
    table.add_column("fetch_status", "int")
    # new commit under the evolved schema touches only u1's bucket
    _commit_pages(
        spark,
        table,
        [("u3", TS, b"<p>c</p>", "c", "fr", 2, 200)],
        "b2",
    )
    df = table.read(spark)
    rows = {r["url"]: (r["lang"], r["fetch_status"]) for r in df.collect()}
    assert rows["u3"] == ("fr", 200)
    # old-file rows survive with NULL backfill unless their bucket was rewritten
    assert set(rows) >= {"u3"}
    vers = {f.schema_version for f in table.manifest().files}
    assert 2 in vers and vers <= {1, 2}


def test_rename_then_continue_writing(spark, table):
    table.rename_column("lang", "language")
    _commit_pages(spark, table, [("u9", TS, b"<p>z</p>", "z", "it", 9)], "b3")
    got = {r["url"]: r["language"] for r in table.read(spark).collect()}
    assert got.get("u9") == "it"
    # evolved-version files present, all readable
    vers = {f.schema_version for f in table.manifest().files}
    assert 2 in vers and vers <= {1, 2}


def test_diff_across_evolution_is_rename_insensitive(spark, table, tmp_path):
    """diff_snapshots between snapshots that straddle a rename must map
    columns by col_id — a pure rename is NOT an update (caught by the
    /verify drive; reference diff compares same-named columns only
    because its schema never renames, diff.py:59-69)."""
    from clinvar_ingest_spark.engine import CdcEngine

    eng = CdcEngine.__new__(CdcEngine)
    eng.spark = spark
    eng.table = table
    pre = table.current_snapshot_id()
    table.add_column("fetch_status", "int")
    table.rename_column("lang", "language")
    post = table.current_snapshot_id()
    d = eng.diff_snapshots(pre, post)
    assert d.count() == 0  # metadata-only commits: no row changed


def test_state_hash_schema_driven_after_rename(spark, tmp_path):
    """maintain.py regression (round-3 ADVICE): state_hash derives its
    columns from the manifest, so a renamed table hashes instead of
    crashing on hardcoded names — and a pure rename leaves the live
    content hash UNCHANGED (same col_ids, same values)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from clinvar_ingest_spark.engine import CdcEngine
    from clinvar_ingest_spark.sources.changelog import (
        ChangelogSpec,
        changelog_arrow_schema,
        generate_changelog,
    )

    pdf = generate_changelog(ChangelogSpec(n_events=400, n_urls=80, seed=55))
    p = str(tmp_path / "cl.parquet")
    pq.write_table(
        pa.Table.from_pandas(
            pdf, schema=changelog_arrow_schema(), preserve_index=False
        ),
        p,
    )
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=4)
    eng.replay(spark.read.parquet(p), batch_size=400)
    before = eng.state_hash()
    eng.table.rename_column("lang", "language")
    assert eng.state_hash() == before  # col-id mapping, not name-based
    eng.table.add_column("fetch_status", "int")
    after_add = eng.state_hash()
    assert after_add != before  # NULL column participates (coalesced token)
