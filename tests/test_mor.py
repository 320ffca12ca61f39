"""Merge-on-read (MOR) write mode: delta-file applies, read-time LWW
resolution, compaction folds — logical state A/B-identical to COW.

The COW/MOR pair re-expresses Iceberg v2's copy-on-write vs
merge-on-read table modes for the LWW row model: a delta ROW carries a
full row version (or tombstone), readers collapse base+delta stacks by
the same (warc_ts, _seq) order the COW classifier uses, and compaction
is exactly a COW rewrite of the delta-bearing buckets.
"""

from datetime import datetime

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from clinvar_ingest_spark.engine import CdcEngine
from clinvar_ingest_spark.sources.changelog import (
    ChangelogSpec,
    changelog_arrow_schema,
    generate_changelog,
)


@pytest.fixture(scope="module")
def changelog_pdf():
    return generate_changelog(
        ChangelogSpec(n_events=2000, n_urls=300, n_hosts=8, seed=21)
    )


@pytest.fixture()
def changelog_df(spark, changelog_pdf, tmp_path):
    p = str(tmp_path / "changelog.parquet")
    pq.write_table(
        pa.Table.from_pandas(
            changelog_pdf, schema=changelog_arrow_schema(), preserve_index=False
        ),
        p,
    )
    return spark.read.parquet(p)


def _pages_pdf(eng: CdcEngine) -> pd.DataFrame:
    out = eng.pages().toPandas()
    out["html"] = out["html"].map(lambda b: bytes(b) if b is not None else None)
    return out.sort_values("url").reset_index(drop=True)


def test_mor_matches_cow_state(spark, changelog_df, tmp_path):
    cow = CdcEngine(spark, str(tmp_path / "cow"), n_buckets=8)
    mor = CdcEngine(spark, str(tmp_path / "mor"), n_buckets=8, write_mode="mor")
    cow.replay(changelog_df, batch_size=500)
    mor.replay(changelog_df, batch_size=500)
    # every apply was a delta append — no bucket was ever rewritten
    assert mor.table.delta_buckets(), "expected unresolved delta files"
    modes = {r["mode"] for r in mor.ledger.all_records()}
    assert modes == {"mor"}
    # full physical frontier (live + tombstones with LWW position)
    assert mor.state_hash(include_tombstones=True) == cow.state_hash(
        include_tombstones=True
    )
    pd.testing.assert_frame_equal(_pages_pdf(mor), _pages_pdf(cow))


def test_mor_compaction_invariant(spark, changelog_df, tmp_path):
    mor = CdcEngine(spark, str(tmp_path / "mor"), n_buckets=8, write_mode="mor")
    mor.replay(changelog_df, batch_size=500)
    before = mor.state_hash(include_tombstones=True)
    assert mor.table.delta_buckets()
    sid = mor.compact()
    assert sid is not None
    assert mor.table.delta_buckets() == []
    assert mor.state_hash(include_tombstones=True) == before
    # compacted buckets are back to one base file each
    m = mor.table.manifest()
    per_bucket: dict[int, int] = {}
    for f in m.files:
        assert f.kind == "base"
        per_bucket[f.bucket] = per_bucket.get(f.bucket, 0) + 1
    assert all(n == 1 for n in per_bucket.values())
    # compaction of a compacted table is a no-op
    assert mor.compact() is None


def test_mor_compact_every_cadence(spark, changelog_df, tmp_path):
    cow = CdcEngine(spark, str(tmp_path / "cow"), n_buckets=8)
    mor = CdcEngine(spark, str(tmp_path / "mor"), n_buckets=8, write_mode="mor")
    cow.replay(changelog_df, batch_size=500)
    mor.replay(changelog_df, batch_size=500, compact_every=2)
    # replay ends compacted, and state matches COW exactly
    assert mor.table.delta_buckets() == []
    assert mor.state_hash(include_tombstones=True) == cow.state_hash(
        include_tombstones=True
    )


def test_mor_exactly_once_redelivery(spark, changelog_df, tmp_path):
    mor = CdcEngine(spark, str(tmp_path / "mor"), n_buckets=8, write_mode="mor")
    first = changelog_df.filter("seq < 500")
    s1 = mor.apply_batch(first, 0, 499)
    assert s1 is not None and s1.mode == "mor"
    sid = mor.table.manifest().snapshot_id
    # redelivery: ledger short-circuit, no second delta commit
    assert mor.apply_batch(first, 0, 499) is None
    assert mor.table.manifest().snapshot_id == sid


def test_mor_no_resurrection_after_delete(spark, tmp_path):
    """A late update (older LWW position) delivered after a delete must
    lose the read-time resolution, exactly like COW's tombstone guard."""
    schema = (
        "seq long, op string, url string, warc_ts timestamp, html binary, "
        "lang string, extra string"
    )

    def batch(rows):
        return spark.createDataFrame(rows, schema=schema)

    mor = CdcEngine(spark, str(tmp_path / "mor"), n_buckets=4, write_mode="mor")
    u = "https://ex.com/a"
    t = datetime.fromisoformat
    mor.apply_batch(
        batch([(0, "insert", u, t("2026-01-01 10:00:00"), b"<p>v1</p>", "en", None)]),
        0, 0,
    )
    mor.apply_batch(
        batch([(1, "delete", u, t("2026-01-03 10:00:00"), None, None, None)]), 1, 1
    )
    # late event: newer seq but OLDER warc_ts than the delete
    mor.apply_batch(
        batch([(2, "update", u, t("2026-01-02 10:00:00"), b"<p>v2</p>", "en", None)]),
        2, 2,
    )
    # every apply above must have taken the delta path, not a fallback
    assert {r["mode"] for r in mor.ledger.all_records()} == {"mor"}
    assert mor.pages().count() == 0
    assert mor.lookup(u).count() == 0
    # the winner in the physical frontier is the tombstone
    raw = mor.read().filter(f"url = '{u}'").collect()
    assert len(raw) == 1 and raw[0]["_deleted"] is True


def test_mor_lineage_counts_touched_buckets_and_winners(spark, tmp_path):
    """A MOR batch's lineage names the buckets it wrote deltas into —
    not the whole table, even with the all-buckets hint on — and counts
    its live and deleted LWW winners."""
    from pyspark.sql import functions as F

    from clinvar_ingest_spark.lakelet.table import bucket_expr

    t = datetime.fromisoformat
    rows = [
        (0, "insert", "https://a.ex/1", t("2026-01-01 10:00:00"), b"<p>a</p>", "en", None),
        (1, "update", "https://a.ex/1", t("2026-01-02 10:00:00"), b"<p>a2</p>", "en", None),
        (2, "insert", "https://b.ex/2", t("2026-01-01 10:00:00"), b"<p>b</p>", "en", None),
        (3, "delete", "https://b.ex/2", t("2026-01-03 10:00:00"), None, None, None),
        (4, "delete", "https://c.ex/3", t("2026-01-01 10:00:00"), None, None, None),
        # older warc_ts than the delete above: the delete still wins
        (5, "insert", "https://c.ex/3", t("2025-12-31 10:00:00"), b"<p>c</p>", "en", None),
    ]
    batch = spark.createDataFrame(
        rows,
        schema="seq long, op string, url string, warc_ts timestamp, "
        "html binary, lang string, extra string",
    )
    winners: dict = {}
    for seq, op, url, ts, *_ in rows:
        if url not in winners or (ts, seq) > winners[url][:2]:
            winners[url] = (ts, seq, op)
    n_deleted = sum(op == "delete" for _, _, op in winners.values())

    mor = CdcEngine(spark, str(tmp_path / "mor"), n_buckets=16, write_mode="mor")
    st = mor.apply_batch(batch, 0, 5, assume_all_buckets=True)
    assert st is not None and st.mode == "mor"

    batch_buckets = {
        r["_b"]
        for r in batch.select(bucket_expr("url", 16).alias("_b")).distinct().collect()
    }
    delta_buckets = {f.bucket for f in mor.table.manifest().files if f.kind == "delta"}
    assert delta_buckets == batch_buckets
    (rec,) = mor.ledger.all_records()
    assert rec["mode"] == "mor"
    assert rec["touched_buckets"] == len(batch_buckets) < 16
    assert rec["n_upserts"] == len(winners) - n_deleted == 1
    assert rec["n_deletes"] == n_deleted == 2
    assert (rec["n_inserts"], rec["n_updates"]) == (0, 0)
    assert mor.read().filter(F.col("_deleted")).count() == n_deleted


def test_mor_ts_window_read_never_resurrects(spark, tmp_path):
    """File-stat ts pruning is disabled for delta-bearing buckets: a
    window that would skip the delta file holding the LWW winner must
    not present the superseded base version as current."""
    schema = (
        "seq long, op string, url string, warc_ts timestamp, html binary, "
        "lang string, extra string"
    )
    t = datetime.fromisoformat
    mor = CdcEngine(spark, str(tmp_path / "mor"), n_buckets=2, write_mode="mor")
    u = "https://ex.com/a"
    mor.apply_batch(
        spark.createDataFrame(
            [(0, "insert", u, t("2026-01-01 00:00:00"), b"<p>old</p>", "en", None)],
            schema=schema,
        ), 0, 0,
    )
    mor.compact()  # old version is now a base file
    mor.apply_batch(
        spark.createDataFrame(
            [(1, "update", u, t("2026-06-01 00:00:00"), b"<p>new</p>", "en", None)],
            schema=schema,
        ), 1, 1,
    )
    assert mor.table.delta_buckets(), "update must be a delta commit"
    # window ending before the update: the advisory prune may return
    # extra rows but must NOT return the stale version as the winner
    rows = mor.table.read(spark, ts_not_after="2026-02-01 00:00:00").filter(
        f"url = '{u}'"
    ).collect()
    assert len(rows) == 1
    assert bytes(rows[0]["html"]) == b"<p>new</p>"


def test_mor_ts_window_prune_respects_legacy_spec_deltas(spark, tmp_path):
    """Spec growth composes with the delta-bucket prune guard: after
    grow_buckets, base files live in LEGACY bucket space while new
    deltas land under the CURRENT spec. Matching them by raw bucket
    equality would let the ts-window prune drop a legacy base file
    whose current bucket DOES carry deltas — resurrecting a deleted key
    inside the caller's row-filtered window (the advisory extra-rows
    contract cannot save the caller from a wrong LWW winner)."""
    from pyspark.sql import functions as F

    from clinvar_ingest_spark.lakelet.table import bucket_expr

    schema = (
        "seq long, op string, url string, warc_ts timestamp, html binary, "
        "lang string, extra string"
    )
    t = datetime.fromisoformat
    mor = CdcEngine(spark, str(tmp_path / "m"), n_buckets=4, write_mode="mor")
    # pick a url whose CURRENT-spec (8) bucket differs numerically from
    # its legacy (4) bucket, so raw-equality matching cannot succeed
    cands = spark.createDataFrame(
        [(f"https://ex.com/p{i}",) for i in range(64)], "url string"
    ).select("url", bucket_expr("url", 8).alias("b8")).collect()
    u = next(r["url"] for r in cands if r["b8"] >= 4)

    mor.apply_batch(
        spark.createDataFrame(
            [(0, "insert", u, t("2026-01-01 00:00:00"), b"<p>v1</p>", "en", None)],
            schema=schema,
        ), 0, 0,
    )
    mor.apply_batch(
        spark.createDataFrame(
            [(1, "delete", u, t("2026-01-04 00:00:00"), None, None, None)],
            schema=schema,
        ), 1, 1,
    )
    mor.compact()  # tombstone (the LWW winner) is now a base file
    mor.table.grow_buckets(8)  # base restamped spec_n=4 (legacy)
    # late out-of-order insert AFTER the grow: delta under the new spec
    mor.apply_batch(
        spark.createDataFrame(
            [(2, "update", u, t("2026-01-02 00:00:00"), b"<p>late</p>", "en", None)],
            schema=schema,
        ), 2, 2,
    )
    assert mor.table.delta_buckets(), "late update must be a delta commit"

    # the key is deleted (Jan 4 tombstone beats the Jan 2 late event) —
    # it must be absent from EVERY window, including one whose file
    # prune would drop the legacy base file under raw-bucket matching
    rows = (
        mor.table.read(spark, ts_not_after="2026-01-03 00:00:00")
        .filter(F.col("url") == u)
        .filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
        .filter(F.col("warc_ts") <= t("2026-01-03 00:00:00"))
        .collect()
    )
    assert rows == [], f"deleted key resurrected in ts window: {rows}"
    assert mor.pages().filter(F.col("url") == u).count() == 0


def test_mor_evolution_fallback_carryover(spark, changelog_df, tmp_path):
    """After add_column, batches that don't speak the new column need
    COW carry-over — the engine must fall back per batch and reconverge
    to the same state a pure-COW engine reaches."""
    cow = CdcEngine(spark, str(tmp_path / "cow"), n_buckets=8)
    mor = CdcEngine(spark, str(tmp_path / "mor"), n_buckets=8, write_mode="mor")
    first = changelog_df.filter("seq < 1000")
    rest = changelog_df.filter("seq >= 1000")
    for eng in (cow, mor):
        eng.replay(first, batch_size=500)
        eng.table.add_column("crawl_tier", "string", batch_id="add:crawl_tier")
        eng.replay(rest, batch_size=500, from_seq=1000)
    # the post-evolution batches fell back to COW (carry-over required)
    post = [r for r in mor.ledger.all_records() if int(r["first_seq"]) >= 1000]
    assert post and all(r["mode"] == "cow" for r in post)
    pre = [r for r in mor.ledger.all_records() if int(r["first_seq"]) < 1000]
    assert pre and all(r["mode"] == "mor" for r in pre)
    assert mor.state_hash(include_tombstones=True) == cow.state_hash(
        include_tombstones=True
    )


def test_mor_lookup_and_diff_resolve(spark, changelog_df, tmp_path):
    """Point lookups and snapshot diffs read through the resolution
    layer: one row per key, classified against resolved states."""
    cow = CdcEngine(spark, str(tmp_path / "cow"), n_buckets=8)
    mor = CdcEngine(spark, str(tmp_path / "mor"), n_buckets=8, write_mode="mor")
    cow.replay(changelog_df, batch_size=1000)
    mor.replay(changelog_df, batch_size=1000)
    some_url = mor.pages().select("url").orderBy("url").first()["url"]
    got = mor.lookup(some_url).collect()
    assert len(got) == 1

    hist_m, hist_c = mor.table.history(), cow.table.history()
    dm = (
        mor.diff_snapshots(hist_m[1], hist_m[-1])
        .groupBy("_change").count().orderBy("_change").collect()
    )
    dc = (
        cow.diff_snapshots(hist_c[1], hist_c[-1])
        .groupBy("_change").count().orderBy("_change").collect()
    )
    assert [(r["_change"], r["count"]) for r in dm] == [
        (r["_change"], r["count"]) for r in dc
    ]


def test_compact_noop_on_pure_cow(spark, changelog_df, tmp_path):
    cow = CdcEngine(spark, str(tmp_path / "cow"), n_buckets=8)
    cow.replay(changelog_df, batch_size=1000)
    assert cow.table.delta_buckets() == []
    assert cow.compact() is None


def test_purge_tombstones_folds_deltas(spark, changelog_df, tmp_path):
    """Maintenance rewrites go through the resolved read + whole-bucket
    COW replace, so they fold delta stacks in passing."""
    from clinvar_ingest_spark.lakelet.maintenance import purge_tombstones

    mor = CdcEngine(spark, str(tmp_path / "mor"), n_buckets=8, write_mode="mor")
    mor.replay(changelog_df, batch_size=500)
    live_before = mor.state_hash()  # live rows only
    purge_tombstones(spark, mor.table, older_than="2030-01-01T00:00:00")
    assert mor.state_hash() == live_before
    # purged buckets lost their deltas (rewritten); others may retain
    m = mor.table.manifest()
    purged = {f.bucket for f in m.files if f.kind == "base"}
    for f in m.files:
        if f.bucket in purged and f.kind == "delta":
            # a bucket that was COW-rewritten must carry no stale delta
            raise AssertionError(f"bucket {f.bucket} kept a delta after purge")
