"""Partition-spec evolution: grow the bucket count WITHOUT rewriting
data (Iceberg evolve-partition-spec re-expressed for hash buckets).

`grow_buckets(k*n)` is a metadata-only commit: existing files keep
their old-spec bucket ids (restamped with explicit spec_n), new writes
land under the new spec, reads plan across both (a key in current
bucket b lives in a legacy-spec-s file at bucket b % s), and merges /
compactions migrate legacy files lazily via `rewrite_closure`. At
100 TB this is how hash partitioning survives 100x growth — a rebucket
rewrite of the whole table is the alternative.
"""

from __future__ import annotations

import os

import pytest

from clinvar_ingest_spark.engine import CdcEngine
from clinvar_ingest_spark.lakelet.maintenance import purge_tombstones
from clinvar_ingest_spark.lakelet.table import LakeletTable
from clinvar_ingest_spark.sources.changelog import (
    ChangelogSpec,
    generate_changelog,
    write_changelog_parquet,
)


@pytest.fixture(scope="module")
def changelog_path(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("spec_cl") / "changelog.parquet")
    write_changelog_parquet(
        generate_changelog(
            ChangelogSpec(n_events=4000, n_urls=500, n_hosts=8, seed=31)
        ),
        p,
    )
    return p


def _legacy_files(t: LakeletTable):
    m = t.manifest()
    return [f for f in m.files if (f.spec_n or m.n_buckets) != m.n_buckets]


def test_grow_is_metadata_only_and_state_invariant(spark, changelog_path, tmp_path):
    cl = spark.read.parquet(changelog_path)
    root = str(tmp_path / "t")
    eng = CdcEngine(spark, root, n_buckets=16)
    eng.replay(cl.filter("seq < 2000"), batch_size=2000)
    t = eng.table
    h = eng.state_hash()
    paths_before = sorted(f.path for f in t.manifest().files)
    sid = t.grow_buckets(32)
    m = t.manifest()
    assert m.n_buckets == 32
    # zero data movement: the same physical files, now marked legacy
    assert sorted(f.path for f in m.files) == paths_before
    assert all(f.spec_n == 16 for f in m.files)
    assert eng.state_hash() == h
    # idempotent: re-running lands on the same snapshot
    assert t.grow_buckets(32, batch_id=m.batch_id) == sid
    # invalid resizes point at rebucket
    with pytest.raises(ValueError):
        t.grow_buckets(8)
    with pytest.raises(ValueError):
        t.grow_buckets(48)


def test_replay_across_grow_matches_single_spec(spark, changelog_path, tmp_path):
    """Half the stream at 16 buckets, grow to 64, rest at 64 — final
    state must equal a plain 16-bucket replay of the whole stream."""
    cl = spark.read.parquet(changelog_path)
    grown = str(tmp_path / "grown")
    eng = CdcEngine(spark, grown, n_buckets=16)
    eng.replay(cl.filter("seq < 2000"), batch_size=1000)
    eng.table.grow_buckets(64)
    eng2 = CdcEngine(spark, grown, n_buckets=16)  # n_buckets ignored on load
    eng2.replay(cl, batch_size=1000)

    ref = CdcEngine(spark, str(tmp_path / "ref"), n_buckets=16)
    ref.replay(cl, batch_size=1000)
    assert eng2.state_hash() == ref.state_hash()
    assert eng2.state_hash(include_tombstones=True) == ref.state_hash(
        include_tombstones=True
    )
    # lazy migration: buckets the post-grow batches touched were
    # rewritten under the new spec; anything untouched may stay legacy
    m = eng2.table.manifest()
    new_spec = [f for f in m.files if f.spec_n == 64]
    assert new_spec, "post-grow merges wrote no new-spec files"


def test_closure_carries_untouched_rows(spark, changelog_path, tmp_path):
    """A tiny merge touching ONE key of a legacy file must carry the
    file's other rows through the closure rewrite — nothing is lost,
    untouched legacy files stay legacy (lazy migration)."""
    from pyspark.sql import functions as F

    cl = spark.read.parquet(changelog_path)
    root = str(tmp_path / "t")
    eng = CdcEngine(spark, root, n_buckets=16)
    eng.replay(cl, batch_size=1000)
    t = eng.table
    before = {
        r["url"]: r["warc_ts"]
        for r in eng.pages().select("url", "warc_ts").collect()
    }
    t.grow_buckets(64)
    assert t.rewrite_closure([5]) == [5, 21, 37, 53]
    # one-event update batch (fresh aligned seq range) for one live url
    url = sorted(before)[0]
    src = eng.pages().filter(F.col("url") == url).first()
    batch = spark.createDataFrame(
        [(4000, "update", url, "2030-01-01 00:00:00", bytes(src["html"]),
          src["lang"], 1, None)],
        schema="seq long, op string, url string, warc_ts string, "
        "html binary, lang string, schema_ver int, extra string",
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    eng.apply_batch(batch, 4000, 4000)
    after = {
        r["url"]: r["warc_ts"]
        for r in eng.pages().select("url", "warc_ts").collect()
    }
    assert set(after) == set(before)  # no row lost, none invented
    assert after[url].year == 2030
    assert all(after[u] == before[u] for u in before if u != url)
    # lazy: only the touched legacy file migrated
    assert _legacy_files(t), "untouched legacy files should remain"


def test_point_lookup_spans_specs(spark, changelog_path, tmp_path):
    cl = spark.read.parquet(changelog_path)
    root = str(tmp_path / "t")
    eng = CdcEngine(spark, root, n_buckets=16)
    eng.replay(cl.filter("seq < 3000"), batch_size=3000)
    t = eng.table
    urls = [r["url"] for r in eng.pages().select("url").limit(5).collect()]
    t.grow_buckets(64)
    for u in urls:
        stats = {}
        got = t.read_key(spark, u, stats_out=stats).collect()
        assert len(got) == 1 and got[0]["url"] == u
        assert stats["files_read"] >= 1


def test_bucket_read_stays_exact_after_grow(spark, changelog_path, tmp_path):
    """read(buckets=B) must return exactly B's rows even when a legacy
    file spans other buckets (row-level hash filter)."""
    from pyspark.sql import functions as F

    from clinvar_ingest_spark.lakelet.table import bucket_expr

    cl = spark.read.parquet(changelog_path)
    root = str(tmp_path / "t")
    eng = CdcEngine(spark, root, n_buckets=16)
    eng.replay(cl.filter("seq < 3000"), batch_size=3000)
    t = eng.table
    t.grow_buckets(32)
    df = t.read(spark, buckets=[7]).withColumn(
        "_b", bucket_expr("url", 32)
    )
    bad = df.filter(F.col("_b") != 7).count()
    n = df.count()
    assert bad == 0 and n > 0
    # and the union over all buckets is complete
    total = sum(
        t.read(spark, buckets=[b]).count() for b in range(32)
    )
    assert total == t.read(spark).count()


def test_mor_and_compact_across_grow(spark, changelog_path, tmp_path):
    cl = spark.read.parquet(changelog_path)
    root = str(tmp_path / "t")
    eng = CdcEngine(spark, root, n_buckets=16, write_mode="mor")
    eng.replay(cl.filter("seq < 2000"), batch_size=1000)
    eng.table.grow_buckets(32)
    eng2 = CdcEngine(spark, root, n_buckets=16, write_mode="mor")
    eng2.replay(cl, batch_size=1000)
    ref = CdcEngine(spark, str(tmp_path / "ref"), n_buckets=16)
    ref.replay(cl, batch_size=1000)
    assert eng2.state_hash() == ref.state_hash()
    # compaction folds deltas AND migrates the legacy files it touches
    eng2.compact()
    assert eng2.state_hash() == ref.state_hash()
    assert eng2.table.delta_buckets() == []
    m = eng2.table.manifest()
    compacted_buckets = {f.bucket for f in m.files if f.spec_n == 32}
    assert compacted_buckets, "compaction wrote no new-spec files"


def test_delta_cover_maps_legacy_deltas_to_current_buckets(
    spark, changelog_path, tmp_path
):
    """After a 16→32 grow, a pre-grow delta at bucket b covers current
    buckets b and b+16; a post-grow delta covers only its own bucket."""
    cl = spark.read.parquet(changelog_path)
    root = str(tmp_path / "t")
    eng = CdcEngine(spark, root, n_buckets=16, write_mode="mor")
    eng.replay(cl.filter("seq < 1000"), batch_size=1000)
    eng.table.grow_buckets(32)
    CdcEngine(spark, root, write_mode="mor").replay(
        cl.filter("seq < 2000"), batch_size=1000
    )
    m = eng.table.manifest()
    deltas = [f for f in m.files if f.kind == "delta"]
    old = [f for f in deltas if f.spec_n == 16]
    new = [f for f in deltas if f.spec_n == 32]
    assert old and new
    for f in old:
        assert m.delta_cover([f]) == {f.bucket, f.bucket + 16}
    for f in new:
        assert m.delta_cover([f]) == {f.bucket}
    assert m.delta_cover(m.files) == set().union(
        *(m.delta_cover([f]) for f in deltas)
    )


def test_purge_tombstones_after_grow(spark, changelog_path, tmp_path):
    cl = spark.read.parquet(changelog_path)
    root = str(tmp_path / "t")
    eng = CdcEngine(spark, root, n_buckets=16)
    eng.replay(cl, batch_size=2000)
    t = eng.table
    h = eng.state_hash()
    t.grow_buckets(32)
    n_tombs = eng.read().filter("_deleted").count()
    assert n_tombs > 0
    purge_tombstones(spark, t, "2031-01-01T00:00:00")
    assert eng.read().filter("_deleted").count() == 0
    assert eng.state_hash() == h  # live state untouched


def test_double_grow_nested_specs(spark, changelog_path, tmp_path):
    """16 → 32 → 128 with batches between (aligned boundaries — batch
    ids are offset ranges, the engine's exactly-once contract): spec
    levels coexist mid-history and the final state still matches a
    single-spec replay."""
    cl = spark.read.parquet(changelog_path)
    root = str(tmp_path / "t")
    eng = CdcEngine(spark, root, n_buckets=16)
    eng.replay(cl.filter("seq < 1000"), batch_size=1000)
    eng.table.grow_buckets(32)
    eng2 = CdcEngine(spark, root, n_buckets=16)
    eng2.replay(cl.filter("seq < 3000"), batch_size=1000)
    eng2.table.grow_buckets(128)
    eng3 = CdcEngine(spark, root, n_buckets=16)
    eng3.replay(cl, batch_size=1000)
    ref = CdcEngine(spark, str(tmp_path / "ref"), n_buckets=16)
    ref.replay(cl, batch_size=1000)
    assert eng3.state_hash() == ref.state_hash()
    assert eng3.state_hash(include_tombstones=True) == ref.state_hash(
        include_tombstones=True
    )
    specs = {f.spec_n for f in eng3.table.manifest().files}
    assert 128 in specs  # new writes under the final spec


def test_diff_pruning_correct_with_legacy_files(spark, changelog_path, tmp_path):
    """diff_snapshots' changed-bucket pruning must stay exact when the
    hop's rewrites replaced legacy-spec files: the changed labels mix
    old- and new-spec bucket ids, and the compat read resolves both."""
    from pyspark.sql import functions as F

    cl = spark.read.parquet(changelog_path)
    root = str(tmp_path / "t")
    eng = CdcEngine(spark, root, n_buckets=16)
    eng.replay(cl, batch_size=1000)
    t = eng.table
    t.grow_buckets(64)
    pre = t.current_snapshot_id()
    url = eng.pages().select("url").first()["url"]
    src = eng.pages().filter(F.col("url") == url).first()
    batch = spark.createDataFrame(
        [(9000, "update", url, "2030-06-01 00:00:00", bytes(src["html"]),
          src["lang"], 1, None)],
        schema="seq long, op string, url string, warc_ts string, "
        "html binary, lang string, schema_ver int, extra string",
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    eng.apply_batch(batch, 9000, 9000)
    post = t.current_snapshot_id()
    d = eng.diff_snapshots(pre, post).collect()
    assert len(d) == 1
    assert d[0]["url"] == url and d[0]["_change"] == "updated"
    # the retract view over the same hop: exactly one before/after pair
    kinds = sorted(
        r["_change_type"] for r in eng.changelog_view(pre, post).collect()
    )
    assert kinds == ["update_after", "update_before"]
