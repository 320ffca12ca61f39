"""Metadata-only live counts: Manifest.live_rows.

Per-file tombstone counts land in the manifest at promote time
(footer-first: a boolean column read only for mixed row groups), roll
up per segment, and answer COUNT(live) with zero data reads on pure-COW
snapshots — Iceberg's snapshot-summary / count(*)-pushdown analogue.
MOR delta files force the scan fallback (resolution changes the
answer); compaction restores the fast path.
"""

from __future__ import annotations

import pytest

from clinvar_ingest_spark.engine import CdcEngine
from clinvar_ingest_spark.lakelet.maintenance import purge_tombstones
from clinvar_ingest_spark.sources.changelog import (
    ChangelogSpec,
    generate_changelog,
    write_changelog_parquet,
)


@pytest.fixture(scope="module")
def changelog_path(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("cnt_cl") / "changelog.parquet")
    write_changelog_parquet(
        generate_changelog(
            ChangelogSpec(n_events=3000, n_urls=400, n_hosts=8, seed=13)
        ),
        p,
    )
    return p


def test_cow_count_is_metadata_only_and_exact(spark, changelog_path, tmp_path):
    cl = spark.read.parquet(changelog_path)
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=16)
    eng.replay(cl, batch_size=1000)
    t = eng.table
    for sid in t.history()[1:]:  # skip genesis-only edge
        n_meta = t.manifest(sid).live_rows()
        assert n_meta is not None, "COW snapshot must answer from metadata"
        assert n_meta == eng.live(sid).count()
    # tombstones exist in this fixture, so live < physical
    m = t.manifest()
    assert m.live_rows() < int(m.summary["total_rows"])


def test_mor_falls_back_then_compaction_restores(spark, changelog_path, tmp_path):
    cl = spark.read.parquet(changelog_path)
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=16, write_mode="mor")
    eng.replay(cl, batch_size=1000)
    t = eng.table
    assert t.manifest().live_rows() is None  # deltas need resolution
    truth = eng.live().count()
    eng.compact()
    assert t.manifest().live_rows() == truth  # metadata again


def test_purge_makes_live_equal_total(spark, changelog_path, tmp_path):
    cl = spark.read.parquet(changelog_path)
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=16)
    eng.replay(cl, batch_size=1500)
    t = eng.table
    n = eng.live().count()
    purge_tombstones(spark, t, "2031-01-01T00:00:00")
    m = t.manifest()
    assert m.live_rows() == n == int(m.summary["total_rows"])


def test_spec_grow_keeps_metadata_counts(spark, changelog_path, tmp_path):
    cl = spark.read.parquet(changelog_path)
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=16)
    eng.replay(cl, batch_size=1500)
    n = eng.live().count()
    eng.table.grow_buckets(64)
    assert eng.table.manifest().live_rows() == n  # restamp keeps counts
