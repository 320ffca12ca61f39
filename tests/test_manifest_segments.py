"""Segmented manifests: commit metadata cost ∝ touched buckets.

Iceberg's snapshot → manifest-list → manifest-file indirection
re-expressed for the lakelet layout: a snapshot's file list is split
into content-addressed segments (manifests/segs/seg-<sha16>.json); a
commit rewrites only the segments covering its touched buckets and
carries everything else as a one-line ref, a MOR delta commit appends
ONE segment and carries all, and GC refcounts segments by sweep.
Without this, every commit at a 10^10-event history re-serializes
O(table-files) of inline JSON — the driver-side serial section the
north rule's scaling gate punishes.
"""

from __future__ import annotations

import glob
import json
import os
from unittest import mock

import pytest

import clinvar_ingest_spark.lakelet.manifest as mf
from clinvar_ingest_spark.engine import CdcEngine
from clinvar_ingest_spark.lakelet.maintenance import expire_snapshots
from clinvar_ingest_spark.lakelet.manifest import Manifest, read_json
from clinvar_ingest_spark.sources.changelog import (
    ChangelogSpec,
    generate_changelog,
    write_changelog_parquet,
)


@pytest.fixture(scope="module")
def changelog_path(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("seg_cl") / "changelog.parquet")
    write_changelog_parquet(
        generate_changelog(
            ChangelogSpec(n_events=3000, n_urls=400, n_hosts=8, seed=77)
        ),
        p,
    )
    return p


def _refs(m: Manifest) -> list[str]:
    assert m.segments is not None, "manifest should be format v2"
    return [s.ref for s in m.segments]


def test_cow_commit_carries_untouched_segments(spark, changelog_path, tmp_path):
    cl = spark.read.parquet(changelog_path)
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=64)
    eng.replay(cl.filter("seq < 1500"), batch_size=1500)
    t = eng.table
    m1 = t.manifest()
    # second batch (20 events) touches a subset of buckets: its
    # manifest must reuse (by identical ref) every segment whose
    # buckets it didn't touch
    eng.replay(cl.filter("seq < 1520"), batch_size=1500)
    m2 = t.manifest()
    width = m2.segment_width
    touched_slots = {
        b // width for b in eng.changed_buckets(m1.snapshot_id, m2.snapshot_id)
    }
    reused = set(_refs(m1)) & set(_refs(m2))
    assert reused, "no segment refs reused across a partial-bucket commit"
    # every untouched slot's segment ref is carried verbatim
    by_slot_1 = {s.lo // width: s.ref for s in m1.segments if s.kind == "range"}
    by_slot_2 = {s.lo // width: s.ref for s in m2.segments if s.kind == "range"}
    for slot, ref in by_slot_1.items():
        if slot not in touched_slots:
            assert by_slot_2.get(slot) == ref
    # and no manifest inlines a file list anymore
    raw = read_json(t._manifest_path(m2.snapshot_id))
    assert raw["format_version"] == 2 and "files" not in raw


def test_mor_delta_commit_is_o_batch_metadata(spark, changelog_path, tmp_path):
    cl = spark.read.parquet(changelog_path)
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=64)
    eng.replay(cl.filter("seq < 1500"), batch_size=1500)
    t = eng.table
    m1 = t.manifest()
    mor = CdcEngine(spark, str(tmp_path / "t"), n_buckets=64, write_mode="mor")
    # count segment loads during the delta commit: a MOR apply must not
    # read ANY parent segment (metadata cost ∝ batch, not table)
    loads = []
    real = mf.load_segment

    def spy(seg_dir, ref):
        loads.append(ref)
        return real(seg_dir, ref)

    with mock.patch.object(mf, "load_segment", side_effect=spy):
        with mock.patch(
            "clinvar_ingest_spark.lakelet.table.load_segment", side_effect=spy
        ):
            mor.replay(cl, batch_size=1500)
    m2 = t.manifest()
    assert set(_refs(m1)) <= set(_refs(m2)), "delta commit must carry all parent refs"
    delta_segs = [s for s in m2.segments if s.kind == "delta"]
    assert len(delta_segs) == 1
    assert not loads, f"delta commit loaded parent segments: {loads[:3]}"


def test_point_lookup_loads_one_segment(spark, changelog_path, tmp_path):
    cl = spark.read.parquet(changelog_path)
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=64)
    eng.replay(cl, batch_size=1000)
    t = eng.table
    url = eng.pages().select("url").first()["url"]
    loads = []
    real = mf.load_segment

    def spy(seg_dir, ref):
        loads.append(ref)
        return real(seg_dir, ref)

    with mock.patch(
        "clinvar_ingest_spark.lakelet.manifest.load_segment", side_effect=spy
    ):
        rows = t.read_key(spark, url).collect()
    assert len(rows) == 1
    n_total = len(t.manifest().segments)
    assert len(loads) <= 1, (
        f"point lookup hydrated {len(loads)}/{n_total} segments"
    )


def test_changed_buckets_matches_bruteforce(spark, changelog_path, tmp_path):
    """Exclusive-segment CDC planning == full per-bucket file-set diff,
    across a mixed COW + MOR + compaction history."""
    cl = spark.read.parquet(changelog_path)
    root = str(tmp_path / "t")
    eng = CdcEngine(spark, root, n_buckets=64)
    eng.replay(cl.filter("seq < 1000"), batch_size=1000)
    mor = CdcEngine(spark, root, n_buckets=64, write_mode="mor")
    mor.replay(cl.filter("seq < 2000"), batch_size=1000)
    mor.compact()
    mor.replay(cl, batch_size=1000)
    t = eng.table
    hist = t.history()
    for old, new in zip(hist, hist[1:]):
        got = eng.changed_buckets(old, new)

        def by_bucket(sid):
            d = {}
            for f in t.manifest(sid).files:
                d.setdefault(f.bucket, set()).add(f.path)
            return d

        ob, nb = by_bucket(old), by_bucket(new)
        want = sorted(b for b in set(ob) | set(nb) if ob.get(b) != nb.get(b))
        assert got == want, f"hop {old[:8]}->{new[:8]}"


def test_expire_sweeps_orphan_segments(spark, changelog_path, tmp_path):
    cl = spark.read.parquet(changelog_path)
    root = str(tmp_path / "t")
    eng = CdcEngine(spark, root, n_buckets=64)
    eng.replay(cl, batch_size=600)  # 5 commits
    t = eng.table
    h = eng.state_hash()
    n_before = len(glob.glob(os.path.join(t._seg_dir(), "seg-*.json")))
    res = expire_snapshots(t, keep_last=1)
    assert res["expired"]
    assert res["deleted_segments"] > 0
    # every surviving manifest still fully hydrates and the state reads
    live_refs = set()
    for p in glob.glob(os.path.join(t.manifest_dir, "*.json")):
        n = os.path.basename(p)
        if n.startswith(("_", "head-")):
            continue
        man = Manifest.from_json(read_json(p), seg_dir=t._seg_dir())
        live_refs.update(_refs(man))
        assert man.files is not None
    on_disk = {
        os.path.basename(p)[4:-5]
        for p in glob.glob(os.path.join(t._seg_dir(), "seg-*.json"))
    }
    assert live_refs <= on_disk
    assert len(on_disk) < n_before
    assert CdcEngine(spark, root, n_buckets=64).state_hash() == h


def test_manifest_json_stays_small(spark, changelog_path, tmp_path):
    """The commit-path serialization bound: manifest JSON bytes track
    the segment COUNT (≤ ~32 + deltas), not the file count."""
    cl = spark.read.parquet(changelog_path)
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=256)
    # one apply: the bound is per manifest, and a single 3000-event
    # batch over 400 urls already spreads files over most buckets
    eng.replay(cl, batch_size=3000)
    t = eng.table
    m = t.manifest()
    n_files, _ = m.file_counts()
    raw_bytes = os.path.getsize(t._manifest_path(m.snapshot_id))
    per_seg = raw_bytes / max(len(m.segments), 1)
    # an inline file list would be ~200+ bytes per FILE; segmented
    # stays bounded by segments (schema block dominates for small tables)
    assert n_files > len(m.segments)
    assert per_seg < 4000
    body = read_json(t._manifest_path(m.snapshot_id))
    assert "files" not in body
