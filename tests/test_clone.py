"""Zero-copy (shallow) and deep table clones — Delta SHALLOW CLONE /
Iceberg snapshot-table analogue: O(metadata) creation, COW divergence,
deletion safety (a clone can never delete source-owned bytes)."""

import glob
import os

import pytest

from clinvar_ingest_spark.engine import CdcEngine
from clinvar_ingest_spark.lakelet.maintenance import clone_table, expire_snapshots
from clinvar_ingest_spark.sources.changelog import (
    ChangelogSpec,
    generate_changelog,
    write_changelog_parquet,
)


@pytest.fixture(scope="module")
def src_engine(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("clone_src")
    cl_path = str(d / "cl.parquet")
    write_changelog_parquet(
        generate_changelog(ChangelogSpec(n_events=1500, seed=7)), cl_path
    )
    eng = CdcEngine(spark, str(d / "pages"), n_buckets=8)
    eng.replay(spark.read.parquet(cl_path), batch_size=500)
    return eng, cl_path


def test_shallow_clone_state_and_metadata_only(spark, src_engine, tmp_path):
    eng, _ = src_engine
    dest_root = str(tmp_path / "clone")
    clone_table(eng.table, dest_root)
    ceng = CdcEngine(spark, dest_root, n_buckets=8)
    # identical logical state, including tombstones
    assert ceng.state_hash(include_tombstones=True) == eng.state_hash(
        include_tombstones=True
    )
    # metadata-only: the clone's data dir holds ZERO parquet bytes
    assert glob.glob(os.path.join(dest_root, "data", "*.parquet")) == []
    # provenance recorded
    m = ceng.table.manifest()
    assert m.summary["cloned_from"] == os.path.abspath(eng.table.root)
    assert m.summary["source_snapshot"] == eng.table.current_snapshot_id()


def test_clone_cow_divergence(spark, src_engine, tmp_path):
    """Writes to the clone land in the clone's own data dir; the source
    is untouched (hash + file set)."""
    eng, cl_path = src_engine
    dest_root = str(tmp_path / "clone2")
    clone_table(eng.table, dest_root)
    src_hash = eng.state_hash(include_tombstones=True)
    src_files = sorted(glob.glob(os.path.join(eng.table.root, "data", "*.parquet")))

    ceng = CdcEngine(spark, dest_root, n_buckets=8)
    extra = generate_changelog(ChangelogSpec(n_events=300, seed=99))
    extra_path = str(tmp_path / "extra.parquet")
    write_changelog_parquet(extra, extra_path)
    ceng.replay(spark.read.parquet(extra_path), batch_size=300)

    assert ceng.state_hash() != src_hash  # clone moved
    assert eng.state_hash(include_tombstones=True) == src_hash  # source did not
    assert src_files == sorted(
        glob.glob(os.path.join(eng.table.root, "data", "*.parquet"))
    )
    # diverged buckets live under the CLONE root now
    assert glob.glob(os.path.join(dest_root, "data", "*.parquet"))


def test_clone_gc_never_deletes_source_bytes(spark, src_engine, tmp_path):
    """expire_snapshots on a diverged clone removes only clone-owned
    files — source files survive even when the clone no longer
    references them."""
    eng, _ = src_engine
    dest_root = str(tmp_path / "clone3")
    clone_table(eng.table, dest_root)
    ceng = CdcEngine(spark, dest_root, n_buckets=8)
    extra = generate_changelog(ChangelogSpec(n_events=400, seed=5))
    extra_path = str(tmp_path / "extra.parquet")
    write_changelog_parquet(extra, extra_path)
    ceng.replay(spark.read.parquet(extra_path), batch_size=200)

    src_files = sorted(glob.glob(os.path.join(eng.table.root, "data", "*.parquet")))
    out = expire_snapshots(ceng.table, keep_last=1)
    assert out["expired"]  # something actually expired
    assert src_files == sorted(
        glob.glob(os.path.join(eng.table.root, "data", "*.parquet"))
    )
    # clone still reads fine after its own GC
    assert ceng.state_hash() == CdcEngine(spark, dest_root, n_buckets=8).state_hash()


def test_deep_clone_owns_bytes(spark, src_engine, tmp_path):
    eng, _ = src_engine
    dest_root = str(tmp_path / "deep")
    clone_table(eng.table, dest_root, deep=True)
    ceng = CdcEngine(spark, dest_root, n_buckets=8)
    assert ceng.state_hash(include_tombstones=True) == eng.state_hash(
        include_tombstones=True
    )
    # every referenced path is clone-relative (owned)
    for f in ceng.table.manifest().files:
        assert not os.path.isabs(f.path)
    assert glob.glob(os.path.join(dest_root, "data", "*.parquet"))


def test_deep_clone_of_shallow_clone(spark, src_engine, tmp_path):
    """Deep-cloning a SHALLOW clone must rewrite the shallow clone's
    absolute file paths to dest-relative ones and copy the bytes —
    previously copyfile(src, src) raised SameFileError."""
    eng, _ = src_engine
    shallow_root = str(tmp_path / "shallow")
    clone_table(eng.table, shallow_root)
    seng = CdcEngine(spark, shallow_root, n_buckets=8)
    deep_root = str(tmp_path / "deep_of_shallow")
    clone_table(seng.table, deep_root, deep=True)
    deng = CdcEngine(spark, deep_root, n_buckets=8)
    assert deng.state_hash(include_tombstones=True) == eng.state_hash(
        include_tombstones=True
    )
    # the deep clone OWNS its bytes: every path relative, files present
    for f in deng.table.manifest().files:
        assert not os.path.isabs(f.path)
        assert os.path.exists(os.path.join(deep_root, f.path))
    assert glob.glob(os.path.join(deep_root, "data", "*.parquet"))


def test_clone_existing_root_refuses(spark, src_engine, tmp_path):
    eng, _ = src_engine
    dest_root = str(tmp_path / "dup")
    clone_table(eng.table, dest_root)
    with pytest.raises(FileExistsError):
        clone_table(eng.table, dest_root)


def test_clone_pinned_snapshot(spark, src_engine, tmp_path):
    """Cloning AS OF an earlier snapshot reproduces that snapshot's
    state, not the head."""
    eng, _ = src_engine
    hist = eng.table.history()
    assert len(hist) >= 2
    earlier = hist[-2]
    dest_root = str(tmp_path / "pinned")
    clone_table(eng.table, dest_root, snapshot_id=earlier)
    ceng = CdcEngine(spark, dest_root, n_buckets=8)
    assert ceng.state_hash(include_tombstones=True) == eng.state_hash(
        snapshot_id=earlier, include_tombstones=True
    )


@pytest.mark.parametrize("deep", [False, True])
def test_clone_writes_segmented_manifest(spark, src_engine, tmp_path, deep):
    """A clone's genesis manifest is segmented like every other
    manifest (no inline file list), reads the source's state, and its
    first commit carries the buckets it did not touch by segment ref."""
    from clinvar_ingest_spark.lakelet.manifest import read_json

    eng, _ = src_engine
    dest_root = str(tmp_path / ("deep" if deep else "shallow"))
    clone_table(eng.table, dest_root, deep=deep)
    ceng = CdcEngine(spark, dest_root, n_buckets=8)
    t = ceng.table
    m0 = t.manifest()
    raw = read_json(t._manifest_path(m0.snapshot_id))
    assert raw["format_version"] == 2 and "files" not in raw
    assert m0.segments and all(
        os.path.exists(os.path.join(t._seg_dir(), f"seg-{s.ref}.json"))
        for s in m0.segments
    )
    assert ceng.state_hash(include_tombstones=True) == eng.state_hash(
        include_tombstones=True
    )

    # a 3-event batch touches at most 3 of the 8 one-bucket segments
    extra = generate_changelog(ChangelogSpec(n_events=3, seed=11))
    extra_path = str(tmp_path / "extra.parquet")
    write_changelog_parquet(extra, extra_path)
    ceng.replay(spark.read.parquet(extra_path), batch_size=3)
    m1 = t.manifest()
    assert m1.parent_id == m0.snapshot_id
    touched = set(ceng.changed_buckets(m0.snapshot_id, m1.snapshot_id))
    assert 0 < len(touched) <= 3
    carried = {s.ref for s in m0.segments if s.lo not in touched}
    assert carried and carried <= {s.ref for s in m1.segments}
