"""Re-bucketing + snapshot expiry: logical state must never change."""

import glob
import os

import pytest

from clinvar_ingest_spark.engine import CdcEngine
from clinvar_ingest_spark.lakelet.maintenance import (
    expire_snapshots,
    purge_tombstones,
    rebucket,
)
from clinvar_ingest_spark.sources.changelog import (
    ChangelogSpec,
    changelog_arrow_schema,
    generate_changelog,
)


@pytest.fixture()
def setup(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = generate_changelog(ChangelogSpec(n_events=1600, n_urls=250, seed=9))
    p = str(tmp_path / "cl.parquet")
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=changelog_arrow_schema(), preserve_index=False), p
    )
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=4)
    cl = spark.read.parquet(p)
    eng.replay(cl.filter("seq < 1200"), batch_size=400)
    return eng, cl


def test_rebucket_preserves_state_and_scales_buckets(spark, setup):
    eng, cl = setup
    h = eng.state_hash()
    pre = eng.table.current_snapshot_id()

    sid = rebucket(spark, eng.table, 16)
    m = eng.table.manifest()
    assert m.n_buckets == 16
    assert len(m.files) == 16
    assert eng.state_hash() == h  # logically empty commit
    # pre-rebucket snapshot still time-travels under ITS bucket count
    assert eng.pages(pre).count() == eng.pages().count()
    # idempotent (same target = same deterministic id path)
    assert rebucket(spark, eng.table, 16) == sid

    # the engine keeps ingesting correctly under the new layout
    stats = eng.replay(cl, batch_size=400)
    assert stats and all(s.touched_buckets <= 16 for s in stats)
    ref = CdcEngine(spark, eng.table.root + "_ref", n_buckets=16)
    ref.replay(cl, batch_size=400)
    assert eng.state_hash() == ref.state_hash()


def test_rebucket_honours_file_size_policy(spark, setup):
    """rebucket is a data commit like any other, so it writes under the
    table's max_records_per_file policy instead of one file per bucket."""
    eng, _cl = setup
    h = eng.state_hash()
    eng.table.max_records_per_file = 10
    rebucket(spark, eng.table, 8)
    m = eng.table.manifest()
    assert m.n_buckets == 8
    assert {f.bucket for f in m.files} == set(range(8))
    assert max(f.rows for f in m.files) <= 10
    assert len(m.files) > 8
    assert eng.state_hash() == h


def test_purge_tombstones_compacts_delete_frontier(spark, setup):
    from clinvar_ingest_spark.lakelet.maintenance import purge_tombstones

    eng, _cl = setup
    h = eng.state_hash()
    assert eng.read().filter("_deleted").count() > 0  # generator emits deletes

    sid = purge_tombstones(spark, eng.table, "2100-01-01 00:00:00")
    assert eng.state_hash() == h  # logically empty commit
    assert eng.read().filter("_deleted").count() == 0
    # idempotent: nothing left to purge
    assert purge_tombstones(spark, eng.table, "2100-01-01 00:00:00") == sid


def test_expire_snapshots_gc(spark, setup):
    eng, _cl = setup
    h = eng.state_hash()
    n_snapshots = len(eng.table.history())
    assert n_snapshots >= 4  # genesis + 3 batches
    n_data_before = len(glob.glob(os.path.join(eng.table.data_dir, "*.parquet")))

    res = expire_snapshots(eng.table, keep_last=2)
    assert len(res["expired"]) == n_snapshots - 2
    assert res["deleted_files"] > 0

    assert eng.state_hash() == h
    hist = eng.table.history()
    assert len(hist) == 2
    for sid in hist:
        for f in eng.table.manifest(sid).files:
            assert os.path.exists(os.path.join(eng.table.root, f.path))
    assert len(glob.glob(os.path.join(eng.table.data_dir, "*.parquet"))) < n_data_before


def test_rebucket_crash_retry_reconverges(spark, tmp_path):
    """Crash between rebucket's manifest write and head link: the retry
    must reconverge to the identical committed state, keep every
    referenced data file on disk, and leave no unreferenced orphans
    from the retry's own promotion (tokened names + create-if-absent
    manifests + success-path pruning)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from clinvar_ingest_spark.engine import CdcEngine
    from clinvar_ingest_spark.lakelet.maintenance import rebucket
    from clinvar_ingest_spark.sources.changelog import (
        ChangelogSpec,
        changelog_arrow_schema,
        generate_changelog,
    )

    pdf = generate_changelog(ChangelogSpec(n_events=600, n_urls=120, seed=61))
    p = str(tmp_path / "cl.parquet")
    pq.write_table(
        pa.Table.from_pandas(
            pdf, schema=changelog_arrow_schema(), preserve_index=False
        ),
        p,
    )
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=4)
    eng.replay(spark.read.parquet(p), batch_size=600)
    t = eng.table
    h = eng.state_hash()

    sid = rebucket(spark, t, 8)
    seq = t.manifest(sid).summary["commit_seq"]
    # simulate the crash: drop the head link
    os.unlink(t._head_path(seq))
    assert t.current_snapshot_id() != sid

    sid2 = rebucket(spark, t, 8)
    assert sid2 == sid
    assert t.current_snapshot_id() == sid
    assert eng.state_hash() == h
    m = t.manifest(sid)
    referenced = {f.path for f in m.files}
    for rel in referenced:
        assert os.path.exists(os.path.join(t.root, rel))
    # no unreferenced data orphans from the retry's promotion
    import glob as g

    live = set()
    for mp in g.glob(os.path.join(t.manifest_dir, "*.json")):
        n = os.path.basename(mp)
        if n.startswith(("_", "head-")):
            continue
        from clinvar_ingest_spark.lakelet.manifest import Manifest, read_json

        live |= {
            f.path
            for f in Manifest.from_json(
                read_json(mp), seg_dir=t._seg_dir()
            ).files
        }
    on_disk = {
        os.path.relpath(f, t.root)
        for f in g.glob(os.path.join(t.data_dir, "*.parquet"))
    }
    assert on_disk <= live, f"orphans: {sorted(on_disk - live)[:5]}"


def test_expire_by_age(spark, tmp_path):
    """Iceberg retention-by-age: only snapshots older than the window
    expire, layered on keep_last/pins."""
    from clinvar_ingest_spark.engine import CdcEngine
    from clinvar_ingest_spark.lakelet.maintenance import expire_snapshots
    from clinvar_ingest_spark.sources.changelog import (
        ChangelogSpec,
        generate_changelog,
        write_changelog_parquet,
    )

    p = str(tmp_path / "cl.parquet")
    write_changelog_parquet(
        generate_changelog(ChangelogSpec(n_events=2000, n_urls=300, seed=9)), p
    )
    cl = spark.read.parquet(p)
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=8)
    eng.replay(cl, batch_size=500)  # 4 commits
    t = eng.table
    n_hist = len(t.history())
    # everything is seconds old: a 1-hour window expires nothing
    res = expire_snapshots(t, keep_last=1, older_than_secs=3600)
    assert res["expired"] == [] and len(t.history()) == n_hist
    # zero-age window: back to pure keep_last semantics
    res = expire_snapshots(t, keep_last=1, older_than_secs=0)
    assert res["expired"]
    assert len(t.history()) == 1


def test_purge_keeps_null_ts_tombstones(spark, tmp_path):
    """A NULL-warc_ts tombstone has UNKNOWN age: purge_tombstones must
    conservatively keep it even while rewriting its bucket for a
    genuinely-old tombstone — `~(TRUE AND NULL)` would silently drop it
    and let a late redelivery resurrect the deleted key."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from clinvar_ingest_spark.engine import CdcEngine
    from clinvar_ingest_spark.lakelet.table import bucket_expr

    t = datetime.fromisoformat
    schema = (
        "seq long, op string, url string, warc_ts timestamp, html binary, "
        "lang string, extra string"
    )
    e = CdcEngine(spark, str(tmp_path / "p"), n_buckets=4)
    e.apply_batch(
        spark.createDataFrame(
            [
                (0, "insert", "https://x/b", t("2020-01-01 00:00:00"), b"<p>v</p>", "en", None),
                (1, "delete", "https://x/b", t("2020-01-02 00:00:00"), None, None, None),
            ],
            schema=schema,
        ), 0, 9,
    )
    # plant a NULL-ts tombstone at the table layer (the cells engine's
    # noop_delete can produce this shape; the row engine no longer does
    # since NULL-ts events lose LWW)
    m = e.table.manifest()
    raw = e.read()
    extra = raw.limit(1).select(
        F.lit("https://x/nullts").alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("props"),
        F.lit(99).cast("long").alias("_seq"),
        F.lit(True).alias("_deleted"),
    )
    allrows = raw.unionByName(extra, allowMissingColumns=True).withColumn(
        "_bucket", bucket_expr("url", m.n_buckets)
    )
    e.table.commit_rewrite(
        spark, allrows, list(range(m.n_buckets)), batch_id="plant",
        expected_parent_id=m.snapshot_id,
    )
    assert e.read().filter("_deleted").count() == 2
    purge_tombstones(spark, e.table, "2025-01-01 00:00:00")
    left = e.read().filter("_deleted").collect()
    assert [r["url"] for r in left] == ["https://x/nullts"]
    assert left[0]["warc_ts"] is None


def test_expire_snapshots_refuses_branch_views(spark, tmp_path):
    """Retention and head-pointer GC are main-chain-scoped: run from a
    branch view they would unpin (and delete) every post-fork main
    snapshot. The function must refuse branch-attached tables."""
    import pytest as _pytest

    from clinvar_ingest_spark.engine import CdcEngine

    cl = spark.createDataFrame(
        generate_changelog(ChangelogSpec(n_events=500, seed=13))
    )
    e = CdcEngine(spark, str(tmp_path / "t"), n_buckets=8)
    e.replay(cl, batch_size=250)
    e.table.create_branch("audit")
    br = e.table.for_branch("audit")
    with _pytest.raises(ValueError, match="MAIN table"):
        expire_snapshots(br, keep_last=1)
    # main run still works and keeps the branch head readable
    expire_snapshots(e.table, keep_last=1)
    assert br.read(spark).count() >= 0


# ---------------------------------------------------------------------------
# auto_maintain policy pass
# ---------------------------------------------------------------------------


def _replayed_engine(spark, tmp_path, **eng_kw):
    from clinvar_ingest_spark.engine import CdcEngine
    from clinvar_ingest_spark.sources.changelog import (
        ChangelogSpec,
        generate_changelog,
        write_changelog_parquet,
    )

    p = str(tmp_path / "cl.parquet")
    write_changelog_parquet(
        generate_changelog(ChangelogSpec(n_events=1500, n_urls=400, seed=5)),
        p,
    )
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=4, **eng_kw)
    eng.replay(spark.read.parquet(p), batch_size=500)
    return eng


def test_auto_maintain_cow_binpack_and_expire(spark, tmp_path):
    from clinvar_ingest_spark.lakelet.maintenance import (
        MaintenancePolicy,
        auto_maintain,
    )

    eng = _replayed_engine(spark, tmp_path, max_records_per_file=40)
    eng.table.max_records_per_file = None  # pack to one file per bucket
    h = eng.state_hash(include_tombstones=True)
    n_snaps_before = len(eng.table.history())

    pol = MaintenancePolicy(
        binpack_min_files=2,
        expire_keep_last=2,
        expire_older_than_secs=None,
        in_flight_grace_secs=0.0,
    )
    did = auto_maintain(spark, eng.table, pol)
    assert "binpack" in did and "expire" in did
    assert did["expire"]["expired"] >= 1
    m = eng.table.manifest()
    per_bucket: dict[int, int] = {}
    for f in m.files:
        per_bucket[f.bucket] = per_bucket.get(f.bucket, 0) + 1
    assert max(per_bucket.values()) == 1
    assert eng.state_hash(include_tombstones=True) == h
    assert len(eng.table.history()) < n_snaps_before

    # a maintained table needs nothing: the pass reports empty
    assert auto_maintain(spark, eng.table, pol) == {}


def test_auto_maintain_folds_mor_deltas_first(spark, tmp_path):
    from clinvar_ingest_spark.lakelet.maintenance import (
        MaintenancePolicy,
        auto_maintain,
    )

    eng = _replayed_engine(spark, tmp_path, write_mode="mor")
    assert eng.table.delta_buckets()
    h = eng.state_hash(include_tombstones=True)
    did = auto_maintain(
        spark, eng.table, MaintenancePolicy(expire_keep_last=None)
    )
    assert "compact" in did
    assert eng.table.delta_buckets() == []
    assert eng.state_hash(include_tombstones=True) == h


def test_auto_maintain_folds_deltas_of_a_loaded_table(spark, tmp_path):
    """Folding needs only the table: a table loaded from its root, with
    no engine in sight (the jobs/maintain.py shape), gets its MOR deltas
    compacted and keeps its tombstone-inclusive state."""
    from clinvar_ingest_spark.lakelet.maintenance import (
        MaintenancePolicy,
        auto_maintain,
    )
    from clinvar_ingest_spark.lakelet.table import LakeletTable

    eng = _replayed_engine(spark, tmp_path, write_mode="mor")
    h = eng.state_hash(include_tombstones=True)
    t = LakeletTable.load(eng.table.root)
    assert t.delta_buckets()
    did = auto_maintain(spark, t, MaintenancePolicy(expire_keep_last=None))
    assert "compact" in did
    assert t.delta_buckets() == []
    assert eng.state_hash(include_tombstones=True) == h


def test_maintain_cli_auto_with_expire_keep_expires_once(
    spark, tmp_path, monkeypatch, capsys
):
    """`jobs/maintain.py --auto --expire-keep K` hands K to the policy:
    snapshot expiry runs once, with the caller's K — not once inside the
    pass with the default keep and again with K and no age guard."""
    import json

    from clinvar_ingest_spark.lakelet import maintenance
    from jobs.maintain import main

    eng = _replayed_engine(spark, tmp_path)
    calls = []
    real = maintenance.expire_snapshots

    def counting(*a, **kw):
        calls.append(kw.get("keep_last"))
        return real(*a, **kw)

    monkeypatch.setattr(maintenance, "expire_snapshots", counting)
    monkeypatch.setattr(
        "clinvar_ingest_spark.session.get_spark", lambda **kw: spark
    )
    rc = main([
        "--table", eng.table.root, "--auto", "--expire-keep", "2",
        "--expire-grace", "0",
    ])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["state_hash_unchanged"]
    assert calls == [2]
    assert "expire" not in out
