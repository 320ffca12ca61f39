"""Optimistic-concurrency commits (round 3): the manifest head is a CAS
chain (`head-{seq}.json` via atomic os.link). Two writers may commit
concurrently; the loser re-plans against the winner's snapshot and
retries. Reference contrast: the pipeline forbids overlapping runs
(cron-workflow.yaml:9 `concurrencyPolicy: Forbid`) — this engine lifts
that restriction with Iceberg-style CAS-and-retry.
"""

from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from clinvar_ingest_spark.engine import CdcEngine
from clinvar_ingest_spark.lakelet.table import CommitConflictError, bucket_expr
from clinvar_ingest_spark.sources.changelog import (
    ChangelogSpec,
    changelog_arrow_schema,
    generate_changelog,
)


def _changelog_df(spark, tmp_path, name, n_events, seed, host):
    pdf = generate_changelog(
        ChangelogSpec(n_events=n_events, n_urls=60, n_hosts=1, seed=seed)
    )
    # disjoint url universes per writer via a host prefix rewrite
    pdf["url"] = pdf["url"].str.replace(
        "https://host000.", f"https://{host}.", regex=False
    )
    p = str(tmp_path / f"{name}.parquet")
    pq.write_table(
        pa.Table.from_pandas(
            pdf, schema=changelog_arrow_schema(), preserve_index=False
        ),
        p,
    )
    return spark.read.parquet(p)


def test_stale_parent_commit_raises(spark, tmp_path):
    """A commit planned against a snapshot the table has moved past must
    raise, never silently overwrite the interleaved commit."""
    a = _changelog_df(spark, tmp_path, "a", 400, 1, "hostaaaa")
    b = _changelog_df(spark, tmp_path, "b", 400, 2, "hostbbbb")
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=8)
    eng.apply_batch(a, 0, 399)
    planned = eng.table.manifest()  # writer plans here...

    eng.apply_batch(b.withColumn("seq", F.col("seq") + 1000), 1000, 1399)

    # ...and tries to commit against the stale parent
    rows = eng.read().withColumn("_bucket", bucket_expr("url", 8))
    with pytest.raises(CommitConflictError):
        eng.table.commit_rewrite(
            spark,
            rows,
            touched_buckets=list(range(8)),
            batch_id="stale-writer",
            expected_parent_id=planned.snapshot_id,
        )


def test_cas_losing_head_link_cleans_up(spark, tmp_path):
    """Losing the head CAS removes the orphan manifest + data files and
    raises; the chain stays consistent."""
    a = _changelog_df(spark, tmp_path, "a", 400, 1, "hostaaaa")
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=8)
    eng.apply_batch(a, 0, 399)
    t = eng.table
    m = t.manifest()

    # a competing writer takes the next head slot with a real manifest
    from clinvar_ingest_spark.lakelet.manifest import Manifest, advance_head

    seq = m.summary["commit_seq"] + 1
    win = Manifest(
        snapshot_id="f" * 20,
        parent_id=m.snapshot_id,
        batch_id="winner",
        schema_version=m.schema_version,
        n_buckets=m.n_buckets,
        schemas=m.schemas,
        segments=m.segments,
        segment_width=m.segment_width,
        summary={**m.summary, "commit_seq": seq},
    )
    advance_head(t.head_dir, seq, win.snapshot_id, t.manifest_dir, win.to_json())

    rows = eng.read(m.snapshot_id).withColumn("_bucket", bucket_expr("url", 8))
    with pytest.raises(CommitConflictError):
        # plan deliberately pinned to the stale parent is caught either
        # at the parent check or the CAS — state must be unchanged
        t.commit_rewrite(
            spark, rows, list(range(8)), batch_id="loser",
            expected_parent_id=m.snapshot_id,
        )
    assert t.current_snapshot_id() == win.snapshot_id
    # no orphan manifests beyond the committed chain + the fake winner
    loser_sid = None
    import glob as g
    import os

    for p in g.glob(os.path.join(t.manifest_dir, "*.json")):
        n = os.path.basename(p)
        if n.startswith(("_", "head-")):
            continue
        sid = n[:-5]
        assert t._is_committed(sid), f"orphan manifest {sid} survived"
        assert loser_sid != sid
    # current still reads fine
    assert eng.read().count() > 0


def test_two_writers_disjoint_and_overlapping_keys(spark, tmp_path):
    """Two threads commit concurrently (disjoint url sets, then
    overlapping updates). No lost update: final state equals the serial
    application; both ledgers record their batch."""
    a = _changelog_df(spark, tmp_path, "wa", 500, 11, "hostaaaa")
    b = _changelog_df(spark, tmp_path, "wb", 500, 12, "hostbbbb")
    b = b.withColumn("seq", F.col("seq") + 10_000)
    # overlapping round: both touch hostaaaa urls, disjoint seq/ts mix
    c = _changelog_df(spark, tmp_path, "wc", 300, 13, "hostaaaa")
    c = c.withColumn("seq", F.col("seq") + 20_000)
    d = _changelog_df(spark, tmp_path, "wd", 300, 14, "hostaaaa")
    d = d.withColumn("seq", F.col("seq") + 30_000)

    root = str(tmp_path / "conc")

    def writer(batch, lo, hi):
        # each thread drives its own engine handle over the SAME table
        e = CdcEngine(spark, root, n_buckets=8)
        return e.apply_batch(batch, lo, hi)

    CdcEngine(spark, root, n_buckets=8)  # create
    with ThreadPoolExecutor(max_workers=2) as ex:
        f1 = ex.submit(writer, a, 0, 499)
        f2 = ex.submit(writer, b, 10_000, 10_499)
        s1, s2 = f1.result(), f2.result()
    assert s1 is not None and s2 is not None
    with ThreadPoolExecutor(max_workers=2) as ex:
        f3 = ex.submit(writer, c, 20_000, 20_299)
        f4 = ex.submit(writer, d, 30_000, 30_299)
        f3.result(), f4.result()

    eng = CdcEngine(spark, root, n_buckets=8)

    # serial reference (one writer, same batches in order)
    ref = CdcEngine(spark, str(tmp_path / "serial"), n_buckets=8)
    ref.apply_batch(a, 0, 499)
    ref.apply_batch(b, 10_000, 10_499)
    ref.apply_batch(c, 20_000, 20_299)
    ref.apply_batch(d, 30_000, 30_299)

    assert eng.state_hash() == ref.state_hash()
    assert eng.state_hash(include_tombstones=True) == ref.state_hash(
        include_tombstones=True
    )
    # every batch is on the ledger exactly once
    from clinvar_ingest_spark.streaming.ledger import batch_id_for

    recs = {r["batch_id"] for r in eng.lineage().collect()}
    assert recs == {
        batch_id_for(0, 499),
        batch_id_for(10_000, 10_499),
        batch_id_for(20_000, 20_299),
        batch_id_for(30_000, 30_299),
    }


def test_same_batch_from_two_writers_is_idempotent(spark, tmp_path):
    """Two writers racing on the SAME batch: deterministic snapshot ids
    make the second commit a success-noop, not a duplicate apply."""
    a = _changelog_df(spark, tmp_path, "same", 400, 21, "hostaaaa")
    root = str(tmp_path / "same_t")
    CdcEngine(spark, root, n_buckets=8)

    def writer(_):
        e = CdcEngine(spark, root, n_buckets=8)
        return e.apply_batch(a, 0, 399)

    with ThreadPoolExecutor(max_workers=2) as ex:
        r1, r2 = list(ex.map(writer, [0, 1]))

    eng = CdcEngine(spark, root, n_buckets=8)
    ref = CdcEngine(spark, str(tmp_path / "same_ref"), n_buckets=8)
    ref.apply_batch(a, 0, 399)
    assert eng.state_hash() == ref.state_hash()
    assert len(eng.table.history()) == 2  # genesis + one commit


def test_orphan_manifest_does_not_satisfy_idempotency(spark, tmp_path):
    """Crash window: the writer completed promotion and the manifest
    write but died BEFORE the head link (and before its ledger
    record). The orphan manifest must not short-circuit the retry;
    the retry reconverges to the exact pre-crash state."""
    import os

    from clinvar_ingest_spark.streaming.ledger import batch_id_for

    a = _changelog_df(spark, tmp_path, "a", 300, 31, "hostaaaa")
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=4)
    eng.apply_batch(a, 0, 299)
    t = eng.table
    sid = t.current_snapshot_id()
    want_hash = eng.state_hash()
    genesis = t.manifest(sid).parent_id

    # rewind to the crash state: head link + ledger record gone,
    # manifest + data files still on disk
    os.unlink(t._head_path(1))
    os.unlink(os.path.join(t.ledger_dir, f"{batch_id_for(0, 299)}.json"))
    assert t.current_snapshot_id() == genesis
    assert t.has_snapshot(sid) and not t._is_committed(sid)

    # retry through a fresh engine handle: the orphan does not satisfy
    # idempotency, the batch re-commits, state equals pre-crash
    eng2 = CdcEngine(spark, str(tmp_path / "t"), n_buckets=4)
    stats = eng2.apply_batch(a, 0, 299)
    assert stats is not None and stats.n_events > 0
    assert eng2.table.current_snapshot_id() == sid
    assert eng2.table._is_committed(sid)
    assert eng2.state_hash() == want_hash
    assert eng2.pages().count() > 0


def test_current_cache_self_heals(spark, tmp_path):
    """The head chain is the authority: current_snapshot_id() is the
    highest head slot, and no pointer file beside it is read or
    written."""
    import os

    a = _changelog_df(spark, tmp_path, "a", 300, 32, "hostaaaa")
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=4)
    eng.apply_batch(a, 0, 299)
    t = eng.table
    cur = t.current_snapshot_id()
    seq, head_sid = t._latest_head()
    assert head_sid == cur and seq == t.manifest().summary["commit_seq"]
    assert not os.path.exists(os.path.join(t.manifest_dir, "_current.json"))


def test_manifest_create_if_absent_and_tokened_file_names(spark, tmp_path):
    """Same-batch racers are isolated end-to-end: data files carry a
    per-writer token (the loser's os.replace can never hit the
    winner's committed files) and the manifest file is create-if-
    absent (a racer cannot clobber the committed file list)."""
    import os
    import re

    from clinvar_ingest_spark.lakelet.manifest import Manifest, advance_head

    a = _changelog_df(spark, tmp_path, "a", 300, 41, "hostaaaa")
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=4)
    eng.apply_batch(a, 0, 299)
    t = eng.table
    m = t.manifest()
    pat = re.compile(r"^data/b\d{5}-[0-9a-f]{20}-[0-9a-f]{8}-\d+\.parquet$")
    assert m.files and all(pat.match(f.path) for f in m.files)

    # a same-id racer re-committing the slot with another file list is
    # a no-op: the committed manifest is never rewritten
    bogus = Manifest(
        snapshot_id=m.snapshot_id, parent_id=m.parent_id,
        batch_id="clobber", schema_version=m.schema_version,
        n_buckets=m.n_buckets, schemas=m.schemas, segments=[],
        summary=dict(m.summary),
    )
    seq = m.summary["commit_seq"]
    assert not advance_head(
        t.head_dir, seq, bogus.snapshot_id, t.manifest_dir, bogus.to_json()
    )
    assert [f.path for f in t.manifest().files] == [f.path for f in m.files]
    # ...and every referenced file is still on disk
    for f in t.manifest().files:
        assert os.path.exists(os.path.join(t.root, f.path))


def test_two_patch_writers_converge_to_serial(spark, tmp_path):
    """CAS-and-retry composes with the cell-LWW kernel: two concurrent
    writers applying patch-bearing batches (overlapping buckets) lose no
    update, and the final state equals serial application — the cells
    fold is associative, so retry-after-replan is safe by construction."""
    pdf = generate_changelog(
        ChangelogSpec(n_events=800, n_urls=80, seed=3, p_patch=0.4)
    )
    pa_tbl = pa.Table.from_pandas(
        pdf, schema=changelog_arrow_schema(), preserve_index=False
    )
    p = str(tmp_path / "cl.parquet")
    pq.write_table(pa_tbl, p)
    cl = spark.read.parquet(p)
    b1 = cl.filter("seq < 400")
    b2 = cl.filter("seq >= 400")

    root = str(tmp_path / "t")
    CdcEngine(spark, root, n_buckets=8, patch_ops=True)  # create once

    def apply(batch, lo, hi):
        # one engine per thread: separate planning contexts racing on
        # the shared CAS head chain
        eng = CdcEngine(spark, root, n_buckets=8, patch_ops=True)
        return eng.apply_batch(batch, lo, hi)

    with ThreadPoolExecutor(max_workers=2) as ex:
        f1 = ex.submit(apply, b1, 0, 399)
        f2 = ex.submit(apply, b2, 400, 799)
        s1, s2 = f1.result(), f2.result()
    assert s1 is not None and s2 is not None

    serial = CdcEngine(spark, str(tmp_path / "s"), n_buckets=8, patch_ops=True)
    serial.replay(cl, batch_size=400)
    racing = CdcEngine(spark, root, n_buckets=8, patch_ops=True)
    assert racing.state_hash(include_tombstones=True) == serial.state_hash(
        include_tombstones=True
    )
