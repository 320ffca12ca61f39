"""Table maintenance: the rewrite passes, re-bucketing and snapshot expiry.

Iceberg-parity lifecycle ops the reference delegates to TDR/BigQuery
(staging-table TTL, docker/diff/diff.py:47-48; dataset lifetime mgmt,
diff.py:41-56). The rewrite passes — :func:`compact` (fold MOR deltas),
:func:`purge_tombstones`, :func:`rewrite_small_files` (bin-pack) and
:func:`sort_rewrite` (lexicographic / Z-order clustering) — each decide
only which buckets to rewrite and how; all four run one plan,
:func:`_rewrite_buckets` (Iceberg ``rewrite_data_files``). Beside them:

- :func:`rebucket` — rewrite the table under a new bucket count. What
  degrades as the keyspace grows is bucket SIZE: parallelism and
  rewrite amplification are both bounded by n_buckets, so a 10^10-row
  table periodically doubles it. Time travel across the boundary works
  because every manifest pins its own n_buckets (readers and pruners
  consult the snapshot's value, never a global).
- :func:`expire_snapshots` — drop manifests beyond the retention cut,
  then delete data files referenced only by expired snapshots.
  Two-phase and crash-safe: manifests go first (atomic per-file), then
  unreferenced data — a crash in between leaves harmless orphans the
  next sweep removes.
- :func:`auto_maintain` — the passes above in the one safe order,
  under a :class:`MaintenancePolicy`.
"""

from __future__ import annotations

import glob
import os
from collections import Counter
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from clinvar_ingest_spark.lakelet.manifest import (
    Manifest,
    read_json,
    snapshot_id_for,
)
from clinvar_ingest_spark.lakelet.table import LakeletTable


def _rewrite_buckets(
    spark: SparkSession,
    table: LakeletTable,
    m: Manifest,
    buckets,
    batch_id: str,
    keep=None,
    order=None,
    summary: dict | None = None,
) -> str:
    """The one plan under every rewrite pass: COW-rewrite ``buckets``
    of the planned snapshot ``m``, pinned to ``m``, from the table's
    bucketed read (``LakeletTable._read_bucketed``): one shuffle that
    packs whole buckets evenly into ``min(len(buckets),
    defaultParallelism)`` tasks, so partitionBy emits one file per
    bucket, with any MOR deltas resolved inside it. ``keep`` filters the resolved
    rows; ``order(df)`` returns sort columns, computed on the raw
    (unresolved) read, so a Z-order bounds job scans the files without
    a shuffle — bounds over that superset of the live rows still hold
    them all. The commit asserts the ``summary`` keys. Idempotent by
    ``batch_id``; returns the new snapshot id."""
    # partition-spec evolution: a touched legacy-spec file is rewritten
    # whole (identity pre-grow), so every pass doubles as lazy spec
    # migration
    touched = table.rewrite_closure(buckets)
    sort_cols = None
    if order is not None:
        sort_cols = order(
            table.read(spark, m.snapshot_id, buckets=touched, resolve=False)
        )
    rows = table._read_bucketed(spark, m, touched, m.n_buckets)
    if keep is not None:
        rows = rows.filter(keep)
    if sort_cols is not None:
        rows = rows.sortWithinPartitions(F.col("_bucket"), *sort_cols)
    return table.commit_rewrite(
        spark, rows, touched, batch_id=batch_id, summary=summary,
        pre_partitioned=True, expected_parent_id=m.snapshot_id,
    )


def compact(
    spark: SparkSession,
    table: LakeletTable,
    buckets: list[int] | None = None,
) -> str | None:
    """Fold merge-on-read delta files back into base files: COW-rewrite
    every delta-bearing bucket (optionally restricted to ``buckets``)
    from its RESOLVED state — the reference's ``dedupByDate`` fold
    (ArchiveBranches.scala:140-156) as one bucket-partitioned stage:
    the rows shuffle once on ``_bucket`` and the LWW resolve runs
    inside that shuffle (:func:`_rewrite_buckets`). Logical state is
    unchanged (state-hash invariant, tests/test_mor.py); subsequent
    reads of the compacted buckets plan with zero resolution overhead
    again.

    Idempotent (deterministic batch id per source snapshot) and
    OCC-safe (pinned to the snapshot it planned against — a
    concurrent apply landing mid-compaction raises
    CommitConflictError rather than losing its delta, and the
    caller simply re-runs compaction later). Returns the new
    snapshot id, or None if nothing to compact.

    At 100 TB this is the background half of the MOR trade: applies
    stay ∝ batch size at any cadence, and compaction amortizes the
    read-side resolution across however many batches landed since
    the last fold — exactly Iceberg's rewrite_data_files loop.
    """
    m = table.manifest()
    todo = m.delta_bucket_set()
    if buckets is not None:
        todo &= {int(b) for b in buckets}
    if not todo:
        return None
    return _rewrite_buckets(
        spark, table, m, todo, f"compact:{m.snapshot_id[:16]}"
    )


def rebucket(
    spark: SparkSession,
    table: LakeletTable,
    new_n_buckets: int,
) -> str:
    """Rewrite the full table under ``new_n_buckets`` hash buckets as a
    logically-empty commit (state hash unchanged), under the table's
    file-size policy like every data commit. Returns the new snapshot
    id; idempotent by deterministic id."""
    m = table.manifest()
    if new_n_buckets == m.n_buckets:
        return m.snapshot_id
    # one shuffle, placed over all the new buckets; MOR deltas resolve
    # inside it
    rows = table._read_bucketed(spark, m, None, new_n_buckets)
    # the table's one data commit (staging, promotion, CAS) with the
    # file list re-segmented under the new bucket count
    return table._commit_files(
        spark,
        rows,
        f"rebucket:{m.n_buckets}->{new_n_buckets}:{m.snapshot_id}",
        kind="base",
        replace=None,
        expected_parent_id=m.snapshot_id,
        n_buckets=new_n_buckets,
    )


def sort_rewrite(
    spark: SparkSession,
    table: LakeletTable,
    by: list[str],
    zorder: bool = False,
    bits: int = 16,
) -> str:
    """Rewrite every bucket with rows physically ordered by ``by`` —
    plain lexicographic sort, or a Morton/Z-order interleave key over
    the columns when ``zorder=True`` (multi-dimension clustering; see
    :mod:`clinvar_ingest_spark.functions.zorder`). A logically-empty
    commit: live state, schema, and bucket layout are unchanged; only
    the physical row order inside each bucket file changes, which
    tightens parquet row-group/page statistics on the sort columns so
    scans with range predicates skip most of each file, and typically
    shrinks the files (sorted columns RLE/dict-encode better).

    At 100 TB this is the periodic clustering pass every warehouse
    format schedules (Iceberg rewrite_data_files sort/zorder, BigQuery
    clustered tables — the reference's schema/*.table.json lean on the
    latter). The sort itself is per-bucket (``sortWithinPartitions``
    after the bucket shuffle) — no global sort, no driver involvement,
    cost is one shuffle + ordered write of the touched bytes.

    Deterministic snapshot id ⇒ idempotent; crash-retry safe like every
    commit (tokened staging + CAS head). Returns the new snapshot id.
    """
    m = table.manifest()
    spec = f"{'z' if zorder and len(by) > 1 else 'lex'}:{','.join(by)}" + (
        f":bits={bits}" if zorder and len(by) > 1 else ""
    )
    # the manifest summary carries the layout claim (Iceberg's "table
    # sort order"); every data commit CLEARS it unless it re-asserts
    # it, as this one does (LakeletTable._commit_files), so a matching
    # claim means the current files are already in this order and the
    # rewrite is a no-op — this is what makes repeated maintenance runs
    # idempotent
    if m.summary.get("sort_order") == spec:
        return m.snapshot_id

    def order(df):
        if zorder and len(by) > 1:
            from clinvar_ingest_spark.functions.zorder import zorder_key

            return [zorder_key(df, by, bits=bits)]
        return [F.col(c) for c in by]

    # every bucket: a sorted rewrite also migrates any remaining
    # legacy-spec files to the current spec
    return _rewrite_buckets(
        spark, table, m, {f.bucket for f in m.files},
        f"sort_rewrite:{spec}:{m.snapshot_id}",
        order=order, summary={"sort_order": spec},
    )


def rewrite_small_files(
    spark: SparkSession,
    table: LakeletTable,
    min_files: int = 2,
) -> str:
    """Bin-pack maintenance pass (Iceberg ``rewrite_data_files``
    bin-pack strategy): COW-rewrite every bucket fragmented into
    ``min_files`` or more base files — accumulated from
    ``max_records_per_file`` splits, multi-task writes, or repeated
    partial compactions — back to the table's current file-size policy
    (one file per bucket unless ``max_records_per_file`` splits it).

    A logically-empty commit: live state, schema, and bucket layout are
    unchanged (state-hash invariant); only file granularity changes.
    Buckets already at a single base file — and any bucket carrying MOR
    deltas (fold those with :func:`compact` first; folding is a
    semantic rewrite, bin-packing is layout-only) — are left alone.
    Legacy-spec files are migrated by the same closure rule as every
    rewrite. Idempotent by deterministic snapshot id; returns the new
    id (current id when nothing is fragmented).
    """
    m = table.manifest()
    per_bucket = Counter(f.bucket for f in m.files)
    # delta coverage in CURRENT-spec space: raw-id matching would let
    # this layout-only pass rewrite (= semantically FOLD) delta stacks
    # it documents itself as leaving alone
    delta = m.delta_cover(m.files)
    # the closure rule migrates legacy files whole: block every bucket
    # a legacy file spans when it spans a delta-covered one.
    # grow_buckets only multiplies the count, so legacy covers nest and
    # this one level is the whole closure
    blocked = delta | {
        b
        for f in m.files
        if m.entry_covers(f, delta)
        for b in range(f.bucket, m.n_buckets, f.spec_n or m.n_buckets)
    }
    frag = [
        b for b, n in per_bucket.items() if n >= min_files and b not in blocked
    ]
    if not frag:
        return m.snapshot_id
    return _rewrite_buckets(
        spark, table, m, frag, f"binpack:{min_files}:{m.snapshot_id}"
    )


def purge_tombstones(
    spark: SparkSession,
    table: LakeletTable,
    older_than: str,
) -> str:
    """Drop soft-delete tombstone rows whose ``warc_ts`` is older than
    ``older_than`` (ISO timestamp) — a logically-empty commit (the live
    state is unchanged; only the delete frontier is compacted).

    Safe once no event older than ``older_than`` can still arrive (the
    stream's lateness bound / the ledger watermark): a tombstone's only
    job is to out-LWW late re-deliveries of its key. COW rewrites only
    the buckets that actually hold old tombstones. Returns the new
    snapshot id (current id if nothing to purge). Idempotent by
    deterministic snapshot id.
    """
    m = table.manifest()
    is_old_tomb = (
        F.coalesce(F.col("_deleted"), F.lit(False))
        # null-safe: a NULL-warc_ts tombstone has UNKNOWN age — it must
        # be conservatively kept. A bare `<` yields SQL NULL there, and
        # the kept-rows filter(~NULL) below would silently PURGE it,
        # letting a late redelivery of the deleted key resurrect
        & F.coalesce(
            F.col("warc_ts") < F.lit(older_than).cast("timestamp"),
            F.lit(False),
        )
    )
    # the detection scan prunes at the MANIFEST level: files whose
    # footer-stat warc_ts range starts after the cutoff can't hold an
    # old tombstone and are never handed to Spark
    touched = table.touched_buckets(
        table.read(spark, ts_not_after=older_than)
        .filter(is_old_tomb)
        .select(table.key_col)
    )
    if not touched:
        return m.snapshot_id
    return _rewrite_buckets(
        spark, table, m, touched,
        f"purge_tombstones:{older_than}:{m.snapshot_id}",
        keep=~is_old_tomb,
    )


def expire_snapshots(
    table: LakeletTable,
    keep_last: int = 3,
    also_keep: set[str] | frozenset[str] = frozenset(),
    in_flight_grace_secs: float = 0.0,
    older_than_secs: float | None = None,
) -> dict:
    """Expire all but the last ``keep_last`` snapshots of the current
    chain, then garbage-collect data files no surviving manifest
    references. ``also_keep`` pins additional snapshot ids regardless
    of age — release manifests pass the ids they reference so a
    release-pinned cut can never be GC'd out from under an AS-OF
    reader (use :func:`clinvar_ingest_spark.lakelet.release
    .expire_releases` for the release-aware sweep).

    ``older_than_secs``: Iceberg's retention-by-age form — only
    snapshots whose ``committed_at`` is older than now − this many
    seconds are expirable (on top of keep_last/pins; a snapshot
    without a stamp — genesis — is conservatively KEPT). Both
    retention rules must agree before anything expires.

    ``in_flight_grace_secs``: with OPTIMISTIC multi-writer commits a
    concurrent writer may have written its manifest (or promoted data
    files) but not yet won its head CAS — such artifacts are off the
    committed chain and would look expirable. Anything younger than
    the grace window is left alone (manifest AND data file mtimes), so
    set it above your longest commit duration when expiry can run
    concurrently with writers; 0 (default) preserves exact single-
    writer semantics. Unattended entry points (jobs/maintain.py,
    jobs/fanout_release.py) default it to 600 s.
    Returns {'expired': [...], 'deleted_files': n}."""
    import time as _time

    if table.branch is not None:
        # retention (chain[-keep_last:]) and the head-pointer GC below
        # are MAIN-chain-scoped; run from a branch view, 'the chain'
        # would be the branch's, every post-fork main snapshot would be
        # unpinned, and phase 2 would delete main's data files — GC of
        # the wrong chain. Branch heads are pinned automatically when
        # expiry runs on the main table; drop_branch() unpins.
        raise ValueError(
            f"expire_snapshots must run on the MAIN table, not branch "
            f"{table.branch!r} (use LakeletTable.load(root))"
        )

    now = _time.time()

    def _in_grace(path: str) -> bool:
        if in_flight_grace_secs <= 0:
            return False
        try:
            return now - os.path.getmtime(path) < in_flight_grace_secs
        except FileNotFoundError:
            return False

    chain = table.history()  # oldest readable .. current
    keep = set(chain[-keep_last:]) if keep_last > 0 else {chain[-1]}
    keep |= set(also_keep)
    # pin every branch head and tag target: a branch stays readable and
    # committable (its head manifest is the parent of its next commit)
    # and a tagged snapshot stays readable, no matter how far the main
    # chain advances. Dropping the branch / deleting the tag unpins.
    from clinvar_ingest_spark.lakelet.manifest import latest_pointer

    for b in table.branches():
        h = latest_pointer(os.path.join(table._branches_dir(), b))
        if h is not None:
            keep.add(h[1]["snapshot_id"])
    keep |= set(table.tags().values())

    expired = []
    for p in glob.glob(os.path.join(table.manifest_dir, "*.json")):
        name = os.path.basename(p)
        # skip the _expired marker and the head-chain CAS pointers
        if name.startswith("_") or name.startswith("head-"):
            continue
        sid = name[:-5]
        if sid in keep or _in_grace(p):
            continue
        if older_than_secs is not None:
            at = read_json(p).get("summary", {}).get("committed_at")
            # conservative retention: an unstamped manifest (genesis,
            # pre-stamp era) is KEPT — age-based GC must never guess old
            if at is None or now - at < older_than_secs:
                continue
        expired.append(sid)

    # phase 0: record the expired ids (audit trail; lets operators
    # distinguish "snapshot expired" from "snapshot never existed")
    if expired:
        from clinvar_ingest_spark.lakelet.manifest import atomic_write_json

        tomb_path = os.path.join(table.manifest_dir, "_expired.json")
        prior: list[str] = []
        if os.path.exists(tomb_path):
            prior = read_json(tomb_path).get("expired", [])
        atomic_write_json(tomb_path, {"expired": sorted(set(prior) | set(expired))})

    # phase 1: remove expired manifests (each removal atomic), plus the
    # head-chain pointers that reference them (NEVER the latest head —
    # it anchors current_snapshot_id). Expired-head GC keeps the
    # manifest-dir listing bounded over the table's lifetime.
    # every unlink tolerates already-gone files: a CAS-losing writer's
    # conflict cleanup may delete the same orphans concurrently
    import contextlib

    expired_set = set(expired)
    for sid in expired:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(os.path.join(table.manifest_dir, f"{sid}.json"))
    latest = table._latest_head()
    for p in glob.glob(os.path.join(table.manifest_dir, "head-*.json")):
        try:
            ptr = read_json(p)
        except Exception:
            continue
        if (
            ptr.get("snapshot_id") in expired_set
            and latest is not None
            and ptr.get("commit_seq") != latest[0]
        ):
            with contextlib.suppress(FileNotFoundError):
                os.unlink(p)

    # phase 2: delete data files referenced by NO surviving manifest.
    # Surviving segmented manifests also pin their file-list SEGMENTS
    # (content-addressed, shared across snapshots — a segment is live
    # while any surviving manifest refs it).
    live_files: set[str] = set()
    live_segs: set[str] = set()
    for p in glob.glob(os.path.join(table.manifest_dir, "*.json")):
        name = os.path.basename(p)
        if name.startswith("_") or name.startswith("head-"):
            continue
        man = Manifest.from_json(read_json(p), seg_dir=table._seg_dir())
        live_segs.update(s.ref for s in man.segments)
        live_files.update(f.path for f in man.files)

    deleted = 0
    for p in glob.glob(os.path.join(table.data_dir, "*.parquet")):
        rel = os.path.relpath(p, table.root)
        # grace also protects freshly-promoted files whose writer
        # hasn't written its manifest yet (mid-commit)
        if rel not in live_files and not _in_grace(p):
            try:
                os.unlink(p)
                deleted += 1
            except FileNotFoundError:
                pass  # a conflict-cleanup deleted it first

    # phase 3: sweep orphan file-list segments — exclusive segments of
    # expired snapshots and CAS-losing writers' rewrites (conflict
    # cleanup deliberately leaves segments alone: content-addressing
    # means a loser's segment can be byte-identical to a live one, so
    # only this global refcount-by-sweep may delete them). Grace
    # protects segments written by an in-flight commit whose manifest
    # isn't on disk yet.
    deleted_segs = 0
    for p in glob.glob(os.path.join(table._seg_dir(), "seg-*.json")):
        ref = os.path.basename(p)[4:-5]
        if ref not in live_segs and not _in_grace(p):
            try:
                os.unlink(p)
                deleted_segs += 1
            except FileNotFoundError:
                pass

    return {
        "expired": sorted(expired),
        "deleted_files": deleted,
        "deleted_segments": deleted_segs,
    }


# ------------------------------------------------------------------ clone


def clone_table(
    src,
    dest_root: str,
    snapshot_id: str | None = None,
    deep: bool = False,
):
    """Metadata-only table clone — Delta ``SHALLOW CLONE`` / Iceberg
    snapshot-table analogue. Creates a NEW table root whose genesis
    manifest references the source snapshot's data files in place
    (absolute paths; reads resolve them because ``os.path.join(root,
    abs)`` is ``abs``). O(metadata) regardless of table size: cloning
    a 100 TB table writes one manifest and its file-list segments.

    Divergence is copy-on-write: the first commit on the clone rewrites
    only its touched buckets into the clone's own ``data/`` (relative
    paths), and every deletion path in this format constructs
    candidates from the table's OWN root (GC globs its own data_dir;
    conflict cleanup unlinks writer-staged relative paths), so a clone
    can never delete source-owned bytes.

    Caveat (same as Delta shallow clones): ``expire_snapshots`` on the
    SOURCE may delete files a shallow clone still references — shallow
    clones are for short-lived experiments/branch-offs; pass
    ``deep=True`` (copies the files) for an owning clone, or pin the
    source snapshot with ``create_tag``.

    The clone starts a fresh head chain (commit_seq 0), drops
    source-lineage summary keys (watermarks naming source snapshot ids),
    and keeps schema history / stats declarations / sort-order claims —
    time travel on the clone begins at the clone point, mirroring
    Iceberg's snapshot-table semantics.
    """
    import dataclasses
    import shutil

    from clinvar_ingest_spark.lakelet.table import LakeletTable

    src_sid = (
        src.resolve_ref(snapshot_id) if snapshot_id else src.current_snapshot_id()
    )
    m = src.manifest(src_sid)
    dest = LakeletTable(dest_root)
    if dest._latest_head() is not None:
        raise FileExistsError(f"lakelet table already exists at {dest_root}")
    os.makedirs(dest.manifest_dir, exist_ok=True)
    os.makedirs(dest.data_dir, exist_ok=True)

    new_files = []
    for i, f in enumerate(m.files):
        src_path = os.path.abspath(os.path.join(src.root, f.path))
        if deep:
            # a shallow-clone source stores absolute f.path — joining
            # it onto dest.root would resolve back to the SOURCE file
            # (copyfile(src, src) → SameFileError, and the deep clone
            # would not own its bytes). Rewrite absolute entries to a
            # dest-relative data/ path before copying.
            rel = (
                os.path.join("data", f"clone-{i:06d}-{os.path.basename(f.path)}")
                if os.path.isabs(f.path)
                else f.path
            )
            dst_path = os.path.join(dest.root, rel)
            os.makedirs(os.path.dirname(dst_path), exist_ok=True)
            shutil.copyfile(src_path, dst_path)
            new_files.append(dataclasses.replace(f, path=rel))
        else:
            new_files.append(dataclasses.replace(f, path=src_path))

    batch_id = f"clone-{src_sid}"
    # lineage-bound summary keys point at SOURCE snapshot ids — they
    # must not survive into a table whose history starts here (the
    # commit stamps its own commit_seq and committed_at)
    summary = {
        k: v
        for k, v in m.summary.items()
        if k not in ("commit_seq", "committed_at")
        and not k.startswith("indexed_")
    }
    summary["cloned_from"] = os.path.abspath(src.root)
    summary["source_snapshot"] = src_sid
    summary["clone_mode"] = "deep" if deep else "shallow"
    segments, width = dest._segment_all(new_files, m.n_buckets)
    # a concurrent clone to the same root computes the same genesis id:
    # its losing link is a benign same-id slot
    dest._commit_manifest(
        Manifest(
            snapshot_id=snapshot_id_for(None, batch_id, m.schema_version),
            parent_id=None,
            batch_id=batch_id,
            schema_version=m.schema_version,
            n_buckets=m.n_buckets,
            schemas=m.schemas,
            summary=summary,
            segments=segments,
            segment_width=width,
        ),
        None,
    )
    return dest


@dataclass
class MaintenancePolicy:
    """Thresholds for :func:`auto_maintain` — the unattended
    "auto-optimize" loop every managed lakehouse runs (Delta's
    auto-compaction, Iceberg's maintenance actions, as one policy
    object). ``None`` disables an action."""

    #: fold MOR delta stacks when this many buckets carry deltas
    compact_delta_buckets: int | None = 1
    #: bin-pack buckets fragmented into >= this many base files
    binpack_min_files: int | None = 4
    #: keep at most this many snapshots (age guard via expire_grace)
    expire_keep_last: int | None = 8
    #: only expire snapshots older than this many seconds
    expire_older_than_secs: float | None = 3600.0
    #: concurrent-writer grace window passed to expire_snapshots
    in_flight_grace_secs: float = 600.0
    #: purge tombstones whose LWW position is older than this ISO ts
    #: (None = never — set it to your stream's lateness bound)
    purge_tombstones_before: str | None = None


def auto_maintain(
    spark: SparkSession,
    table: LakeletTable,
    policy: MaintenancePolicy | None = None,
) -> dict:
    """One policy-driven maintenance pass; returns what ran.

    Order matters and is fixed: (1) fold deltas (semantic rewrite —
    must precede layout work, bin-pack skips delta-covered buckets),
    (2) purge aged tombstones, (3) bin-pack fragmented buckets,
    (4) expire old snapshots + GC. Every action is the existing
    idempotent primitive, so the whole pass is crash-safe and
    re-runnable; live state is unchanged by construction (the
    state-hash invariant each primitive already tests). Actions whose
    threshold is not met are skipped — an empty dict means the table
    needed nothing.

    At 10^10 rows the decision inputs are manifest METADATA only
    (file counts per bucket, delta flags, snapshot stamps) — deciding
    costs no data I/O; only the chosen actions touch data, each
    pruned to its own buckets.
    """
    pol = policy or MaintenancePolicy()
    did: dict = {}

    if (
        pol.compact_delta_buckets is not None
        and len(table.delta_buckets()) >= pol.compact_delta_buckets
    ):
        sid = compact(spark, table)
        if sid:
            did["compact"] = sid

    if pol.purge_tombstones_before is not None:
        before = table.current_snapshot_id()
        sid = purge_tombstones(spark, table, pol.purge_tombstones_before)
        if sid != before:
            did["purge_tombstones"] = sid

    if pol.binpack_min_files is not None:
        before = table.current_snapshot_id()
        sid = rewrite_small_files(spark, table, pol.binpack_min_files)
        if sid != before:
            did["binpack"] = sid

    if pol.expire_keep_last is not None:
        res = expire_snapshots(
            table,
            keep_last=pol.expire_keep_last,
            older_than_secs=pol.expire_older_than_secs,
            in_flight_grace_secs=pol.in_flight_grace_secs,
        )
        if res.get("expired"):
            did["expire"] = {
                "expired": len(res["expired"]),
                "deleted_files": res.get("deleted_files", 0),
            }

    return did
