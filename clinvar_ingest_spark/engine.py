"""CdcEngine — binlog/WAL tail → lake upsert, end to end.

The Spark re-expression of the reference's release lifecycle
(reference: orchestration/templates/ingest-clinvar-release-e2e.yaml:24-64;
phases README.md:48-78):

    reference                       this engine
    ---------                       -----------
    weekly XML release              changelog offset range (micro-batch)
    xml_archive existence gate      ledger.is_committed(batch_id)
    Dataflow parse+dedup            per-bucket Arrow kernel: LWW + extraction
    BigQuery 3-way diff             the same kernel classifies vs current state
    TDR soft-delete + append        copy-on-write bucket rewrite
    TDR snapshot cut                atomic manifest commit (deterministic id)
    processing_history row          ledger + lineage record
    Kafka diff export               diff_snapshots / export_diff_ndjson

Replay from any checkpoint reconverges: state after batch k is a pure
function of (genesis, batches 0..k) — LWW is order-insensitive across
re-deliveries and the commit is idempotent by deterministic snapshot id.
"""

from __future__ import annotations

import logging
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clinvar_ingest_spark.lakelet import maintenance, manifest
from clinvar_ingest_spark.lakelet.table import LakeletTable, PAGES_COLUMNS
from clinvar_ingest_spark.operators import diff as diff_ops
from clinvar_ingest_spark.operators.merge import MergeStats
from clinvar_ingest_spark.streaming.ledger import (
    Ledger,
    LineageRecord,
    batch_id_for,
)

logger = logging.getLogger(__name__)


class CdcEngine:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        n_buckets: int = 16,
        write_mode: str = "cow",
        branch: str | None = None,
        validate: bool | list = False,
        max_records_per_file: int | None = None,
        patch_ops: bool = False,
        retry_policy=None,
    ):
        """``write_mode``: 'cow' (default; every apply rewrites touched
        buckets through the per-bucket Arrow merge kernel,
        :mod:`~clinvar_ingest_spark.operators.merge_cogroup`, and reads
        stay resolve-free) or 'mor' (merge-on-read:
        applies APPEND delta files — cost ∝ batch size, never bucket
        size — and reads LWW-resolve until :meth:`compact` folds the
        stack; identical logical state, A/B'd by state hash). MOR
        batches that need COW carry-over semantics (post-evolution
        columns the batch doesn't speak) automatically fall back to a
        COW apply.

        ``branch``: apply onto a named branch instead of the main chain
        (created at the current main snapshot if absent — metadata-only
        fork; write-audit-publish). Main stays untouched until
        :meth:`publish`; the branch has its own exactly-once ledger, so
        replaying the same changelog on a fresh branch re-applies from
        the fork point rather than no-opping against main's history.

        ``validate``: True enables dead-letter routing with the default
        rules (null key / null warc_ts / unknown op), or pass an ordered
        list of :class:`~clinvar_ingest_spark.operators.validate.
        ValidationRule`. Violating events are quarantined (idempotently,
        inside the exactly-once envelope) instead of poisoning the
        merge; read them back with :meth:`quarantined`."""
        if write_mode not in ("cow", "mor"):
            raise ValueError(f"unknown write mode {write_mode!r}")
        if patch_ops and write_mode == "mor":
            raise ValueError(
                "patch_ops requires write_mode='cow': a patch delta row "
                "is not self-contained, so MOR read resolution cannot "
                "layer it (same carry-over reasoning as "
                "MorCarryoverRequired)"
            )
        self.spark = spark
        # transient-IO retry envelope around every batch commit
        # (reference's jittered TDR-job polling, poll-ingest-job.py:46-56);
        # None → the RetryPolicy defaults
        self.retry_policy = retry_policy
        #: transient commit errors retried so far (observable alongside
        #: the per-batch lineage; each is also logged at WARNING)
        self.retries_total = 0
        self.write_mode = write_mode
        cols = PAGES_COLUMNS
        if patch_ops:
            from clinvar_ingest_spark.lakelet.table import ColumnSpec

            # cell-level LWW lineage: per-cell positions that differ
            # from the row position; with it the apply kernel
            # (operators/merge_cogroup.py) folds op='patch' as a
            # partial write
            cols = PAGES_COLUMNS + [ColumnSpec(9, "_cells", "string")]
        self.table = LakeletTable.create(root, cols, n_buckets=n_buckets)
        actual_buckets = self.table.manifest().n_buckets
        if actual_buckets != n_buckets:
            # create() is idempotent and returns the EXISTING table —
            # the argument does not resize anything (grow_buckets does).
            # Say so instead of letting the caller believe they raised
            # bucket granularity.
            logger.warning(
                "table at %s already exists with n_buckets=%d; the "
                "requested n_buckets=%d is ignored (use "
                "table.grow_buckets() to change partitioning)",
                root, actual_buckets, n_buckets,
            )
        if patch_ops and not any(
            c.name == "_cells" for c in self.table.manifest().columns
        ):
            raise ValueError(
                "patch_ops=True on a table created without the _cells "
                "lineage column — per-cell positions cannot be "
                "persisted; recreate the table with patch_ops=True"
            )
        if branch is not None:
            try:  # attach to a live branch (resume) or fork at current
                self.table = self.table.for_branch(branch)
            except FileNotFoundError:
                self.table.create_branch(branch)
                self.table = self.table.for_branch(branch)
        # file-size policy: split each bucket's output into files of at
        # most this many rows (Spark maxRecordsPerFile). At 100 TB a hot
        # bucket must not become one monolithic file; promotion, reads,
        # point lookups and compaction handle multi-file buckets
        # natively, so this is purely a layout knob.
        self.table.max_records_per_file = max_records_per_file
        self.ledger = Ledger(self.table.ledger_dir)
        self._rules = None
        self.quarantine = None
        if validate:
            from clinvar_ingest_spark.operators.validate import (
                Quarantine,
                default_rules,
            )

            allowed_ops = (
                ("insert", "update", "delete", "patch")
                if patch_ops
                else ("insert", "update", "delete")
            )
            self._rules = (
                default_rules(self.table.key_col, ops=allowed_ops)
                if validate is True
                else list(validate)
            )
            qdir = (
                os.path.join(root, "quarantine")
                if branch is None
                else os.path.join(root, "quarantine", "branches", branch)
            )
            self.quarantine = Quarantine(qdir)

    # ------------------------------------------------------------------ apply

    def apply_batch(
        self,
        batch: DataFrame,
        first_seq: int,
        last_seq: int,
        assume_all_buckets: bool = False,
        max_commit_retries: int = 5,
        partial_to: int | None = None,
    ) -> MergeStats | None:
        """Apply one micro-batch exactly once. Returns None on skip
        (already committed — the reference's short-circuit,
        process-and-reingest-release.yaml:37-51).

        Multi-writer safe: the table's commit is an optimistic CAS on
        the manifest head. Losing the race raises CommitConflictError
        inside the merge; this loop re-runs the whole plan against the
        NEW current snapshot (the merge itself re-reads state, so a
        retry is a full re-diff — never a blind re-commit). If the
        competing writer applied this very batch, the re-check turns
        the retry into a no-op skip.

        Transient IO errors inside the commit get their own bounded
        jittered-backoff envelope (``retry_policy``; reference parity:
        poll-ingest-job.py:46-56) — every commit is idempotent by
        deterministic batch id, so a transient retry reconverges to the
        same snapshot. OCC conflicts pass through the envelope to THIS
        loop, which re-plans instead of blindly re-committing."""
        from clinvar_ingest_spark.lakelet.table import CommitConflictError
        from clinvar_ingest_spark.retry import with_retries

        bid = batch_id_for(first_seq, last_seq)
        if self.ledger.is_committed(bid):
            # fast path for resume-from-zero replays over a long
            # committed prefix: one os.path.exists per skipped batch,
            # no manifest read. _apply_batch_once re-checks for the
            # racing-writer window.
            return None

        def _log_retry(attempt: int, err: BaseException, delay: float) -> None:
            # transient commit errors are retried, not swallowed: every
            # attempt is visible to operators (and a hard failure like
            # ENOSPC shows up attempts-1 times before it finally raises,
            # instead of a silent 15-20 s stall)
            self.retries_total += 1
            logger.warning(
                "transient error applying batch %s (attempt %d): %s — "
                "retrying in %.2fs",
                bid, attempt, err, delay,
            )

        last_err: CommitConflictError | None = None
        for _attempt in range(max_commit_retries):
            try:
                return with_retries(
                    lambda: self._apply_batch_once(
                        batch, first_seq, last_seq, assume_all_buckets,
                        partial_to=partial_to,
                    ),
                    self.retry_policy,
                    on_retry=_log_retry,
                )
            except CommitConflictError as e:
                last_err = e
                continue
        raise RuntimeError(
            f"batch {batch_id_for(first_seq, last_seq)} lost the commit "
            f"race {max_commit_retries} times"
        ) from last_err

    def _apply_batch_once(
        self,
        batch: DataFrame,
        first_seq: int,
        last_seq: int,
        assume_all_buckets: bool = False,
        partial_to: int | None = None,
    ) -> MergeStats | None:
        batch_id = batch_id_for(first_seq, last_seq)
        if self.ledger.is_committed(batch_id):
            # The ledger record is written strictly AFTER the manifest
            # commit, so its existence alone proves the batch applied.
            # Do NOT additionally require the snapshot manifest to still
            # exist: expire_snapshots legitimately deletes old manifests,
            # and falling through here would re-merge a committed batch
            # onto *later* state (resurrecting deleted keys, corrupting
            # the ledger record). Trust the ledger.
            return None
        cur = self.table.manifest()
        if (
            cur.batch_id == batch_id
            and cur.snapshot_id != self.table.fork_snapshot_id()
        ):
            # crash after manifest commit, before ledger append (the
            # reference's file-ingested-but-row-missing case,
            # ingest-xml-archive.yaml:206-294): the table already holds
            # this batch — repair the ledger, never re-merge. The fork
            # guard: a branch's seed snapshot carries the PARENT chain's
            # last batch_id; if the branch's first aligned batch shares
            # that id (fork cut mid-range), the branch never applied it —
            # fall through and merge (LWW makes any overlap a no-op).
            #
            # Frontier: the crashed commit stamped ITS delivered
            # frontier into the manifest summary (apply_partial_to,
            # atomic with the commit). The repairing caller's own
            # partial_to may reflect a LATER delivery — stamping it
            # would mark events complete the crashed apply never merged
            # (skip-and-lose); the fallback to the caller's value only
            # covers pre-stamp legacy snapshots.
            if "apply_partial_to" in cur.summary:
                repaired_to = cur.summary["apply_partial_to"]
            else:  # pragma: no cover - tables written before the stamp
                logger.warning(
                    "repairing ledger for batch %s from a pre-stamp "
                    "snapshot: trusting this replay's frontier %r",
                    batch_id, partial_to,
                )
                repaired_to = partial_to
            self.ledger.record(
                LineageRecord(
                    batch_id=batch_id,
                    snapshot_id=cur.snapshot_id,
                    first_seq=first_seq,
                    last_seq=last_seq,
                    n_events=0, n_inserts=0, n_updates=0, n_deletes=0,
                    touched_buckets=0, watermark=None,
                    wall_secs=0.0, events_per_sec=0.0,
                    partial_to=repaired_to,
                )
            )
            return None
        n_quarantined = 0
        if self._rules is not None:
            # dead-letter routing INSIDE the exactly-once envelope:
            # written before the table commit (crash-rerun overwrites
            # the same deterministic content), skipped with the batch
            # when the ledger short-circuits above
            from clinvar_ingest_spark.operators.validate import (
                TAG_COL,
                tag_invalid,
            )

            tagged = tag_invalid(batch, self._rules)
            n_quarantined = self.quarantine.write_batch(
                tagged.filter(F.col(TAG_COL).isNotNull()), batch_id
            )
            batch = tagged.filter(F.col(TAG_COL).isNull()).drop(TAG_COL)
        t0 = time.time()
        stats = None
        if self.write_mode == "mor":
            from clinvar_ingest_spark.operators.merge import (
                MorCarryoverRequired,
                merge_apply_mor,
            )

            try:
                stats = merge_apply_mor(
                    self.spark, self.table, batch, batch_id,
                    partial_to=partial_to,
                )
            except MorCarryoverRequired:
                stats = None  # fall through to a COW apply of this batch
        if stats is None:
            from clinvar_ingest_spark.operators.merge_cogroup import (
                merge_apply_cogrouped,
            )

            stats = merge_apply_cogrouped(
                self.spark, self.table, batch, batch_id,
                assume_all_buckets=assume_all_buckets,
                partial_to=partial_to,
            )
        wall = time.time() - t0

        self.ledger.record(
            LineageRecord(
                batch_id=batch_id,
                snapshot_id=stats.snapshot_id,
                first_seq=first_seq,
                last_seq=last_seq,
                n_events=stats.n_events,
                n_inserts=stats.n_inserts,
                n_updates=stats.n_updates,
                n_deletes=stats.n_deletes,
                touched_buckets=stats.touched_buckets,
                watermark=stats.watermark,
                wall_secs=round(wall, 4),
                events_per_sec=round(stats.n_events / wall, 2) if wall > 0 else 0.0,
                mode=stats.mode,
                n_upserts=stats.n_upserts,
                n_quarantined=n_quarantined,
                partitions=[
                    {"bucket": b, "rows": r}
                    for b, r in sorted(stats.bucket_rows.items())
                ],
                partial_to=partial_to,
            )
        )
        return stats

    def compact(self, buckets: list[int] | None = None) -> str | None:
        """Fold this engine's merge-on-read deltas (optionally only
        ``buckets``) back into base files; see
        :func:`~clinvar_ingest_spark.lakelet.maintenance.compact`.
        Returns the new snapshot id, or None if nothing to compact."""
        return maintenance.compact(self.spark, self.table, buckets)

    def publish(self, expected_parent_id: str | None = None) -> str:
        """Write-audit-publish, final step for a ``branch=`` engine:
        atomically fast-forward the MAIN chain to this branch's current
        snapshot (metadata-only squash via the head-chain CAS —
        idempotent, OCC-guarded; raises CommitConflictError if main
        moved since the fork). Audit between replay() and publish() by
        querying this engine's live()/pages() — main is untouched until
        here, so a failed audit is just drop_branch, no rollback."""
        if self.table.branch is None:
            raise ValueError("publish() requires a branch engine (branch=...)")
        main = LakeletTable.load(self.table.root)
        return main.publish_branch(self.table.branch, expected_parent_id)

    def replay(
        self,
        changelog: DataFrame,
        batch_size: int,
        from_seq: int | None = None,
        compact_every: int | None = None,
    ) -> list[MergeStats]:
        """Drive the micro-batch loop over a changelog DataFrame.

        ``from_seq=None`` resumes from the ledger checkpoint — replaying
        a changelog against a half-applied table continues where it
        stopped; replaying from 0 no-ops the committed prefix.

        ``compact_every=k`` folds merge-on-read deltas after every k
        applied batches AND once at the end — the deployment cadence
        for ``write_mode='mor'`` (ignored when no deltas exist).

        Delivery is assumed **in seq order**: once any event with
        seq > s has arrived, every event with seq ≤ s has arrived. A
        tail batch whose id range overruns the delivered stream commits
        with ``partial_to`` = the stream's max seq; when a later replay
        delivers events past that point, only the uncommitted
        (partial_to, last_seq] remainder is applied (its own
        deterministic batch id) — so a growing log replayed repeatedly
        through the same grid is exactly-once, never skip-and-lose.
        """
        bounds = changelog.agg(
            F.min("seq").alias("lo"), F.max("seq").alias("hi")
        ).collect()[0]
        if bounds["lo"] is None:
            return []
        lo = int(bounds["lo"]) if from_seq is None else from_seq
        hi = int(bounds["hi"])
        out: list[MergeStats] = []
        start = lo - (lo % batch_size)
        n_buckets = self.table.manifest().n_buckets
        applied_since_compact = 0

        def _all_buckets(n_delivered: int) -> bool:
            # events ≫ buckets ⇒ every bucket is statistically touched;
            # skip the per-batch touched-buckets job (see
            # merge_apply_cogrouped). Sized from the ACTUAL delivered
            # sub-range, not the nominal grid width: a 10-event tail
            # batch or heal remainder must never trigger a full-table
            # COW rewrite just because batch_size is large.
            return n_delivered >= 50 * n_buckets

        def _deferred_compact() -> None:
            # a concurrent writer landing between our apply and this
            # compaction makes the fold's CAS lose — that must defer
            # the compaction to the next cadence, not abort the replay
            # mid-changelog (apply_batch already retries ITS conflicts;
            # compaction is pure maintenance and re-runnable any time)
            from clinvar_ingest_spark.lakelet.table import (
                CommitConflictError,
            )

            try:
                self.compact()
            except CommitConflictError as e:
                logger.warning(
                    "deferring compaction after commit conflict: %s", e
                )

        def _account(stats) -> None:
            nonlocal applied_since_compact
            out.append(stats)
            applied_since_compact += 1
            if compact_every and applied_since_compact >= compact_every:
                _deferred_compact()
                applied_since_compact = 0

        for first in range(start, hi + 1, batch_size):
            last = first + batch_size - 1
            partial = hi if last > hi else None
            # apply the grid range, or heal a partially-committed one:
            # each lap applies ONLY the uncommitted remainder under its
            # own deterministic id (first lap: the whole range), then
            # advances (or clears) the grid record's frontier. The
            # frontier walks the chain of COMMITTED records instead of
            # trusting this replay's hi: a crashed (or racing) healer
            # may have committed a remainder that covers LESS than the
            # now-delivered stream, and stamping our own hi over it
            # would mark its tail complete without ever applying it
            # (skip-and-lose).
            frontier: int | None = first - 1
            while frontier is not None and frontier < min(last, hi):
                lap_first = frontier + 1
                rec = self.ledger.get(batch_id_for(lap_first, last))
                if rec is None:
                    b = changelog.filter(
                        (F.col("seq") >= lap_first) & (F.col("seq") <= last)
                    )
                    stats = self.apply_batch(
                        b, lap_first, last,
                        assume_all_buckets=_all_buckets(
                            min(last, hi) - lap_first + 1
                        ),
                        partial_to=partial,
                    )
                    if stats is not None:
                        _account(stats)
                        frontier = partial
                    else:
                        # skip inside the apply (crash-repair or a lost
                        # commit race): the committed record — possibly
                        # another writer's, covering less than our hi —
                        # holds the true frontier, healed NOW rather
                        # than deferred to some future replay
                        rec = self.ledger.get(batch_id_for(lap_first, last))
                        frontier = (
                            rec.get("partial_to") if rec is not None else partial
                        )
                else:
                    # already committed: adopt ITS frontier (None =
                    # covered through last) and keep walking — the next
                    # lap applies whatever is left
                    frontier = rec.get("partial_to")
                if lap_first > first:
                    self.ledger.update(
                        batch_id_for(first, last), partial_to=frontier
                    )
        if compact_every and applied_since_compact:
            _deferred_compact()
        return out

    # ------------------------------------------------------------------ reads

    def quarantined(self) -> DataFrame | None:
        """Every dead-lettered event (original columns + ``reason`` +
        ``batch_id``) across all applied batches; None when validation
        is off or nothing was ever quarantined."""
        return None if self.quarantine is None else self.quarantine.read(self.spark)

    def read(self, snapshot_id: str | None = None) -> DataFrame:
        """Raw snapshot rows including lineage columns and soft-delete
        tombstones (``_deleted = true``)."""
        return self.table.read(self.spark, snapshot_id)

    def live(self, snapshot_id: str | None = None) -> DataFrame:
        """Snapshot rows minus tombstones (all columns)."""
        return self.read(snapshot_id).filter(
            ~F.coalesce(F.col("_deleted"), F.lit(False))
        )

    def pages(self, snapshot_id: str | None = None) -> DataFrame:
        """User-facing view: input_hint columns only (lineage cols hidden,
        tombstones filtered)."""
        return self.live(snapshot_id).select("url", "warc_ts", "html", "text", "lang")

    def lookup(
        self,
        url: str,
        snapshot_id: str | None = None,
        stats_out: dict | None = None,
    ) -> DataFrame:
        """Point lookup: planned from manifest metadata alone, with no
        Spark job before the scan — the key's hash bucket (computed on
        the driver) only, merge-on-read delta files skipped via per-file
        key bloom filters, key predicate pushed into the scan (see
        LakeletTable.read_key). The key-partitioned layout's answer to
        the reference's per-id API reads."""
        return self.table.read_key(
            self.spark, url, snapshot_id, stats_out=stats_out
        ).filter(~F.coalesce(F.col("_deleted"), F.lit(False)))

    # ------------------------------------------------------------------- diff

    def changed_buckets(
        self, old_snapshot: str, new_snapshot: str
    ) -> list[int] | None:
        """Buckets whose file sets differ between two snapshots.

        COW ⇒ a bucket whose file list is identical in both manifests
        holds identical rows and can't contribute to any diff or delta:
        callers restrict both scans to CHANGED buckets (manifest-level
        pruning — for an incremental hop this is |touched|/n_buckets of
        the table). Returns ``None`` (= full scan) across a rebucket
        boundary, where bucket ids are not comparable."""
        return manifest.changed_buckets(
            self.table.manifest(old_snapshot), self.table.manifest(new_snapshot)
        )

    def diff_snapshots(
        self, old_snapshot: str | None, new_snapshot: str, null_safe: bool = True
    ) -> DataFrame:
        """created/updated/deleted rows between two snapshots
        (reference: docker/diff/diff.py:117-182).

        ``old_snapshot=None`` is the reference's DATE-ABSENT branch
        (orchestration/templates/date-absent.yaml:26-121, selected by
        export-diff.yaml:34-41 when no preceding release exists): the
        whole new snapshot's live state is the diff, every row
        ``_change='created'`` — a first-release consumer bootstraps
        from it instead of erroring.

        The two snapshots may straddle schema-evolution commits: the old
        side is aligned to the NEW snapshot's schema by col_id
        name-mapping (renames follow, added columns backfill NULL,
        widened columns cast) before classification — so a pure rename
        never reports every row as updated.
        """
        if old_snapshot is None:
            return (
                self.live(new_snapshot)
                .drop("_seq", "_deleted", "_cells")
                .withColumn("_change", F.lit("created"))
            )
        new, old = self._live_pair(old_snapshot, new_snapshot)
        return diff_ops.diff_all(new, old, keys=[self.table.key_col], null_safe=null_safe)

    def _live_pair(
        self, old_snapshot: str, new_snapshot: str
    ) -> tuple[DataFrame, DataFrame]:
        """The live rows of the changed buckets (:meth:`changed_buckets`)
        of ``new_snapshot`` and ``old_snapshot``, both under the NEW
        snapshot's schema and without lineage columns — the input pair
        of :meth:`diff_snapshots` and :meth:`changelog_view`."""
        from clinvar_ingest_spark.lakelet.table import align_select

        new_m = self.table.manifest(new_snapshot)
        old_m = self.table.manifest(old_snapshot)
        buckets = self.changed_buckets(old_snapshot, new_snapshot)
        old = self.table.read(self.spark, old_snapshot, buckets=buckets)
        # align the old side to the NEW snapshot's schema by col_id —
        # the same recursive name-mapping the read path uses (renames
        # follow incl. nested struct fields, added columns backfill
        # NULL, widened columns cast), so a pure rename never reports
        # every row as updated
        sel = align_select(old_m.columns, new_m.columns)
        # LIVE rows only: a key whose winner became a tombstone between
        # the snapshots shows up as 'deleted', exactly like the
        # reference's soft-delete slice (diff.py:138-141)
        live = ~F.coalesce(F.col("_deleted"), F.lit(False))
        old = old.select(*sel).filter(live).drop("_seq", "_deleted", "_cells")
        new = (
            self.table.read(self.spark, new_snapshot, buckets=buckets)
            .filter(live)
            .drop("_seq", "_deleted", "_cells")
        )
        return new, old

    def changelog_view(
        self, old_snapshot: str, new_snapshot: str, null_safe: bool = True
    ) -> DataFrame:
        """Retract-form change feed between two snapshots — the Flink
        changelog / Iceberg ``create_changelog_view`` row kinds
        (insert / delete / update_before / update_after; updated keys
        emit their old AND new images). Same COW changed-bucket pruning
        and schema alignment as :meth:`diff_snapshots`; one shuffle
        (:func:`operators.diff.diff_changelog`). Consumers that
        understand retractions can keep downstream aggregates exactly
        correct under updates without rereading the table."""
        from clinvar_ingest_spark.operators.diff import diff_changelog

        new, old = self._live_pair(old_snapshot, new_snapshot)
        return diff_changelog(
            new, old, keys=[self.table.key_col], null_safe=null_safe
        )

    def export_diff_ndjson(
        self,
        old_snapshot: str | None,
        new_snapshot: str,
        out_dir: str,
        notify_sink=None,
    ) -> dict:
        """NDJSON slices per change type (reference: diff.py:185-207 export
        + date-present.yaml per-table get-created/deleted/updated).
        ``old_snapshot=None`` exports the full snapshot as
        ``change=created`` (date-absent.yaml:26-121 first-release path).

        ``notify_sink``: any ``bus.NotifySink`` — defaults to the file
        analogue (``_notify.json`` in the export dir); pass
        ``bus.KafkaNotifySink(...)`` for the reference's actual wire
        (notify-clingen-kafka.py parity) where a broker exists."""
        from pyspark.sql import Observation

        d = self.diff_snapshots(old_snapshot, new_snapshot)
        d = d.withColumn("html", F.base64("html"))  # binary → NDJSON-safe
        # ONE job: the diff is computed once, written partitioned by
        # change kind (out_dir/change=<kind>/), with per-kind counts
        # riding along as observe() metrics — no per-slice recompute.
        # The partition column is renamed `_change` → `change` for the
        # export: Hadoop/Spark's hidden-path filter skips directories
        # starting with '_', so a consumer reading the export root as a
        # partitioned dataset would silently see zero rows otherwise.
        obs = Observation()
        d = d.observe(
            obs,
            *[
                F.sum(F.when(F.col("_change") == k, 1).otherwise(0)).alias(k)
                for k in ("created", "updated", "deleted")
            ],
        )
        # microsecond timestamps: the default JSON format truncates
        # to ms, which breaks LWW round-trips on replayed slices
        (
            d.withColumnRenamed("_change", "change")
            .write.mode("overwrite")
            .partitionBy("change")
            .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
            .json(out_dir)
        )
        counts = {k: int(obs.get.get(k) or 0) for k in ("created", "updated", "deleted")}
        # notify record (reference: notify-clingen-kafka.py:17-48),
        # through the bus seam — file analogue by default, Kafka where
        # a broker exists
        from clinvar_ingest_spark.bus import FileNotifySink

        msg = {
            "old_snapshot": old_snapshot,
            "new_snapshot": new_snapshot,
            "files": sorted(
                os.path.relpath(p, out_dir)
                for kind in counts
                for p in _ls(os.path.join(out_dir, f"change={kind}"))
            ),
            "counts": counts,
        }
        sink = notify_sink or FileNotifySink(out_dir)
        try:
            sink.send(msg)
        finally:
            # a rejected notify must not leak the producer/file handle
            # (the export itself already landed; the caller may retry
            # the notify with a fresh sink)
            sink.close()
        return msg

    # ---------------------------------------------------------------- lineage

    def lineage(self) -> DataFrame:
        """Per-micro-batch lineage/metrics ledger as a DataFrame — the
        queryable analogue of the reference's processing_history table
        (README.md:30-41) + Kafka notify payloads
        (notify-clingen-kafka.py:17-48): batch_id, snapshot_id, offsets,
        action counts, watermark, events/sec, per-bucket row counts."""
        recs = self.ledger.all_records()
        import json as _json

        flat = [
            {**{k: v for k, v in r.items() if k != "partitions"},
             "partitions_json": _json.dumps(r.get("partitions", []))}
            for r in recs
        ]
        # explicit schema: dict-based inference fails when a column (e.g.
        # watermark) is None in every record (ledger-repair-only ledgers)
        schema = (
            "batch_id string, snapshot_id string, first_seq long, "
            "last_seq long, n_events long, n_inserts long, n_updates long, "
            "n_deletes long, touched_buckets long, watermark string, "
            "wall_secs double, events_per_sec double, mode string, "
            "n_upserts long, n_quarantined long, engine_version string, "
            "applied_at double, partitions_json string, partial_to long"
        )
        return self.spark.createDataFrame(
            [
                tuple(r.get(k) for k in (
                    "batch_id", "snapshot_id", "first_seq", "last_seq",
                    "n_events", "n_inserts", "n_updates", "n_deletes",
                    "touched_buckets", "watermark", "wall_secs",
                    "events_per_sec", "mode", "n_upserts", "n_quarantined",
                    "engine_version",
                    "applied_at", "partitions_json", "partial_to",
                ))
                for r in flat
            ],
            schema=schema,
        )

    # ------------------------------------------------------------- state hash

    def state_hash(
        self, snapshot_id: str | None = None, include_tombstones: bool = False
    ) -> str:
        """Order-insensitive content hash of the logical table state —
        the replay-convergence check (north rule: identical final state).
        ``include_tombstones=True`` hashes the full physical frontier
        (live rows + tombstones with their LWW position) — the stronger
        convergence check used by replay tests.

        Columns are derived from the manifest's CURRENT schema (sorted
        by col_id), so renamed/added/widened tables hash without code
        changes; binary columns hash by sha2. Every part is
        NULL-coalesced to a sentinel token so a null-field shift (e.g.
        text=NULL,lang='x' vs text='x',lang=NULL) can never collide.
        """
        from clinvar_ingest_spark.lakelet.table import _SPARK_TYPES

        m = self.table.manifest(snapshot_id)
        lineage = {"_seq", "_deleted", "_cells"}
        parts = []
        for c in sorted(m.columns, key=lambda c: c.col_id):
            if c.name in lineage:
                continue
            if c.type == "binary":
                col = F.sha2(F.col(c.name), 256)
            elif c.type in _SPARK_TYPES:
                col = F.col(c.name).cast("string")
            else:  # array / struct columns: canonical JSON rendering
                col = F.to_json(F.col(c.name))
            parts.append(F.coalesce(col, F.lit("\x00<NULL>")))
        if include_tombstones:
            df = self.read(snapshot_id)
            parts += [
                F.coalesce(F.col("_seq").cast("string"), F.lit("\x00<NULL>")),
                F.coalesce(F.col("_deleted").cast("string"), F.lit("\x00<NULL>")),
            ]
        else:
            df = self.live(snapshot_id)
        h = df.select(F.sha2(F.concat_ws("\x1f", *parts), 256).alias("h"))
        row = h.agg(
            F.sum(F.conv(F.substring("h", 1, 15), 16, 10).cast("decimal(38,0)")).alias("s"),
            F.count("*").alias("n"),
        ).collect()[0]
        return f"{row['n']}:{row['s']}"


def _ls(path: str):
    import glob as _g

    return _g.glob(os.path.join(path, "part-*"))
