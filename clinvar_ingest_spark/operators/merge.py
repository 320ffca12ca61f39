"""Merge-on-read apply and the shared apply vocabulary.

The per-bucket merge kernel and the copy-on-write apply live in
:mod:`merge_cogroup`; this module holds what every apply path shares —
:class:`MergeStats` lineage and the batch schema-drift mapping
(:func:`batch_alias_map`, :func:`_batch_payload_expr`) — and the
merge-on-read apply (:func:`merge_apply_mor`), which runs the same
kernel against an empty current side and appends its rows as delta
files without reading current state.

Semantics of the kernel on the tables merge-on-read serves (no patch
tables; those need COW), the row-LWW case of its cell fold:
one surviving event per ``url`` by ``(warc_ts, seq)`` — reference
``dedupByDate`` (ArchiveBranches.scala:140-156) with the deterministic
``seq`` tie-break (SURVEY.md §7(b)); delete winners become tombstones,
so a late event never resurrects a deleted key.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clinvar_ingest_spark.lakelet.table import LakeletTable, spark_type


@dataclass
class MergeStats:
    batch_id: str
    snapshot_id: str
    n_events: int
    n_keys: int
    n_inserts: int
    n_updates: int
    n_deletes: int
    touched_buckets: int
    watermark: str | None = None  # max warc_ts seen in the batch (ISO)
    bucket_rows: dict = field(default_factory=dict)  # per-bucket lineage
    write_secs: float = 0.0   # Spark write job (parallel phase)
    commit_secs: float = 0.0  # driver-side promote+segments+manifest+CAS (serial phase)
    #: "cow" (classified rewrite; insert/update split is exact) or "mor"
    #: (delta append; insert-vs-update is unknowable without reading the
    #: table, so upserts are reported under n_upserts and the split is 0)
    mode: str = "cow"
    n_upserts: int = 0


class MorCarryoverRequired(RuntimeError):
    """A merge-on-read apply cannot represent this batch: the table's
    current schema has payload columns the batch does not speak (schema
    evolution added them), and COW's carry-over semantics ("update keeps
    the current value of columns the batch lacks") require reading the
    current row. The engine catches this and falls back to a COW apply
    for the batch — correctness over write amplification."""

    def __init__(self, missing: list[str]):
        super().__init__(
            f"batch lacks table payload columns {missing}; carry-over "
            "requires a COW merge"
        )
        self.missing = missing


def batch_alias_map(manifest, batch_cols: list[str]) -> dict[str, str]:
    """table-column → batch-column mapping across RENAMES: a changelog
    produced against an older schema version still carries the old
    upstream name (e.g. batch `lang` after the table renamed it to
    `language`). The manifest's col-id history recovers the link —
    without it a rename silently freezes the column (updates would
    carry the stale current value). Key columns (url/warc_ts/seq) are
    structural and not renameable through this path."""
    current = {c.name for c in manifest.columns}
    alias: dict[str, str] = {}
    for tc in manifest.columns:
        if tc.name in batch_cols:
            continue  # batch speaks the current name already
        for ver in sorted(manifest.schemas, reverse=True):
            old = next(
                (c.name for c in manifest.schemas[ver] if c.col_id == tc.col_id),
                None,
            )
            if old and old != tc.name and old in batch_cols and old not in current:
                alias[tc.name] = old
                break
    return alias


def _batch_payload_expr(manifest, name: str, src_col: str, batch_dtype):
    """Column expression presenting a batch payload column as the
    table's CURRENT column ``name``, typed exactly as that column.

    Handles schema drift between producer and table: if the batch's
    dtype doesn't match the current column type, search the manifest's
    schema HISTORY for the version whose shape the batch speaks (by
    col_id), then remap nested fields col-id-wise — so a changelog
    carrying ``xrefs: array<struct<db,xid>>`` lands correctly in a
    table that renamed the field to ``ref_id`` and added ``note``
    (positional casts would fail on the arity change). Falls back to a
    plain cast for scalar widens. The final cast also clears nested
    NOT NULL flags (e.g. a struct field built from a literal), so the
    value's Arrow type equals the stored column's.
    """
    from clinvar_ingest_spark.lakelet.table import _remap_expr

    tgt_spec = next(cs for cs in manifest.columns if cs.name == name)
    tgt_t = spark_type(tgt_spec)
    if batch_dtype == tgt_t:
        return F.col(src_col)
    if batch_dtype.simpleString() != tgt_t.simpleString():
        for ver in sorted(manifest.schemas, reverse=True):
            old = next(
                (c for c in manifest.schemas[ver] if c.col_id == tgt_spec.col_id),
                None,
            )
            if old is not None and spark_type(old).simpleString() == batch_dtype.simpleString():
                return _remap_expr(F.col(src_col), old, tgt_spec).cast(tgt_t)
    return F.col(src_col).cast(tgt_t)


def merge_apply_mor(
    spark: SparkSession,
    table: LakeletTable,
    batch: DataFrame,
    batch_id: str,
    partial_to: int | None = None,
) -> MergeStats:
    """Merge-on-read apply: run the COW plan's per-bucket Arrow kernel
    against an EMPTY current side, then APPEND its rows as delta files
    — the current table state is never read and no bucket is rewritten.
    With nothing to classify against, every batch winner comes out as
    an ``insert`` (full row version) or a ``noop_delete`` (tombstone).

    Write cost is ∝ batch size: at 10^10 events over a 100 TB table a
    micro-batch touching every bucket still writes only its own rows,
    where COW would rewrite the full content of each touched bucket
    (the classic write-amplification cliff for small hot batches).
    Readers LWW-resolve base+delta stacks (LakeletTable.read); the
    late-event guard, delete-wins and no-resurrection rules all fall
    out of the SAME (warc_ts, _seq) order the COW classifier uses, so
    resolved state is bit-identical to a COW apply of the same stream
    (A/B'd by state hash in tests/test_mor.py).

    Raises :class:`MorCarryoverRequired`, before any Spark job, when
    the table schema has payload columns the batch doesn't carry
    (post-evolution drift) — those need COW carry-over;
    ``CdcEngine.apply_batch`` falls back.

    Same plan as COW minus the touched-bucket job and the state side:
    one bucket shuffle, the kernel and the delta write in one stage,
    with the lineage metrics observed in flight.
    """
    from clinvar_ingest_spark.operators.merge_cogroup import (
        _LINEAGE,
        _merge_plan,
        _observed,
        _project_batch,
    )

    m = table.manifest()
    b, batch_obs = _project_batch(m, batch)
    provided = set(b.columns)
    if "html" in provided:
        provided.add("text")
    if "extra" in provided:
        provided.add("props")
    missing = [
        cs.name for cs in m.columns
        if cs.name not in _LINEAGE and cs.name not in provided
    ]
    if missing:
        raise MorCarryoverRequired(missing)

    # no current side: the batch is placed over every bucket (which
    # ones it touches is unknown without a job) and each kernel call
    # folds one bucket against an empty current table
    rows, merge_obs = _merge_plan(spark, m, b, range(m.n_buckets), None)

    commit_stats: dict = {}
    sid = table.commit_delta(
        spark,
        rows,
        batch_id=batch_id,
        stats_out=commit_stats,
        expected_parent_id=m.snapshot_id,
        # frontier stamped atomically with the commit: a crash between
        # this commit and the ledger append is repaired by reading it
        # back (engine._apply_batch_once)
        summary={"apply_partial_to": partial_to},
    )

    if commit_stats.get("skipped"):
        return MergeStats(
            batch_id=batch_id, snapshot_id=sid, n_events=0, n_keys=0,
            n_inserts=0, n_updates=0, n_deletes=0,
            touched_buckets=0, mode="mor",
        )
    n_events, watermark, counts = _observed(batch_obs, merge_obs)
    n_up, n_del = counts["insert"], counts["noop_delete"]
    bucket_rows = commit_stats.get("bucket_rows", {})
    return MergeStats(
        batch_id=batch_id,
        snapshot_id=sid,
        n_events=n_events,
        n_keys=n_up + n_del,
        n_inserts=0,
        n_updates=0,
        n_deletes=n_del,
        # the buckets that received delta files
        touched_buckets=len(bucket_rows),
        watermark=watermark,
        bucket_rows=bucket_rows,
        write_secs=commit_stats.get("write_secs", 0.0),
        commit_secs=commit_stats.get("commit_secs", 0.0),
        mode="mor",
        n_upserts=n_up,
    )
