"""Merge-on-read apply and the shared apply vocabulary.

The copy-on-write apply lives in :mod:`merge_cogroup`; this module
holds what every apply path shares — :class:`MergeStats` lineage and
the batch schema-drift mapping (:func:`batch_alias_map`,
:func:`_batch_payload_expr`) — and the merge-on-read apply
(:func:`merge_apply_mor`), which LWW-reduces and extracts the batch in
Spark and appends it as delta files without reading current state.

Semantics shared with the COW kernel (north rule + reference parity):
one surviving event per ``url`` by ``(warc_ts, seq)`` — reference
``dedupByDate`` (ArchiveBranches.scala:140-156) with the deterministic
``seq`` tie-break (SURVEY.md §7(b)); delete winners become tombstones,
so a late event never resurrects a deleted key.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from clinvar_ingest_spark.functions.extract import extract_text_udf
from clinvar_ingest_spark.lakelet.table import LakeletTable, bucket_expr, spark_type
from clinvar_ingest_spark.operators.lww import lww_latest


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
    commit_secs: float = 0.0  # driver-side promote+manifest (serial phase)
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


def reduce_batch(batch: DataFrame) -> DataFrame:
    """LWW-reduce a raw changelog micro-batch to one row per url,
    then extract text (and canonicalize the `extra` residue into
    `props`) for surviving upserts only. Batches without an ``html``
    column (entity tables with arbitrary payload schemas, e.g. array /
    struct columns) skip the extraction step — everything else is
    schema-driven.
    """
    batch = batch.withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    latest = lww_latest(batch, keys=("url",), order_by=("warc_ts", "seq"))
    out = latest
    if "html" in out.columns:
        text = extract_text_udf(F.col("html"))
        out = out.withColumn("text", F.when(F.col("op") != "delete", text))
    if "props" not in out.columns and "extra" in out.columns:
        from clinvar_ingest_spark.functions.canonical_json import canonical_json_udf

        out = out.withColumn(
            "props",
            F.when(F.col("op") != "delete", canonical_json_udf(F.col("extra"))),
        )
    return out


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
    assume_all_buckets: bool = False,
    partial_to: int | None = None,
) -> MergeStats:
    """Merge-on-read apply: LWW-reduce + extract the batch, then APPEND
    the surviving row versions (tombstones included) as delta files —
    the current table state is never read and no bucket is rewritten.

    Write cost is ∝ batch size: at 10^10 events over a 100 TB table a
    micro-batch touching every bucket still writes only its own rows,
    where COW would rewrite the full content of each touched bucket
    (the classic write-amplification cliff for small hot batches).
    Readers LWW-resolve base+delta stacks (LakeletTable.read); the
    late-event guard, delete-wins and no-resurrection rules all fall
    out of the SAME (warc_ts, _seq) order the COW classifier uses, so
    resolved state is bit-identical to a COW apply of the same stream
    (A/B'd by state hash in tests/test_mor.py).

    Raises :class:`MorCarryoverRequired` when the table schema has
    payload columns the batch doesn't carry (post-evolution drift) —
    those need COW carry-over; ``CdcEngine.apply_batch`` falls back.

    Job shape: the same TWO jobs as the COW path (touched-buckets
    distinct + the delta write with observe() metrics riding along),
    minus the snapshot read and the per-bucket merge inside job 2.
    """
    m = table.manifest()

    if assume_all_buckets:
        # events ≫ buckets: the distinct would return every bucket —
        # skip the job (MOR only uses the list for repartition sizing
        # and lineage; no snapshot files are read either way)
        touched = list(range(m.n_buckets))
    else:
        touched = [
            r["_b"]
            for r in batch.select(bucket_expr("url", m.n_buckets).alias("_b"))
            .distinct()
            .collect()
        ]
    # Delta write width stays = touched buckets (commit_delta default),
    # NOT delta-row-proportional: the write stage carries the batch's
    # Arrow extract work (ExtractPythonUDFs places the Python eval above
    # the bucket exchange), so narrowing the width serializes compute,
    # not just parquet encode — measured 1.7x slower per hot batch at
    # width=1 vs width=64 in an interleaved same-session A/B (PLANS.md
    # "MOR hot-batch apply"). Schedulers handle near-empty tasks in ~ms;
    # serialized extract costs real seconds.

    batch_obs = Observation()
    observed = batch.observe(
        batch_obs,
        F.count(F.lit(1)).alias("n_events"),
        F.max("warc_ts").alias("watermark"),
    )
    reduced = reduce_batch(observed)

    table_cols = [cs.name for cs in m.columns]
    batch_payload = set(reduced.columns)
    alias = batch_alias_map(m, list(reduced.columns))
    lineage = {"url", "warc_ts", "_seq", "_deleted"}
    missing = [
        c for c in table_cols
        if c not in lineage and alias.get(c, c) not in batch_payload
    ]
    if missing:
        raise MorCarryoverRequired(missing)

    is_delete = F.col("op") == "delete"

    def out_col(name: str):
        if name == "url":
            return F.col("url")
        if name == "warc_ts":
            return F.col("warc_ts")
        if name == "_seq":
            return F.col("seq").cast("long").alias("_seq")
        if name == "_deleted":
            return is_delete.alias("_deleted")
        src = alias.get(name, name)
        bval = _batch_payload_expr(m, name, src, reduced.schema[src].dataType)
        return F.when(~is_delete, bval).alias(name)

    merge_obs = Observation()
    new_rows = (
        reduced.observe(
            merge_obs,
            F.sum(F.when(is_delete, 1).otherwise(0)).alias("deletes"),
            F.sum(F.when(~is_delete, 1).otherwise(0)).alias("upserts"),
        )
        .select(*[out_col(cn) for cn in table_cols])
        .withColumn("_bucket", bucket_expr("url", m.n_buckets))
    )

    commit_stats: dict = {}
    sid = table.commit_delta(
        spark,
        new_rows,
        touched_buckets=touched,
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
            touched_buckets=len(touched), mode="mor",
        )
    bm = batch_obs.get
    mm = merge_obs.get
    n_up = int(mm.get("upserts") or 0)
    n_del = int(mm.get("deletes") or 0)
    wm = bm.get("watermark")
    return MergeStats(
        batch_id=batch_id,
        snapshot_id=sid,
        n_events=int(bm.get("n_events") or 0),
        n_keys=n_up + n_del,
        n_inserts=0,
        n_updates=0,
        n_deletes=n_del,
        touched_buckets=len(touched),
        watermark=wm.isoformat() if wm is not None else None,
        bucket_rows=commit_stats.get("bucket_rows", {}),
        write_secs=commit_stats.get("write_secs", 0.0),
        commit_secs=commit_stats.get("commit_secs", 0.0),
        mode="mor",
        n_upserts=n_up,
    )
