"""The MERGE apply of both write modes: one cogrouped per-bucket Arrow
kernel — the north-rule "per-partition last-writer-wins apply loop via
applyInPandas", vectorized over Arrow.

Plan shape, copy-on-write (:func:`merge_apply_cogrouped`)::

    batch --project(table schema)--shuffle(bucket)-----------\
    state --------------------------shuffle(bucket)--[resolve]--cogroup.applyInArrow--rewrite

and merge-on-read (:func:`~clinvar_ingest_spark.operators.merge.merge_apply_mor`),
the same plan against an empty current side, so every batch winner
comes out as an insert or a tombstone::

    batch --project(table schema)--shuffle(bucket)--\
    (empty) -----------------------shuffle(bucket)---cogroup.applyInArrow--append delta

Semantics (reference parity):

1. **LWW-reduce the batch**: one surviving event per ``url`` by
   ``(warc_ts, seq)`` — reference ``dedupByDate``
   (ArchiveBranches.scala:140-156) with the deterministic ``seq``
   tie-break (SURVEY.md §7(b)).
2. **Classify vs the current snapshot** restricted to touched buckets:
   insert / update / delete — the reference's three-way diff
   (docker/diff/diff.py:117-182) as one keyed full-outer join.
3. **Late-event guard**: a batch row only wins if its
   ``(warc_ts, seq)`` is greater than the current ``(warc_ts, _seq)``
   — replays and out-of-order deliveries reconverge.
4. **Extract text** once per surviving upsert (the reference's heavy
   decode step, process-xml-release.yaml:70-90), when the table has a
   ``text`` column and the batch carries ``html``.
5. **Copy-on-write**: rewrite only touched buckets' files — the
   reference's soft-delete+append upsert
   (process-and-reingest-release.yaml:226-280) at file granularity.
   Merge-on-read appends the winners instead; readers resolve them.

Everything after the bucket shuffle happens in one Arrow function per
bucket, and its output is already bucket-pure, so the write needs no
further shuffle. Schema drift (renamed, widened and nested-remapped
columns) is resolved in Spark before the shuffle, so the kernel only
ever sees batch columns under the table's current names and types.

Scale notes: both cogroup sides arrive in exactly ``n_buckets``
partitions on ``_bucket`` — the state side from the table's one
bucketed read (``LakeletTable._read_bucketed``; empty for merge-on-read),
the batch side from :func:`_cogroup_buckets` (also used by the cells
apply) — so the kernel stage runs one task per bucket whatever the
session's ``spark.sql.shuffle.partitions``. The count holds under AQE
because an exchange with an explicit partition count is a
``REPARTITION_BY_NUM`` shuffle, which AQE's partition coalescing never
shrinks; and the cogroup takes the two identically hash-partitioned
sides without a further exchange. State rows cross that one shuffle
only: MOR deltas in a touched bucket are resolved after it, by a window
the ``_bucket`` partitioning already satisfies. Buckets, not bytes,
are the unit of balance: the partitions are byte-small but
compute-dense (decompress + extract), so size n_buckets ≫ max executor
cores and stragglers average out. A hot URL concentrates in one bucket,
but LWW collapses it to one row inside Arrow (sort + last per key, no
quadratic work); a hot HOST spreads across buckets by url hash.
Per-group memory = one bucket of state — bound it by choosing
n_buckets ≥ |table| / target_partition_rows.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from clinvar_ingest_spark.functions.extract import extract_text_series
from clinvar_ingest_spark.lakelet.table import (
    LakeletTable,
    bucket_expr,
    spark_schema,
)
from clinvar_ingest_spark.operators.merge import (
    MergeStats,
    _batch_payload_expr,
    batch_alias_map,
)

_ACTIONS = ("insert", "update", "delete", "noop_delete", "keep_late")
_LINEAGE = ("url", "warc_ts", "_seq", "_deleted")


def _merge_bucket_arrow_fn(
    table_cols: list[str], batch_cols: list[str], out_schema: pa.Schema
):
    """Per-bucket merge kernel (`applyInArrow`): LWW by (warc_ts, seq),
    snapshot classify, late-event guard, extraction once per surviving
    upsert. Payloads stay in Arrow buffers end-to-end — 13 KB html/text
    cells never materialize as Python bytes except for the rows
    actually being extracted.

    ``batch_cols`` are the projected batch's columns: ``seq``, ``op``,
    ``url``, ``warc_ts`` and payload columns already under the table's
    current names and types. ``out_schema`` is the Arrow schema Spark
    verifies the result against (table columns + ``_bucket`` +
    ``_action``); every classified row is emitted, tombstones included.
    """
    batch_set = set(batch_cols)
    # text is derived from html only when both sides allow it; otherwise
    # it is an ordinary payload column
    extract = "text" in table_cols and "html" in batch_set
    # props: canonical-JSON residue of unmodeled batch fields (reference
    # `content` spill, Content.scala:16-22). An already-canonical batch
    # `props` column (diff-slice replay) takes the generic payload path;
    # raw `extra` JSON is canonicalized here for upsert winners only.
    canon_props = "props" in table_cols and "props" not in batch_set and "extra" in batch_set

    def merge_bucket(b: pa.Table, c: pa.Table) -> pa.Table:
        # --- LWW: sort (url, warc_ts, seq); keep last row per url -----
        n_b = b.num_rows
        if n_b > 1:
            ix = pc.sort_indices(
                b,
                sort_keys=[("url", "ascending"), ("warc_ts", "ascending"), ("seq", "ascending")],
                # NULL warc_ts must rank LOWEST (table.MOR_ORDER, the
                # delta resolution's desc-nulls-last window, and
                # merge_cells' _ts_us(_NEG)): the default at_end
                # placement would crown an unparseable-timestamp event
                # the per-url winner and silently drop the real latest
                # event
                null_placement="at_start",
            )
            b = b.take(ix)
            urls = b["url"].combine_chunks()
            mask = np.ones(n_b, dtype=bool)
            mask[:-1] = pc.not_equal(
                urls.slice(0, n_b - 1), urls.slice(1)
            ).to_numpy(zero_copy_only=False)
            b = b.filter(pa.array(mask))

        # --- full-outer join on url, keys and row indices only ---------
        # Acero rejects nested and null-typed non-key fields, so payloads
        # never enter the join: each side's columns are gathered by row
        # index afterwards (a null index gathers a null, exactly what a
        # payload-carrying outer join yields)
        def keyed(t: pa.Table, ix_name: str) -> pa.Table:
            return pa.table({
                "url": t["url"],
                ix_name: pa.array(np.arange(t.num_rows, dtype=np.int64)),
            })

        m = keyed(b, "b_ix").join(keyed(c, "c_ix"), keys="url", join_type="full outer")
        n = m.num_rows
        b_ix = m["b_ix"].combine_chunks()
        c_ix = m["c_ix"].combine_chunks()

        def bcol(name: str) -> pa.Array:
            return b[name].take(b_ix).combine_chunks()

        def ccol(name: str) -> pa.Array:
            return c[name].take(c_ix).combine_chunks()

        in_batch = pc.is_valid(b_ix)
        in_cur = pc.is_valid(c_ix)
        c_del = pc.fill_null(ccol("_deleted"), False)
        cur_live = pc.and_(in_cur, pc.invert(c_del))

        b_ts, c_ts = bcol("warc_ts"), ccol("warc_ts")
        b_seq, c_seq = bcol("seq"), ccol("_seq")
        newer = pc.or_(
            pc.greater(b_ts, c_ts),
            pc.and_(pc.equal(b_ts, c_ts), pc.greater(b_seq, c_seq)),
        )
        newer = pc.fill_null(newer, False)
        batch_wins = pc.and_(in_batch, pc.or_(pc.invert(in_cur), newer))

        is_del = pc.and_(in_batch, pc.fill_null(pc.equal(bcol("op"), "delete"), False))

        ib = in_batch.to_numpy(zero_copy_only=False)
        bw = batch_wins.to_numpy(zero_copy_only=False)
        dl = is_del.to_numpy(zero_copy_only=False)
        lv = cur_live.to_numpy(zero_copy_only=False)

        # delete winners become TOMBSTONE rows (soft delete): retained
        # with (warc_ts, _seq, _deleted=True) so later late events lose
        # the LWW compare instead of resurrecting the key
        action = np.full(n, "keep", dtype=object)
        action[ib & ~bw] = "keep_late"
        action[bw & dl & lv] = "delete"
        action[bw & dl & ~lv] = "noop_delete"
        action[bw & ~dl & ~lv] = "insert"
        action[bw & ~dl & lv] = "update"
        take = (action == "insert") | (action == "update")
        tomb = bw & dl
        take_arr = pa.array(take)
        tomb_arr = pa.array(tomb)
        take_idx = np.nonzero(take)[0]

        def upsert_only(cn: str, src: str, fn) -> pa.Array:
            """Current value, replaced by ``fn`` of the batch's ``src``
            on upsert winners and NULL on tombstones — only the winners'
            payloads leave Arrow."""
            out = ccol(cn).to_numpy(zero_copy_only=False).astype(object)
            if take.any():
                raw = bcol(src).take(pa.array(take_idx)).to_pandas()
                out[take_idx] = fn(raw).to_numpy()
            out[tomb] = None
            return pa.array(out, type=pa.string())

        def payload(cn: str) -> pa.Array:
            """Batch value on upsert, NULL on tombstone, else current."""
            cur = ccol(cn)
            base = pc.if_else(tomb_arr, pa.nulls(n, cur.type), cur)
            if cn in batch_set:
                return pc.if_else(take_arr, bcol(cn), base)
            return base

        cols_out: dict[str, pa.Array] = {}
        for cn in table_cols:
            if cn == "text" and extract:
                cols_out[cn] = upsert_only(cn, "html", extract_text_series)
            elif cn == "props" and canon_props:
                from clinvar_ingest_spark.functions.canonical_json import (
                    canonical_json_series,
                )

                cols_out[cn] = upsert_only(cn, "extra", canonical_json_series)
            elif cn == "url":
                cols_out[cn] = m["url"].combine_chunks()
            elif cn == "warc_ts":
                cols_out[cn] = pc.if_else(batch_wins, b_ts, c_ts)
            elif cn == "_seq":
                cols_out[cn] = pc.fill_null(pc.if_else(batch_wins, b_seq, c_seq), -1)
            elif cn == "_deleted":
                cols_out[cn] = pc.if_else(batch_wins, is_del, c_del)
            else:
                cols_out[cn] = payload(cn)
        cols_out["_bucket"] = pc.coalesce(bcol("_bucket"), ccol("_bucket"))
        cols_out["_action"] = pa.array(action, type=pa.string())
        # cast to the exact schema Spark verifies: its timestamps carry
        # the literal zone id "UTC" while input batches carry the session
        # zone (e.g. "Etc/UTC" under a default session) — an
        # instant-preserving, metadata-only cast
        return pa.table(cols_out).cast(out_schema)

    return merge_bucket


def _observe_batch(batch: DataFrame) -> tuple[DataFrame, Observation]:
    """``batch`` observed in flight: event count and watermark, the
    batch half of :func:`_observed`."""
    batch_obs = Observation()
    observed = batch.observe(
        batch_obs,
        F.count(F.lit(1)).alias("n_events"),
        F.max("warc_ts").alias("watermark"),
    )
    return observed, batch_obs


def _project_batch(m, batch: DataFrame) -> tuple[DataFrame, Observation]:
    """The batch under the table's CURRENT schema (renames, widens,
    nested col-id remaps) plus ``_bucket``: ``seq``, ``op``, ``url``,
    ``warc_ts``, the payload columns it provides, and ``html``/``extra``
    riding along as extraction / props sources when the table lacks
    them. The observation counts events and the watermark in flight."""
    observed, batch_obs = _observe_batch(batch)
    table_cols = [cs.name for cs in m.columns]
    alias = batch_alias_map(m, batch.columns)
    extract = "text" in table_cols and "html" in batch.columns
    payload = []
    for cn in table_cols:
        src = alias.get(cn, cn)
        if cn in _LINEAGE or src not in batch.columns or (cn == "text" and extract):
            continue
        payload.append(
            _batch_payload_expr(m, cn, src, batch.schema[src].dataType).alias(cn)
        )
    sources = [
        F.col(c) for c in ("html", "extra") if c in batch.columns and c not in table_cols
    ]
    b = observed.select(
        F.col("seq").cast("long").alias("seq"),
        "op",
        "url",
        F.col("warc_ts").cast("timestamp").alias("warc_ts"),
        *payload,
        *sources,
    ).withColumn("_bucket", bucket_expr("url", m.n_buckets))
    return b, batch_obs


def _cogroup_buckets(n_buckets: int, b: DataFrame, current: DataFrame):
    """Cogroup the batch ``b``, repartitioned into exactly ``n_buckets``
    partitions on ``_bucket``, with ``current``: a
    ``LakeletTable._read_bucketed`` of the same ``n_buckets``, already
    partitioned alike — so an apply runs one task per bucket (module
    scale notes)."""
    return (
        b.repartition(n_buckets, "_bucket")
        .groupBy("_bucket")
        .cogroup(current.groupBy("_bucket"))
    )


def _out_schema(m) -> T.StructType:
    """A per-bucket kernel's result: table columns, ``_bucket``, ``_action``."""
    return T.StructType(
        spark_schema(m.columns).fields
        + [
            T.StructField("_bucket", T.LongType()),
            T.StructField("_action", T.StringType()),
        ]
    )


def _merge_plan(m, b: DataFrame, current: DataFrame) -> tuple[DataFrame, Observation]:
    """Shuffle the projected batch ``b`` on ``_bucket``, cogroup it with
    ``current`` (the bucketed read of the table rows) and run the kernel
    per bucket. Returns the bucket-pure rows to write (tombstones
    included) and the observation counting each ``_action``."""
    out_schema = _out_schema(m)
    fn = _merge_bucket_arrow_fn(
        [cs.name for cs in m.columns], b.columns, to_arrow_schema(out_schema)
    )
    merged = _cogroup_buckets(m.n_buckets, b, current).applyInArrow(
        lambda left, right: fn(left, right), schema=out_schema
    )
    return _count_actions(merged)


def _count_actions(merged: DataFrame) -> tuple[DataFrame, Observation]:
    """Drop a kernel result's ``_action`` column, counting each action
    in flight. Tombstones (delete/noop_delete) are WRITTEN, not dropped
    — soft delete keeps the LWW frontier queryable for late events."""
    merge_obs = Observation()

    def n_act(a: str):
        return F.sum(F.when(F.col("_action") == a, 1).otherwise(0)).alias(a)

    merged = merged.observe(merge_obs, *[n_act(a) for a in _ACTIONS])
    return merged.drop("_action"), merge_obs


def _touched(
    table: LakeletTable, m, batch: DataFrame, assume_all_buckets: bool
) -> list[int]:
    """The buckets a COW apply rewrites: all of them under the
    ``assume_all_buckets`` hint (already spec-closed, no job), else the
    batch's distinct key buckets (one tiny job) expanded to whole
    legacy-spec files, so the replacement carries their untouched rows
    (partition-spec evolution). A NULL key has no bucket; its rows still
    reach the commit, which refuses them."""
    if assume_all_buckets:
        return list(range(m.n_buckets))
    return table.rewrite_closure(table.touched_buckets(batch, "url"))


def _observed(batch_obs: Observation, merge_obs: Observation) -> tuple[int, str | None, dict]:
    """(events, ISO watermark, rows per ``_action``) of a finished plan."""
    bm, mm = batch_obs.get, merge_obs.get
    wm = bm.get("watermark")
    return (
        int(bm.get("n_events") or 0),
        wm.isoformat() if wm is not None else None,
        {k: int(mm.get(k) or 0) for k in _ACTIONS},
    )


def merge_apply_cogrouped(
    spark: SparkSession,
    table: LakeletTable,
    batch: DataFrame,
    batch_id: str,
    assume_all_buckets: bool = False,
    partial_to: int | None = None,
) -> MergeStats:
    """Apply one micro-batch via the cogrouped per-bucket plan.

    ``batch`` columns: ``seq``, ``op``, ``url``, ``warc_ts`` plus any
    payload columns — the table's columns under their current or a
    former name and type, ``html`` (extracted into ``text``) and
    ``extra`` (canonicalized into ``props``). Table columns the batch
    lacks carry over from the current row (NULL on insert).

    Two Spark jobs: (1) a tiny touched-buckets distinct, (2) the
    cogroup+write with all lineage metrics observed in-flight.

    ``assume_all_buckets=True`` skips job (1): correct for any batch
    (untouched buckets just carry their state through the keep path),
    and profitable when events ≫ n_buckets so every bucket is touched
    anyway — the caller's replay loop knows its batch size and passes
    the hint (large-batch mode trades a possible extra rewrite of
    quiet buckets for one fewer job per batch).
    """
    m = table.manifest()
    touched = _touched(table, m, batch, assume_all_buckets)
    b, batch_obs = _project_batch(m, batch)
    survivors, merge_obs = _merge_plan(
        m, b, table._read_bucketed(spark, m, touched, m.n_buckets, m.n_buckets)
    )
    return _commit_cow(
        spark, table, m, survivors, touched, batch_id, partial_to,
        batch_obs, merge_obs,
    )


def _commit_cow(
    spark: SparkSession,
    table: LakeletTable,
    m,
    rows: DataFrame,
    touched: list[int],
    batch_id: str,
    partial_to: int | None,
    batch_obs: Observation,
    merge_obs: Observation,
    mode: str = "cow",
) -> MergeStats:
    """COW-commit a planned apply's bucket-pure ``rows`` over the
    ``touched`` buckets and unpack its lineage (both COW applies)."""
    commit_stats: dict = {}
    sid = table.commit_rewrite(
        spark,
        rows,
        touched_buckets=touched,
        batch_id=batch_id,
        stats_out=commit_stats,
        pre_partitioned=True,
        expected_parent_id=m.snapshot_id,
        # frontier stamped atomically with the commit — read back by
        # the crash-repair path (engine._apply_batch_once)
        summary={"apply_partial_to": partial_to},
    )
    if commit_stats.get("skipped"):
        return MergeStats(
            batch_id=batch_id, snapshot_id=sid, n_events=0, n_keys=0,
            n_inserts=0, n_updates=0, n_deletes=0,
            touched_buckets=len(touched), mode=mode,
        )
    n_events, watermark, counts = _observed(batch_obs, merge_obs)
    return MergeStats(
        batch_id=batch_id,
        snapshot_id=sid,
        n_events=n_events,
        n_keys=sum(counts.values()),
        n_inserts=counts["insert"],
        n_updates=counts["update"],
        n_deletes=counts["delete"],
        touched_buckets=len(touched),
        watermark=watermark,
        bucket_rows=commit_stats.get("bucket_rows", {}),
        write_secs=commit_stats.get("write_secs", 0.0),
        commit_secs=commit_stats.get("commit_secs", 0.0),
        mode=mode,
    )
