"""The MERGE apply of every write mode: one cogrouped per-bucket Arrow
kernel, the cell-level LWW fold — the north-rule "per-partition
last-writer-wins apply loop via applyInPandas", vectorized over Arrow.

Plan shape, copy-on-write (:func:`merge_apply_cogrouped`; a patch table,
one with a ``_cells`` column, takes the same plan and its lineage reads
``mode="cells"``)::

    batch --project(table schema)--place(buckets)------------\
    state --------------------------place(buckets)--[resolve]--cogroup.applyInArrow--rewrite

and merge-on-read (:func:`~clinvar_ingest_spark.operators.merge.merge_apply_mor`),
the same kernel with no current side — each call folds its bucket
against an empty table, so every batch winner comes out as an insert
or a tombstone::

    batch --project(table schema)--place(all buckets)--groupBy.applyInArrow--append delta

Semantics, per key; a position is ``(warc_ts, seq)`` with a NULL
``warc_ts`` at the bottom sentinel :data:`_NEG` (``table.MOR_ORDER``'s
order), and one position rule serves the in-batch sort, the
batch-vs-current compare and the tombstone wipe:

1. **Cell-level LWW**: every payload column ("cell") takes the value of
   its highest-position write. A full image (insert/update) writes
   every cell, NULLs included; a ``patch`` writes its non-null cells —
   on a patch table; elsewhere a patch is a full image. A delete is a
   row tombstone that kills every cell at or below its position (the
   compare is strict, so a tie goes to the tombstone); the row is live
   iff its latest life event outranks its latest tombstone. The fold
   is associative, so the state is a pure function of the event set,
   however the stream is cut into batches.
2. **Row LWW is its no-patch case**: with full images only, every cell
   of a row sits at the row's position, so the latest event per
   ``url`` wins — reference ``dedupByDate``
   (ArchiveBranches.scala:140-156) with the deterministic ``seq``
   tie-break (SURVEY.md §7(b)) — and a late event loses to the current
   row, so replays and out-of-order deliveries reconverge.
3. **Classify vs the current snapshot** restricted to touched buckets:
   insert / update / delete — the reference's three-way diff
   (docker/diff/diff.py:117-182) as one keyed full-outer join.
4. **Extract text** once per winning html cell (the reference's heavy
   decode step, process-xml-release.yaml:70-90), when the table has a
   ``text`` column and the batch carries ``html``; ``text`` rides on the
   html cell's position.
5. **Copy-on-write**: rewrite only touched buckets' files — the
   reference's soft-delete+append upsert
   (process-and-reingest-release.yaml:226-280) at file granularity.
   Merge-on-read appends the winners instead; readers resolve them.

A patch table persists the positions of cells that differ from the row
position in ``_cells`` (JSON ``{col_id: [ts_us, seq]}``, keyed by col
id so renames never orphan a position; NULL on rows written by full
images). Merge-on-read refuses patch tables: a patch delta row is not
self-contained.

Everything after the bucket shuffle happens in one Arrow function per
bucket, and its output is already bucket-pure, so the write needs no
further shuffle. Schema drift (renamed, widened and nested-remapped
columns) is resolved in Spark before the shuffle, so the kernel only
ever sees batch columns under the table's current names and types.

Scale notes: buckets are the unit of files and of LWW groups; tasks are
the unit of CPU. ``place`` (``lakelet.table.place_buckets``) packs the
stage's buckets into ``k = min(len(buckets), defaultParallelism)``
tasks, the i-th bucket of the sorted list in task ``i % k``, by one
``REPARTITION_BY_NUM`` Exchange on (``_salt``, ``_bucket``) per side:
the state side is the table's one bucketed read
(``LakeletTable._read_bucketed``), the batch side is placed over the
same bucket list, and the kernel groups both on (``_salt``,
``_bucket``), which the two identical partitionings satisfy without a
further exchange. Each kernel call still sees one bucket, but a Python
task's fixed start cost is paid once per core instead of once per
bucket. The count holds under any ``spark.sql.shuffle.partitions``
and under AQE, which never coalesces an exchange with an explicit
partition count. State rows cross that one shuffle only: MOR deltas in
a touched bucket are resolved after it, by a window on (``_salt``,
``_bucket``, url) the partitioning already satisfies. Every task folds
``len(buckets)/k`` buckets, ±1, so the stage is balanced in buckets; a
hot URL concentrates in one bucket, but LWW collapses it to one row
inside Arrow (sort + last per key, no quadratic work); a hot HOST
spreads across buckets by url hash. Per-group memory = one bucket of
state — bound it by choosing n_buckets ≥ |table| / target_partition_rows.
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from clinvar_ingest_spark.functions.canonical_json import canonical_json_series
from clinvar_ingest_spark.functions.extract import extract_text_series
from clinvar_ingest_spark.lakelet.table import (
    SALT,
    LakeletTable,
    bucket_expr,
    place_buckets,
    spark_schema,
)
from clinvar_ingest_spark.operators.merge import (
    MergeStats,
    _batch_payload_expr,
    batch_alias_map,
)

_ACTIONS = ("insert", "update", "delete", "noop_delete", "keep_late")
_LINEAGE = ("url", "warc_ts", "_seq", "_deleted", "_cells")

#: the bottom position: a NULL ``warc_ts`` (or ``seq``) ranks below every
#: real one — the order of ``table.MOR_ORDER`` and ``lww.lww_latest``
_NEG = -(2**62)


def _ts_us(a) -> np.ndarray:
    """Timestamp column → int64 microseconds, NULL → :data:`_NEG`."""
    us = pc.cast(a, pa.timestamp("us", a.type.tz)).cast(pa.int64())
    return pc.fill_null(us, _NEG).to_numpy()


def _gt(ts_a, seq_a, ts_b, seq_b) -> np.ndarray:
    """Position ``a`` strictly above position ``b``."""
    return (ts_a > ts_b) | ((ts_a == ts_b) & (seq_a > seq_b))


def _merge_bucket_arrow_fn(
    table_cols: list[str],
    batch_cols: list[str],
    out_schema: pa.Schema,
    col_ids: dict[str, int] | None = None,
):
    """Per-bucket merge kernel (`applyInArrow`): the cell-level LWW fold
    of the module docstring, classified against the current rows, with
    extraction once per winning html cell. Payloads stay in Arrow
    buffers end-to-end — 13 KB html/text cells never materialize as
    Python bytes except for the cells actually being extracted.

    ``batch_cols`` are the projected batch's columns: ``seq``, ``op``,
    ``url``, ``warc_ts`` and payload columns already under the table's
    current names and types. ``out_schema`` is the Arrow schema Spark
    verifies the result against (table columns + ``_bucket`` +
    ``_action``); every classified row is emitted, tombstones included.
    ``col_ids`` keys the persisted ``_cells`` positions and is needed
    only when the table has that column.
    """
    batch_set = set(batch_cols)
    has_cells = "_cells" in table_cols
    # text is derived from html only when both sides allow it; otherwise
    # it is an ordinary payload column
    extract = "text" in table_cols and "html" in batch_set
    # props: canonical-JSON residue of unmodeled batch fields (reference
    # `content` spill, Content.scala:16-22). An already-canonical batch
    # `props` column (diff-slice replay) takes the generic payload path;
    # raw `extra` JSON is canonicalized here for winning cells only.
    canon_props = "props" in table_cols and "props" not in batch_set and "extra" in batch_set
    # one cell per payload column: (column, batch source or None, fn
    # applied to winning batch values, the column whose position it
    # takes). text rides on the html cell's position when html is a
    # table column, so _cells never records it
    cells = []
    for cn in table_cols:
        if cn in _LINEAGE:
            continue
        if cn == "text" and extract:
            pos_col = "html" if "html" in table_cols else cn
            cells.append((cn, "html", extract_text_series, pos_col))
        elif cn == "props" and canon_props:
            cells.append((cn, "extra", canonical_json_series, cn))
        else:
            cells.append((cn, cn if cn in batch_set else None, None, cn))

    def merge_bucket(b: pa.Table, c: pa.Table) -> pa.Table:
        # --- batch fold: sort by (url, position); per url keep the last
        # delete, the last life event and each cell's last writer -------
        n_b = b.num_rows
        b_ts, b_seq = _ts_us(b["warc_ts"]), pc.fill_null(b["seq"], _NEG).to_numpy()
        order = pc.sort_indices(
            pa.table({"url": b["url"], "ts": b_ts, "seq": b_seq}),
            sort_keys=[("url", "ascending"), ("ts", "ascending"), ("seq", "ascending")],
        ).to_numpy().astype(np.int64)
        b_ts, b_seq = b_ts[order], b_seq[order]
        urls = b["url"].take(order).combine_chunks()
        new_url = np.ones(n_b, dtype=bool)
        if n_b > 1:
            head, tail = urls.slice(0, n_b - 1), urls.slice(1)
            same = pc.fill_null(pc.equal(head, tail), False).to_numpy(zero_copy_only=False)
            both_null = pc.and_(pc.is_null(head), pc.is_null(tail)).to_numpy(zero_copy_only=False)
            new_url[1:] = ~(same | both_null)
        gid = np.cumsum(new_url) - 1
        n_g = int(new_url.sum())

        def last_per_url(mask: np.ndarray) -> np.ndarray:
            """Sorted-row index of each url's last ``mask`` row, -1 if none."""
            out = np.full(n_g, -1, dtype=np.int64)
            rows = np.nonzero(mask)[0]
            if len(rows):
                g = gid[rows]
                last = np.append(g[1:] != g[:-1], True)
                out[g[last]] = rows[last]
            return out

        op = b["op"].take(order)
        is_del = pc.fill_null(pc.equal(op, "delete"), False).to_numpy(zero_copy_only=False)
        # a patch is a partial write only where the table persists cell
        # positions; elsewhere it is a full image
        is_patch = (
            pc.fill_null(pc.equal(op, "patch"), False).to_numpy(zero_copy_only=False)
            if has_cells
            else np.zeros(n_b, dtype=bool)
        )
        life = ~is_del
        g_del, g_life = last_per_url(is_del), last_per_url(life)
        g_cell = {}
        for _cn, src, _fn, _pos in cells:
            if src is not None and src not in g_cell:
                if is_patch.any():
                    valid = pc.is_valid(b[src].take(order)).to_numpy(zero_copy_only=False)
                    g_cell[src] = last_per_url(life & (~is_patch | valid))
                else:
                    g_cell[src] = g_life

        # --- full-outer join on url, keys and row indices only ---------
        # Acero rejects nested and null-typed non-key fields, so payloads
        # never enter the join: each side's columns are gathered by row
        # index afterwards (a null index gathers a null)
        first = np.nonzero(new_url)[0]
        keyed_b = pa.table({"url": urls.take(pa.array(first)), "g": np.arange(n_g)})
        keyed_c = pa.table({"url": c["url"], "c_ix": np.arange(c.num_rows)})
        m = keyed_b.join(keyed_c, keys="url", join_type="full outer")
        n = m.num_rows
        if n == 0:
            return out_schema.empty_table()
        g = pc.fill_null(m["g"], -1).to_numpy()
        c_ix = pc.fill_null(m["c_ix"], -1).to_numpy()
        in_batch, in_cur = g >= 0, c_ix >= 0

        def at(arr: np.ndarray, ix: np.ndarray, fill) -> np.ndarray:
            """``arr[ix]``, ``fill`` where ``ix`` is -1."""
            if not len(arr):
                return np.full(len(ix), fill, dtype=np.asarray(fill).dtype)
            return np.where(ix >= 0, arr[np.maximum(ix, 0)], fill)

        def index(ix: np.ndarray) -> pa.Array:
            return pa.array(ix, mask=ix < 0)

        def batch_rows(per_url: np.ndarray) -> np.ndarray:
            """Joined row → sorted batch row of ``per_url``, -1 if none."""
            return at(per_url, g, -1)

        def b_pos(rix: np.ndarray):
            return at(b_ts, rix, _NEG), at(b_seq, rix, _NEG)

        def bcol(src: str, rix: np.ndarray) -> pa.Array:
            return b[src].take(index(at(order, rix, -1))).combine_chunks()

        def ccol(cn: str) -> pa.Array:
            return c[cn].take(index(c_ix)).combine_chunks()

        # --- positions: row tombstone T and life, each the max of the
        # current row's and the batch's ----------------------------------
        c_dead = at(pc.fill_null(c["_deleted"], False).to_numpy(zero_copy_only=False), c_ix, False)
        c_ts = at(_ts_us(c["warc_ts"]), c_ix, _NEG)
        c_seq = at(pc.fill_null(c["_seq"], _NEG).to_numpy(), c_ix, _NEG)
        cur_alive = in_cur & ~c_dead
        cl_ts, cl_seq = np.where(cur_alive, c_ts, _NEG), np.where(cur_alive, c_seq, _NEG)
        cd_ts, cd_seq = np.where(c_dead, c_ts, _NEG), np.where(c_dead, c_seq, _NEG)
        bd_ts, bd_seq = b_pos(batch_rows(g_del))
        bl_ts, bl_seq = b_pos(batch_rows(g_life))
        bdel = _gt(bd_ts, bd_seq, cd_ts, cd_seq)
        t_ts, t_seq = np.where(bdel, bd_ts, cd_ts), np.where(bdel, bd_seq, cd_seq)
        blife = _gt(bl_ts, bl_seq, cl_ts, cl_seq)
        l_ts, l_seq = np.where(blife, bl_ts, cl_ts), np.where(blife, bl_seq, cl_seq)
        # strict: a position tie goes to the tombstone
        alive = _gt(l_ts, l_seq, t_ts, t_seq)
        row_ts, row_seq = np.where(alive, l_ts, t_ts), np.where(alive, l_seq, t_seq)

        # current cell positions: the row's life position unless the
        # row's _cells overrides it (parsed only where non-null)
        overrides: dict[int, dict] = {}
        if has_cells and c.num_rows:
            raw = c["_cells"].combine_chunks()
            for i in np.nonzero(pc.is_valid(raw).to_numpy(zero_copy_only=False))[0]:
                overrides[int(i)] = json.loads(raw[int(i)].as_py())
        ov_rows = np.nonzero(in_cur & np.isin(c_ix, list(overrides)))[0] if overrides else ()

        # --- per-cell fold: the batch's last writer beats the current
        # cell iff strictly newer; the tombstone wipes cells at or below
        # it, which then sit at T ----------------------------------------
        cols_out: dict[str, pa.Array] = {}
        positions: dict[str, tuple] = {}
        changed = np.zeros(n, dtype=bool)
        for cn, src, fn, pos_col in cells:
            cts, cseq = cl_ts, cl_seq
            if len(ov_rows):
                key = str(col_ids[pos_col])
                cts, cseq = cts.copy(), cseq.copy()
                for r in ov_rows:
                    ent = overrides[int(c_ix[r])].get(key)
                    if ent is not None:
                        cts[r], cseq[r] = int(ent[0]), int(ent[1])
            if src is not None:
                rix = batch_rows(g_cell[src])
                bts, bseq = b_pos(rix)
                take_b = _gt(bts, bseq, cts, cseq)
                ts, sq = np.where(take_b, bts, cts), np.where(take_b, bseq, cseq)
            else:
                take_b = np.zeros(n, dtype=bool)
                ts, sq = cts, cseq
            wiped = ~_gt(ts, sq, t_ts, t_seq)
            from_b = take_b & ~wiped
            cur = ccol(cn)
            val = pc.if_else(pa.array(take_b | wiped), pa.nulls(n, cur.type), cur)
            if from_b.any():
                win = np.nonzero(from_b)[0]
                new = bcol(src, rix[win])
                if fn is not None:
                    new = pa.array(fn(new.to_pandas()), type=cur.type)
                # scatter the winners back by row index (take, not
                # replace_with_mask, which has no nested-type kernel)
                inv = np.full(n, -1, dtype=np.int64)
                inv[win] = np.arange(len(win))
                val = pc.if_else(pa.array(from_b), new.take(index(inv)), val)
            cols_out[cn] = val
            if pos_col == cn:
                positions[cn] = (np.where(wiped, t_ts, ts), np.where(wiped, t_seq, sq))
            changed |= from_b

        changed |= (alive != cur_alive) | (row_ts != c_ts) | (row_seq != c_seq)
        action = np.full(n, "keep", dtype=object)
        ch = in_batch & changed
        action[in_batch & ~changed] = "keep_late"
        action[ch & alive & ~cur_alive] = "insert"
        action[ch & alive & cur_alive] = "update"
        action[ch & ~alive & cur_alive] = "delete"
        action[ch & ~alive & ~cur_alive] = "noop_delete"

        if has_cells:
            # per-cell positions that differ from the row position; a
            # row the batch does not touch keeps its _cells as stored
            cells_out = ccol("_cells").to_numpy(zero_copy_only=False).astype(object)
            cells_out[in_batch] = None
            odd = np.zeros(n, dtype=bool)
            for ts, sq in positions.values():
                odd |= (ts != row_ts) | (sq != row_seq)
            for r in np.nonzero(in_batch & alive & odd)[0]:
                cells_out[r] = json.dumps({
                    str(col_ids[cn]): [int(ts[r]), int(sq[r])]
                    for cn, (ts, sq) in positions.items()
                    if ts[r] != row_ts[r] or sq[r] != row_seq[r]
                }, sort_keys=True, separators=(",", ":"))
            cols_out["_cells"] = pa.array(cells_out, type=pa.string())

        cols_out["url"] = m["url"].combine_chunks()
        cols_out["warc_ts"] = pa.array(row_ts, mask=row_ts == _NEG).cast(pa.timestamp("us", "UTC"))
        cols_out["_seq"] = pa.array(np.where(row_seq == _NEG, -1, row_seq))
        cols_out["_deleted"] = pa.array(~alive)
        first_row = at(first, g, -1)
        cols_out["_bucket"] = pc.coalesce(
            b["_bucket"].take(index(at(order, first_row, -1))).combine_chunks(),
            ccol("_bucket"),
        )
        cols_out["_action"] = pa.array(action, type=pa.string())
        # cast to the exact schema Spark verifies: its timestamps carry
        # the literal zone id "UTC" while input batches carry the session
        # zone (e.g. "Etc/UTC" under a default session) — an
        # instant-preserving, metadata-only cast
        return pa.table({f.name: cols_out[f.name] for f in out_schema}).cast(out_schema)

    return merge_bucket


def _project_batch(m, batch: DataFrame) -> tuple[DataFrame, Observation]:
    """The batch under the table's CURRENT schema (renames, widens,
    nested col-id remaps) plus ``_bucket``: ``seq``, ``op``, ``url``,
    ``warc_ts``, the payload columns it provides, and ``html``/``extra``
    riding along as extraction / props sources when the table lacks
    them. The observation counts events and the watermark in flight."""
    batch_obs = Observation()
    observed = batch.observe(
        batch_obs,
        F.count(F.lit(1)).alias("n_events"),
        F.max("warc_ts").alias("watermark"),
    )
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


def _merge_plan(
    spark: SparkSession,
    m,
    b: DataFrame,
    buckets,
    current: DataFrame | None,
) -> tuple[DataFrame, Observation]:
    """Place the projected batch ``b`` over ``buckets``
    (:func:`~clinvar_ingest_spark.lakelet.table.place_buckets`), group it
    by bucket with ``current`` — the bucketed read of the same
    ``buckets``, placed alike, or None for merge-on-read, whose kernel
    calls get an empty current side — and run the kernel per bucket.
    Returns the bucket-pure rows to write and the observation counting
    each ``_action`` in flight. Tombstones (delete/noop_delete) are
    WRITTEN, not dropped — soft delete keeps the LWW frontier queryable
    for late events."""
    state_schema = spark_schema(m.columns)
    out_schema = T.StructType(
        state_schema.fields
        + [
            T.StructField("_bucket", T.LongType()),
            T.StructField("_action", T.StringType()),
        ]
    )
    fn = _merge_bucket_arrow_fn(
        [cs.name for cs in m.columns], b.columns, to_arrow_schema(out_schema),
        col_ids={cs.name: cs.col_id for cs in m.columns},
    )
    grouped = place_buckets(spark, b, buckets).groupBy(SALT, "_bucket")
    if current is None:
        state = to_arrow_schema(state_schema).append(pa.field("_bucket", pa.int32()))

        def merge_alone(left: pa.Table) -> pa.Table:
            # an empty current side typed like the batch where they
            # share a column (its timestamps carry the session zone)
            names = left.schema.names
            return fn(left, pa.schema([
                left.schema.field(f.name) if f.name in names else f for f in state
            ]).empty_table())

        merged = grouped.applyInArrow(merge_alone, schema=out_schema)
    else:
        merged = grouped.cogroup(current.groupBy(SALT, "_bucket")).applyInArrow(
            fn, schema=out_schema
        )
    merge_obs = Observation()
    merged = merged.observe(merge_obs, *[
        F.sum(F.when(F.col("_action") == a, 1).otherwise(0)).alias(a)
        for a in _ACTIONS
    ])
    return merged.drop("_action"), merge_obs


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
    # the buckets to rewrite: all of them under the hint (already
    # spec-closed, no job), else the batch's distinct key buckets (one
    # tiny job) expanded to whole legacy-spec files, so the replacement
    # carries their untouched rows (partition-spec evolution). A NULL
    # key has no bucket; its rows still reach the commit, which
    # refuses them
    if assume_all_buckets:
        touched = list(range(m.n_buckets))
    else:
        touched = table.rewrite_closure(table.touched_buckets(batch, "url"))
    b, batch_obs = _project_batch(m, batch)
    rows, merge_obs = _merge_plan(
        spark, m, b, touched, table._read_bucketed(spark, m, touched, m.n_buckets)
    )
    # a table with per-cell positions folds patches as partial writes
    mode = "cells" if any(cs.name == "_cells" for cs in m.columns) else "cow"
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
