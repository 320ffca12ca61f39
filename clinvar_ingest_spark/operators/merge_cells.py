"""Cell-level LWW MERGE apply — partial-update (``op='patch'``) CDC.

Row-level LWW (merge.py / merge_cogroup.py) replaces the whole row with
the latest event; a binlog that ships DELTAS (Debezium partial payloads,
app-level field writes) needs the Cassandra model instead: every column
("cell") carries its own writer position, a row tombstone kills only
cells older than itself, and the fold is **associative** — so the final
table state is a pure function of the event SET, independent of how the
stream is chopped into micro-batches (tested: replaying the same
changelog at different batch sizes converges to identical state hashes,
including a late patch against a column whose cell is older than the
row — the case a naive "batch wins iff newer than the row" guard gets
wrong).

Semantics (per key, positions are ``(warc_ts, seq)``):

- full image (insert/update) at position p: writes EVERY payload cell
  at p (including explicit NULLs);
- patch at p: writes only its non-null fields at p;
- delete at p: row tombstone — kills every cell with position <= p
  (the kernel compares strictly, ``life > tombstone`` survives, so an
  exact position tie loses to the tombstone; unreachable in practice
  because ``seq`` is globally unique, but batch and streaming kernels
  both resolve the tie the same way);
- a cell's value is the highest-position write that survives the
  highest-position tombstone; the row is live iff any life event
  outranks the last tombstone.

Persisted state: one extra lineage column ``_cells`` (JSON
``{col: [ts_us, seq]}``) recording per-cell positions that differ from
the row position — NULL for rows written by full images (the common
case: zero overhead). ``text`` rides with ``html`` (derived by
extraction); ``props`` rides with ``extra`` (canonicalized residue).

Plan shape: identical to the cogrouped COW apply — batch and state
each shuffle once into ``n_buckets`` partitions on the bucket (the
state side through the table's one bucketed read,
``LakeletTable._read_bucketed``; the batch side through
``merge_cogroup._cogroup_buckets``: one task per bucket), one
applyInPandas fold per bucket, output is bucket-pure so the write needs
no further shuffle. The per-cell bookkeeping is vectorized (sorted
masks + groupby-tail per cell), never a per-event Python loop.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clinvar_ingest_spark.functions.canonical_json import canonical_json_series
from clinvar_ingest_spark.functions.extract import extract_text_series
from clinvar_ingest_spark.lakelet.table import LakeletTable, bucket_expr
from clinvar_ingest_spark.operators.merge import MergeStats
from clinvar_ingest_spark.operators.merge_cogroup import (
    _cogroup_buckets,
    _commit_cow,
    _count_actions,
    _observe_batch,
    _out_schema,
    _touched,
)


#: bottom position — below every real (warc_ts, seq)
_NEG = -(2**62)


def _ts_us(s: pd.Series) -> np.ndarray:
    """timestamp series → int64 microseconds (NaT → _NEG)."""
    v = s.to_numpy()
    out = np.full(len(v), _NEG, dtype=np.int64)
    mask = ~pd.isna(v)
    if mask.any():
        out[mask] = v[mask].astype("datetime64[us]").astype("int64")
    return out


def _gt(ts_a, seq_a, ts_b, seq_b):
    return (ts_a > ts_b) | ((ts_a == ts_b) & (seq_a > seq_b))


def _cells_plan(
    manifest_cols,
    batch_cols: list[str],
    alias: dict[str, str] | None = None,
):
    """(cell, col_id, batch-source, needs-canonicalize) per payload
    column. ``text`` is derived from the html cell; ``props`` from the
    batch's ``extra``. ``alias`` maps renamed table columns to the
    batch's old name (batch_alias_map) — a changelog produced against a
    pre-rename schema still lands in the right cell. Cell positions are
    persisted keyed by COL ID, so renames never orphan stored
    positions."""
    lineage = {"url", "warc_ts", "_seq", "_deleted", "_cells", "text"}
    alias = alias or {}
    plan = []
    for cs in manifest_cols:
        c = cs.name
        if c in lineage:
            continue
        src_name = alias.get(c, c)
        if c == "props" and src_name not in batch_cols and "extra" in batch_cols:
            plan.append(("props", cs.col_id, "extra", True))
        elif src_name in batch_cols:
            plan.append((c, cs.col_id, src_name, False))
        else:
            plan.append((c, cs.col_id, None, False))  # evolved: carry-over
    return plan


def _merge_bucket_cells_fn(
    manifest_cols, batch_cols: list[str], alias: dict[str, str] | None = None
):
    table_cols = [cs.name for cs in manifest_cols]
    cells = _cells_plan(manifest_cols, batch_cols, alias)
    cell_names = [c for c, _, _, _ in cells]
    cell_ids = {c: cid for c, cid, _, _ in cells}
    has_text = "text" in table_cols

    def merge_bucket(bdf: pd.DataFrame, cdf: pd.DataFrame) -> pd.DataFrame:
        out_cols = table_cols + ["_bucket", "_action"]
        if len(bdf) == 0 and len(cdf) == 0:
            return pd.DataFrame({c: [] for c in out_cols})

        # ---------------- batch fold (vectorized, event order) --------
        b = bdf.reset_index(drop=True)
        b["__ts"] = _ts_us(b["warc_ts"])  # NaT → _NEG (bottom), BEFORE the
        # sort: sorting raw warc_ts would put NaT LAST while its position
        # is the minimum, making groupby-tail pick a null-ts event as the
        # "latest" candidate and lose real updates
        b = b.sort_values(["__ts", "seq"], kind="stable").reset_index(drop=True)
        is_del = (b["op"] == "delete").to_numpy()
        is_patch = (b["op"] == "patch").to_numpy()

        urls = pd.DataFrame({"url": b["url"].unique()})

        def last_per_url(mask: np.ndarray, cols: list[str], pref: str):
            sub = b.loc[mask, ["url"] + cols]
            last = sub.groupby("url", sort=False).tail(1)
            return last.rename(columns={c: f"{pref}{c}" for c in cols})

        bs = urls
        bs = bs.merge(
            last_per_url(is_del, ["__ts", "seq"], "bd_"), on="url", how="left"
        )
        bs = bs.merge(
            last_per_url(~is_del, ["__ts", "seq"], "bl_"), on="url", how="left"
        )
        for cell, _cid, src, _ in cells:
            if src is None:
                continue
            carrier = ~is_del & (~is_patch | b[src].notna().to_numpy())
            cand = last_per_url(carrier, [src, "__ts", "seq"], f"b{cell}_")
            cand = cand.rename(columns={f"b{cell}_{src}": f"b{cell}_v"})
            bs = bs.merge(cand, on="url", how="left")

        # ---------------- current state --------------------------------
        c = cdf.reset_index(drop=True)
        n_c = len(c)
        c_ts = _ts_us(c["warc_ts"]) if n_c else np.array([], dtype=np.int64)
        c_seq = (
            pd.to_numeric(c["_seq"], errors="coerce")
            .fillna(_NEG)
            .astype("int64")
            .to_numpy()
            if n_c
            else np.array([], dtype=np.int64)
        )
        c_dead = (
            c["_deleted"].astype("boolean").fillna(False).astype(bool).to_numpy()
            if n_c
            else np.array([], dtype=bool)
        )
        cs = pd.DataFrame({"url": c["url"] if n_c else pd.Series(dtype=object)})
        cs["cd_ts"] = np.where(c_dead, c_ts, _NEG)
        cs["cd_seq"] = np.where(c_dead, c_seq, _NEG)
        cs["cl_ts"] = np.where(~c_dead, c_ts, _NEG)
        cs["cl_seq"] = np.where(~c_dead, c_seq, _NEG)
        # per-cell positions: row position unless _cells overrides
        overrides = (
            [json.loads(s) if s else {} for s in c["_cells"].fillna("")]
            if "_cells" in c.columns and n_c
            else [{}] * n_c
        )
        ov_rows = [i for i, ov in enumerate(overrides) if ov]
        for cell in cell_names:
            key = str(cell_ids[cell])
            ts = np.where(~c_dead, c_ts, _NEG).copy()
            sq = np.where(~c_dead, c_seq, _NEG).copy()
            for i in ov_rows:  # full-image rows carry no _cells: 0 work
                ent = overrides[i].get(key)
                if ent is not None:
                    ts[i], sq[i] = int(ent[0]), int(ent[1])
            cs[f"c{cell}_ts"] = ts
            cs[f"c{cell}_seq"] = sq
            cs[f"c{cell}_v"] = (
                c[cell].astype(object).where(~c_dead, None)
                if cell in c.columns
                else None
            )
        if has_text:
            cs["c_text"] = c["text"].astype(object) if n_c else None
        cs["c__bucket"] = c["_bucket"] if n_c else None
        cs["c_in"] = True

        # ---------------- associative state merge ----------------------
        m = bs.merge(cs, on="url", how="outer")
        n = len(m)

        def col_i64(name):
            return (
                pd.to_numeric(m.get(name), errors="coerce")
                .fillna(_NEG)
                .astype("int64")
                .to_numpy()
                if name in m.columns
                else np.full(n, _NEG, dtype=np.int64)
            )

        in_cur = (
            m["c_in"].astype("boolean").fillna(False).astype(bool).to_numpy()
            if "c_in" in m.columns
            else np.zeros(n, dtype=bool)
        )
        in_batch = (
            col_i64("bl_seq") > _NEG
        ) | (col_i64("bd_seq") > _NEG)

        bd_ts, bd_seq = col_i64("bd___ts"), col_i64("bd_seq")
        bl_ts, bl_seq = col_i64("bl___ts"), col_i64("bl_seq")
        cd_ts, cd_seq = col_i64("cd_ts"), col_i64("cd_seq")
        cl_ts, cl_seq = col_i64("cl_ts"), col_i64("cl_seq")

        # tombstone position T = max(cur delete, batch delete)
        bdel_wins = _gt(bd_ts, bd_seq, cd_ts, cd_seq)
        t_ts = np.where(bdel_wins, bd_ts, cd_ts)
        t_seq = np.where(bdel_wins, bd_seq, cd_seq)
        # life position = max(cur life, batch life)
        blife_wins = _gt(bl_ts, bl_seq, cl_ts, cl_seq)
        life_ts = np.where(blife_wins, bl_ts, cl_ts)
        life_seq = np.where(blife_wins, bl_seq, cl_seq)
        alive = _gt(life_ts, life_seq, t_ts, t_seq)
        cur_alive = in_cur & ~_gt(cd_ts, cd_seq, cl_ts, cl_seq) & (cl_seq > _NEG)

        row_ts = np.where(alive, life_ts, t_ts)
        row_seq = np.where(alive, life_seq, t_seq)

        # per-cell resolution
        cell_vals: dict[str, np.ndarray] = {}
        cell_ts: dict[str, np.ndarray] = {}
        cell_seq: dict[str, np.ndarray] = {}
        cell_from_batch: dict[str, np.ndarray] = {}
        changed = np.zeros(n, dtype=bool)
        for cell, _cid, src, canon in cells:
            cts, cseq = col_i64(f"c{cell}_ts"), col_i64(f"c{cell}_seq")
            cval = (
                m[f"c{cell}_v"].to_numpy()
                if f"c{cell}_v" in m.columns
                else np.full(n, None, dtype=object)
            )
            if src is not None:
                bts, bseq = col_i64(f"b{cell}___ts"), col_i64(f"b{cell}_seq")
                bval = (
                    m[f"b{cell}_v"].to_numpy()
                    if f"b{cell}_v" in m.columns
                    else np.full(n, None, dtype=object)
                )
                take_b = _gt(bts, bseq, cts, cseq)
            else:
                bts = bseq = np.full(n, _NEG, dtype=np.int64)
                bval = np.full(n, None, dtype=object)
                take_b = np.zeros(n, dtype=bool)
            v = np.where(take_b, bval, cval)
            ts = np.where(take_b, bts, cts)
            sq = np.where(take_b, bseq, cseq)
            # tombstone wipe: cells at/below T are dead; their baseline
            # position becomes T (a later write needs pos > T)
            wiped = ~_gt(ts, sq, t_ts, t_seq)
            v = np.where(wiped, None, v)
            ts = np.where(wiped, t_ts, ts)
            sq = np.where(wiped, t_seq, sq)
            from_b = take_b & ~wiped
            if canon and from_b.any():
                idx = np.nonzero(from_b)[0]
                v = v.astype(object)
                v[idx] = canonical_json_series(
                    pd.Series(v[idx], dtype=object)
                ).to_numpy()
            cell_vals[cell], cell_ts[cell], cell_seq[cell] = v, ts, sq
            cell_from_batch[cell] = from_b
            changed |= from_b

        # text rides with html
        text = None
        if has_text:
            text = (
                m["c_text"].astype(object).to_numpy()
                if "c_text" in m.columns
                else np.full(n, None, dtype=object)
            )
            if "html" in cell_vals:
                hb = cell_from_batch["html"]
                if hb.any():
                    idx = np.nonzero(hb)[0]
                    text[idx] = extract_text_series(
                        pd.Series(cell_vals["html"][idx], dtype=object)
                    ).to_numpy()
                # wiped/absent html ⇒ no text
                text = np.where(
                    pd.isna(pd.Series(cell_vals["html"], dtype=object)),
                    None,
                    text,
                )

        changed |= alive != cur_alive
        changed |= in_batch & (
            (row_seq != np.where(in_cur, np.where(cur_alive, cl_seq, cd_seq), _NEG))
        )

        action = np.full(n, "keep", dtype=object)
        action[in_batch & ~changed] = "keep_late"
        action[in_batch & changed & alive & ~cur_alive] = "insert"
        action[in_batch & changed & alive & cur_alive] = "update"
        action[in_batch & changed & ~alive & cur_alive] = "delete"
        action[in_batch & changed & ~alive & ~cur_alive] = "noop_delete"

        # ---------------- assemble output rows --------------------------
        out: dict[str, object] = {}
        out["url"] = m["url"]
        safe_ts = np.where(row_ts > _NEG, row_ts, 0)  # sentinel would
        # overflow pd.to_datetime; masked back to None right after
        out["warc_ts"] = pd.Series(
            pd.to_datetime(safe_ts, unit="us"), index=m.index
        ).where(pd.Series(row_ts > _NEG, index=m.index), None)
        out["_seq"] = np.where(row_seq > _NEG, row_seq, -1).astype("int64")
        out["_deleted"] = ~alive
        for cell in cell_names:
            out[cell] = pd.Series(cell_vals[cell], dtype=object).where(
                pd.Series(alive, index=m.index), None
            )
        if has_text:
            out["text"] = pd.Series(text, dtype=object).where(
                pd.Series(alive, index=m.index), None
            )
        # _cells: per-cell positions differing from the row position
        cells_json = np.full(n, None, dtype=object)
        nonuniform = np.zeros(n, dtype=bool)
        for cell in cell_names:
            nonuniform |= alive & (
                (cell_ts[cell] != row_ts) | (cell_seq[cell] != row_seq)
            )
        for i in np.nonzero(nonuniform)[0]:
            d = {
                str(cell_ids[cell]): [int(cell_ts[cell][i]), int(cell_seq[cell][i])]
                for cell in cell_names
                if cell_ts[cell][i] != row_ts[i] or cell_seq[cell][i] != row_seq[i]
            }
            cells_json[i] = json.dumps(d, sort_keys=True, separators=(",", ":"))
        out["_cells"] = cells_json

        res = pd.DataFrame({c: out[c] for c in table_cols})
        for c in res.columns:
            if res[c].dtype == object:
                res[c] = res[c].where(pd.notna(res[c]), None)
        bucket = (
            m["c__bucket"]
            if "c__bucket" in m.columns
            else pd.Series(np.nan, index=m.index)
        )
        if in_batch.any():
            bmap = bdf.drop_duplicates("url").set_index("url")["_bucket"]
            bucket = bucket.where(bucket.notna(), m["url"].map(bmap))
        # nullable: a NULL-key group keeps its NULL bucket so the commit
        # refuses it (a plain int64 cast would fail the task instead)
        res["_bucket"] = pd.to_numeric(bucket).astype("Int64")
        res["_action"] = action
        return res

    return merge_bucket


def merge_apply_cells(
    spark: SparkSession,
    table: LakeletTable,
    batch: DataFrame,
    batch_id: str,
    assume_all_buckets: bool = False,
    partial_to: int | None = None,
) -> MergeStats:
    """Apply one micro-batch with cell-level LWW (patch support) —
    cogrouped per-bucket COW, same two-job plan as
    :func:`merge_apply_cogrouped`."""
    m = table.manifest()
    bad = {"l", "d"} & {c.name for c in m.columns}
    if bad:
        # the kernel's internal frames use 'cl_/cd_/bl_/bd_' for the
        # row-level life/delete positions and 'c{cell}_/b{cell}_' for
        # per-cell positions — a payload column named 'l' or 'd' makes
        # those collide and silently corrupts aliveness/LWW resolution
        raise ValueError(
            f"patch_ops tables cannot have columns named {sorted(bad)} "
            "(reserved by the cells kernel's internal prefixes); rename "
            "the column or use row-level mode"
        )
    touched = _touched(table, m, batch, assume_all_buckets)

    observed, batch_obs = _observe_batch(batch)
    b = observed.withColumn(
        "warc_ts", F.col("warc_ts").cast("timestamp")
    ).withColumn("_bucket", bucket_expr("url", m.n_buckets))
    current = table._read_bucketed(spark, m, touched, m.n_buckets, m.n_buckets)
    from clinvar_ingest_spark.operators.merge import batch_alias_map

    alias = batch_alias_map(m, list(b.columns))
    fn = _merge_bucket_cells_fn(m.columns, b.columns, alias)
    survivors, merge_obs = _count_actions(
        _cogroup_buckets(m.n_buckets, b, current).applyInPandas(
            lambda left, right: fn(left, right), schema=_out_schema(m)
        )
    )
    return _commit_cow(
        spark, table, m, survivors, touched, batch_id, partial_to,
        batch_obs, merge_obs, mode="cells",
    )
