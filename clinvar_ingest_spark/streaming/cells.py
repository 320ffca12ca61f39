"""Streaming cell-level LWW feed — the continuous form of the patch
engine (``CdcEngine(patch_ops=True)``, whose apply is the cell fold of
``operators/merge_cogroup.py``), via ``applyInPandasWithState``.

Each url group's state holds the row tombstone position, the life
position, and one (value, position) pair per tracked cell — the same
associative fold the batch kernel applies, with the same position order
(NULL ``warc_ts`` at the kernel's bottom sentinel ``_NEG``), so the
feed's final emission per key equals the batch engine's resolved row no
matter how the stream is chopped into micro-batches. It keeps its own
per-key fold because its state is not a table row: ``html`` is tracked
as its sha256 (the feed is a metadata push — subscribers pull bytes from
the table), ``props`` is the canonicalized ``extra`` residue, and
existing checkpoints depend on that state schema.

Emission contract (update mode, SQL-mirrorable): a key emits in a
micro-batch iff its OBSERVABLE tuple (warc_ts, seq, lang, props,
html_sha, live) changed; internal-only changes (a losing duplicate, a
same-value patch advancing a cell position) update state silently.
"""

from __future__ import annotations

import hashlib
from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from clinvar_ingest_spark.operators.merge_cogroup import _NEG

#: state: tombstone pos, life pos, then (v, ts, seq) per cell
CELLS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("t_ts", T.LongType()),
        T.StructField("t_seq", T.LongType()),
        T.StructField("l_ts", T.LongType()),
        T.StructField("l_seq", T.LongType()),
        T.StructField("lang_v", T.StringType()),
        T.StructField("lang_ts", T.LongType()),
        T.StructField("lang_seq", T.LongType()),
        T.StructField("props_v", T.StringType()),
        T.StructField("props_ts", T.LongType()),
        T.StructField("props_seq", T.LongType()),
        T.StructField("html_v", T.StringType()),  # sha256 hex
        T.StructField("html_ts", T.LongType()),
        T.StructField("html_seq", T.LongType()),
    ]
)

CELLS_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("seq", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("props", T.StringType()),
        T.StructField("html_sha", T.StringType()),
        T.StructField("live", T.BooleanType()),
    ]
)

_CELLS = ("lang", "props", "html")


def _ts_us(s: pd.Series) -> np.ndarray:
    """Timestamp series → int64 microseconds (NaT → _NEG)."""
    v = s.to_numpy()
    out = np.full(len(v), _NEG, dtype=np.int64)
    mask = ~pd.isna(v)
    if mask.any():
        out[mask] = v[mask].astype("datetime64[us]").astype("int64")
    return out


def _us_ts(us: int):
    """int64 microseconds → Timestamp; the ``_NEG`` sentinel (a NULL
    ``warc_ts``) → NaT, since converting it would overflow."""
    return pd.NaT if us == _NEG else pd.Timestamp(us * 1000)


def _canon_props(raw: str | None) -> str | None:
    if raw is None:
        return None
    from clinvar_ingest_spark.functions.canonical_json import (
        canonical_json_series,
    )

    return canonical_json_series(pd.Series([raw], dtype=object))[0]


def _cells_update(
    key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (url,) = key
    if state.exists:
        st = list(state.get)
    else:
        st = [_NEG, _NEG, _NEG, _NEG] + [None, _NEG, _NEG] * 3
    t_ts, t_seq, l_ts, l_seq = st[0], st[1], st[2], st[3]
    cells = {
        c: [st[4 + 3 * i], st[5 + 3 * i], st[6 + 3 * i]]
        for i, c in enumerate(_CELLS)
    }

    def obs():
        # strict >: a position tie loses to the tombstone — same
        # resolution as the batch kernel (merge_cogroup's `alive`)
        alive = (l_ts, l_seq) > (t_ts, t_seq)
        row = (l_ts, l_seq) if alive else (t_ts, t_seq)
        if alive:
            vals = {c: cells[c][0] for c in _CELLS}
        else:
            vals = {c: None for c in _CELLS}
        return (row, vals["lang"], vals["props"], vals["html"], alive)

    before = obs()
    dirty = False
    for pdf in pdfs:
        # NaT → _NEG (bottom) BEFORE the sort, exactly like the batch
        # kernel: raw NaT sorts LAST but its position is the minimum
        pdf = pdf.assign(__ts=_ts_us(pdf["warc_ts"]))
        pdf = pdf.sort_values(["__ts", "seq"], kind="stable")
        ts_us = pdf["__ts"].to_numpy()
        is_del = (pdf["op"] == "delete").to_numpy()
        is_patch = (pdf["op"] == "patch").to_numpy()
        # batch-local folds (last = max position; rows are sorted)
        if is_del.any():
            i = is_del.nonzero()[0][-1]
            if (int(ts_us[i]), int(pdf["seq"].iloc[i])) > (t_ts, t_seq):
                t_ts, t_seq = int(ts_us[i]), int(pdf["seq"].iloc[i])
                dirty = True
        life = ~is_del
        if life.any():
            i = life.nonzero()[0][-1]
            if (int(ts_us[i]), int(pdf["seq"].iloc[i])) > (l_ts, l_seq):
                l_ts, l_seq = int(ts_us[i]), int(pdf["seq"].iloc[i])
                dirty = True
        for cell, src in (("lang", "lang"), ("props", "extra"), ("html", "html")):
            carrier = life & (~is_patch | pdf[src].notna().to_numpy())
            if not carrier.any():
                continue
            i = carrier.nonzero()[0][-1]
            pos = (int(ts_us[i]), int(pdf["seq"].iloc[i]))
            if pos > (cells[cell][1], cells[cell][2]):
                raw = pdf[src].iloc[i]
                if raw is not None and cell == "html":
                    raw = hashlib.sha256(bytes(raw)).hexdigest()
                elif cell == "props":
                    raw = _canon_props(raw)
                cells[cell] = [raw, pos[0], pos[1]]
                dirty = True
        # tombstone wipe: cells at/below T die, baseline becomes T
        for cell in _CELLS:
            if (cells[cell][1], cells[cell][2]) <= (t_ts, t_seq):
                if cells[cell][0] is not None or cells[cell][1] != t_ts:
                    dirty = True
                cells[cell] = [None, t_ts, t_seq]

    if dirty:
        flat = [t_ts, t_seq, l_ts, l_seq]
        for c in _CELLS:
            flat.extend(cells[c])
        state.update(tuple(flat))
    after = obs()
    if after != before:
        (row_ts, row_seq), lang, props, html_sha, alive = (
            after[0],
            after[1],
            after[2],
            after[3],
            after[4],
        )
        # row_ts == _NEG means the observable position came from a
        # NULL-warc_ts event (seq-only ordering) — the batch kernel
        # writes a NULL warc_ts there too
        yield pd.DataFrame(
            {
                "url": [url],
                "warc_ts": [_us_ts(row_ts)],
                "seq": [row_seq],
                "lang": [lang],
                "props": [props],
                "html_sha": [html_sha],
                "live": [alive],
            }
        )


def streaming_cells_feed(stream: DataFrame) -> DataFrame:
    """Changelog stream (patch events allowed) → resolved-row change
    feed with cell-level LWW semantics."""
    return stream.groupBy("url").applyInPandasWithState(
        _cells_update,
        outputStructType=CELLS_OUTPUT_SCHEMA,
        stateStructType=CELLS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_cells_feed(
    spark,
    changelog_dir: str,
    checkpoint_dir: str,
    query_name: str = "cells_feed",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Tail segments → cell-LWW change feed → in-memory sink."""
    from clinvar_ingest_spark.streaming.tail import CHANGELOG_SCHEMA

    reader = spark.readStream.schema(CHANGELOG_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    stream = reader.parquet(changelog_dir)
    feed = streaming_cells_feed(stream)
    writer = (
        feed.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
