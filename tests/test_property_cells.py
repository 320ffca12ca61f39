"""Property-based check of the per-bucket merge kernel on a patch table
(one with a ``_cells`` column), driven on pyarrow tables with no Spark
session, against a brute-force per-cell Python fold.

Cell-level LWW, per key, with positions ``(warc_ts, seq)`` and a NULL
``warc_ts`` ranking lowest:

- a full image (insert/update) writes every cell, NULLs included;
- a patch writes its non-null cells;
- a delete kills every cell at or below its position — a position tie
  goes to the tombstone;
- the row is live iff its latest life event outranks its latest
  tombstone.

The current side is a real table state: a random history folded by the
brute force and encoded the way the table stores it, with per-cell
positions that differ from the row's in ``_cells``.
"""

import datetime as dt
import json

import pyarrow as pa
from hypothesis import given, settings, strategies as st

from clinvar_ingest_spark.functions.canonical_json import canonical_json_of_string
from clinvar_ingest_spark.functions.extract import extract_text_str
from clinvar_ingest_spark.operators.merge_cogroup import _NEG, _merge_bucket_arrow_fn

URLS = ["u0", "u1", "u2"]
EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
T0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
TS = pa.timestamp("us", tz="UTC")
COL_IDS = {
    "url": 1, "warc_ts": 2, "html": 3, "text": 4, "lang": 5,
    "_seq": 6, "_deleted": 7, "props": 8, "_cells": 9,
}
TABLE = pa.schema([
    ("url", pa.string()), ("warc_ts", TS), ("html", pa.binary()),
    ("text", pa.string()), ("lang", pa.string()), ("_seq", pa.int64()),
    ("_deleted", pa.bool_()), ("props", pa.string()), ("_cells", pa.string()),
])
CURRENT = pa.schema(list(TABLE) + [("_bucket", pa.int64())])
OUT = pa.schema(list(CURRENT) + [("_action", pa.string())])
BATCH = pa.schema([
    ("seq", pa.int64()), ("op", pa.string()), ("url", pa.string()),
    ("warc_ts", TS), ("html", pa.binary()), ("lang", pa.string()),
    ("extra", pa.string()), ("_bucket", pa.int64()),
])
#: table cell → the batch field that writes it
CELLS = {"html": "html", "lang": "lang", "props": "extra"}

event = st.tuples(
    st.sampled_from(URLS),
    st.one_of(st.none(), st.integers(0, 3)),  # warc_ts offset, NULL allowed
    st.integers(0, 5),  # seq: small, so positions tie across ops
    st.sampled_from(["insert", "update", "patch", "patch", "delete"]),
    st.one_of(st.none(), st.sampled_from([b"<p>a b</p>", b"<p>c</p>"])),
    st.one_of(st.none(), st.sampled_from(["en", "fr"])),
    st.one_of(st.none(), st.sampled_from(['{"b": 1, "a": 2}', '{"x": null}'])),
)
events = st.lists(event, max_size=10)


def _ts(off):
    return None if off is None else T0 + dt.timedelta(hours=off)


def _pos(ts, seq) -> tuple:
    """(ts_us, seq) with a NULL warc_ts at the kernel's bottom sentinel."""
    return (_NEG if ts is None else (ts - EPOCH) // dt.timedelta(microseconds=1), seq)


def _stream(evs) -> list[dict]:
    """Events as batch rows. Two life events of one key never share a
    position (their order would be undefined); a delete may tie one."""
    seen, rows = set(), []
    for url, off, seq, op, html, lang, extra in evs:
        key = (url, off, seq, op == "delete")
        if key in seen:
            continue
        seen.add(key)
        rows.append({
            "seq": seq, "op": op, "url": url, "warc_ts": _ts(off),
            "html": html, "lang": lang, "extra": extra, "_bucket": 0,
        })
    return rows


def _fold(rows: list[dict]) -> dict:
    """Brute force: url → (tombstone, life, {cell: (value, position)})."""
    state: dict = {}
    for r in rows:
        p = _pos(r["warc_ts"], r["seq"])
        t, life, cells = state.get(r["url"], ((_NEG, _NEG), (_NEG, _NEG), {}))
        if r["op"] == "delete":
            t = max(t, p)
        else:
            life = max(life, p)
            for cell, src in CELLS.items():
                if r["op"] != "patch" or r[src] is not None:
                    if p > cells.get(cell, (None, (_NEG, _NEG)))[1]:
                        cells[cell] = (r[src], p)
        state[r["url"]] = (t, life, cells)
    return state


def _resolve(state: dict) -> dict:
    """url → the table row the fold implies (lineage and payload)."""
    out = {}
    for url, (t, life, cells) in state.items():
        alive = life > t
        row = life if alive else t
        vals, odd = {}, {}
        for cell in CELLS:
            v, p = cells.get(cell, (None, (_NEG, _NEG)))
            if p <= t:  # the tombstone wipe: the cell now sits at T
                v, p = None, t
            vals[cell] = v
            if alive and p != row:
                odd[str(COL_IDS[cell])] = list(p)
        html = vals["html"]
        out[url] = {
            "url": url,
            "warc_ts": None if row[0] == _NEG else EPOCH + dt.timedelta(microseconds=row[0]),
            "html": html,
            "text": None if html is None else extract_text_str(html.decode()),
            "lang": vals["lang"],
            "_seq": row[1],
            "_deleted": not alive,
            "props": None if vals["props"] is None else canonical_json_of_string(vals["props"]),
            "_cells": odd or None,
        }
    return out


def _current(history: list[dict]) -> pa.Table:
    """The brute force's state after ``history``, stored as table rows."""
    rows = []
    for r in _resolve(_fold(history)).values():
        cells = r["_cells"]
        rows.append(dict(
            r, _cells=None if cells is None else json.dumps(cells, sort_keys=True),
            _bucket=0,
        ))
    return pa.Table.from_pylist(rows, schema=CURRENT)


def _kernel():
    return _merge_bucket_arrow_fn(TABLE.names, BATCH.names, OUT, col_ids=COL_IDS)


def _rows(out: pa.Table) -> dict:
    got = {}
    for r in out.to_pylist():
        assert r["url"] not in got  # one row per key
        r["_cells"] = None if r["_cells"] is None else json.loads(r["_cells"])
        got[r["url"]] = {k: r[k] for k in TABLE.names}
    return got


def _batch(rows: list[dict]) -> pa.Table:
    return pa.Table.from_pylist(rows, schema=BATCH)


@settings(max_examples=200, deadline=None)
@given(events, events)
def test_cell_fold_equals_brute_force(history, batch):
    """Folding ``batch`` into the state after ``history`` equals the
    brute-force fold of both, per cell and per position."""
    rows = _stream(history + batch)
    hist, new = rows[: len(_stream(history))], rows[len(_stream(history)):]
    out = _kernel()(_batch(new), _current(hist))
    assert out.schema == OUT
    want = _resolve(_fold(hist + new))
    assert _rows(out) == want


@settings(max_examples=150, deadline=None)
@given(events, events)
def test_cell_fold_split_invariance(a, b):
    """Folding A then B gives the state of one fold of A∪B."""
    rows = _stream(a + b)
    ra, rb = rows[: len(_stream(a))], rows[len(_stream(a)):]
    fn = _kernel()
    empty = CURRENT.empty_table()
    two = fn(_batch(rb), fn(_batch(ra), empty).drop(["_action"]))
    one = fn(_batch(rows), empty)
    assert _rows(two) == _rows(one)
