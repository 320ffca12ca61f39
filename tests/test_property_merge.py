"""Property-based check of the per-bucket merge kernel (hypothesis).

The reference ships no property tests (SURVEY.md §5); the LWW + tombstone
+ late-event semantics are exactly the kind of fold where randomized
inputs catch edge cases example tests miss. This drives the Arrow kernel
production runs (`_merge_bucket_arrow_fn`) directly on pyarrow tables —
no Spark session, so hundreds of examples run in seconds — against an
independent brute-force fold.

Invariant: for every url, the kernel's output row equals the fold
    state = None
    for the batch's LWW winner w (max (warc_ts, seq)):
        if state is None or (w.ts, w.seq) > (state.ts, state.seq):
            state = tombstone(w) if w.op == 'delete' else live(w)
over the current row as the initial state — i.e. sequential CDC apply
equals global LWW with soft deletes. A NULL ``warc_ts`` ranks below
every real one, on the batch side and the current side alike.
"""

import datetime as dt

import numpy as np
import pyarrow as pa
from hypothesis import given, settings, strategies as st

from clinvar_ingest_spark.functions.canonical_json import canonical_json_of_string
from clinvar_ingest_spark.functions.extract import extract_text_str
from clinvar_ingest_spark.operators.merge_cogroup import _merge_bucket_arrow_fn

URLS = [f"u{i}" for i in range(4)]
T0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
TS = pa.timestamp("us", tz="UTC")
TAIL = [("_bucket", pa.int64())]

KEYS = [("url", pa.string()), ("warc_ts", TS)]
LINEAGE = [("_seq", pa.int64()), ("_deleted", pa.bool_())]
EVENT = [("seq", pa.int64()), ("op", pa.string()), ("url", pa.string()), ("warc_ts", TS)]

# pages: html extracted into text, raw extra canonicalized into props
PAGE_PAYLOAD = [("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())]
PAGE_TABLE = pa.schema(KEYS + PAGE_PAYLOAD + LINEAGE + [("props", pa.string())])
PAGE_BATCH = pa.schema(
    EVENT + [("html", pa.binary()), ("lang", pa.string()), ("extra", pa.string())] + TAIL
)

# entity rows: nested payloads, no html/text
XREF = pa.struct([("db", pa.string()), ("xid", pa.string())])
ENT_PAYLOAD = [("tags", pa.list_(pa.string())), ("xrefs", pa.list_(XREF))]
ENT_TABLE = pa.schema(KEYS + ENT_PAYLOAD + LINEAGE)
ENT_BATCH = pa.schema(EVENT + ENT_PAYLOAD + TAIL)

# ts offset (collisions likely) or None for a NULL warc_ts
ts_off = st.one_of(st.none(), st.integers(min_value=0, max_value=6))
event = st.tuples(
    st.sampled_from(URLS),
    ts_off,
    st.sampled_from(["insert", "update", "delete"]),
)
cur_row = st.tuples(
    st.sampled_from(URLS),
    ts_off,
    st.booleans(),  # _deleted tombstone?
)
tags = st.one_of(st.none(), st.lists(st.sampled_from(["a", "b", "c"]), max_size=3))
xrefs = st.one_of(
    st.none(),
    st.lists(
        st.fixed_dictionaries(
            {"db": st.sampled_from(["d", "e"]), "xid": st.one_of(st.none(), st.text("xy", max_size=2))}
        ),
        max_size=3,
    ),
)
entity_event = st.tuples(event, tags, xrefs)


def _ts(off: int | None) -> dt.datetime | None:
    return None if off is None else T0 + dt.timedelta(hours=off)


def _pos(ts: dt.datetime | None, seq: int) -> tuple:
    """LWW position; a NULL warc_ts ranks lowest."""
    return (ts is not None, ts or T0, seq)


def _out_schema(table_schema: pa.Schema) -> pa.Schema:
    return pa.schema(list(table_schema) + TAIL + [("_action", pa.string())])


def _kernel(table_schema: pa.Schema, batch_schema: pa.Schema):
    return _merge_bucket_arrow_fn(
        table_schema.names, batch_schema.names, _out_schema(table_schema)
    )


def _rows(tbl: pa.Table) -> dict:
    """url -> output row (one row per key is the table invariant)."""
    out = {}
    for r in tbl.to_pylist():
        assert r["url"] not in out
        out[r["url"]] = r
    return out


def _as_current(out: pa.Table, table_schema: pa.Schema) -> pa.Table:
    """A kernel output fed back as the next batch's current state."""
    return out.select(table_schema.names + ["_bucket"])


def _mk_page_batch(events) -> pa.Table:
    rows = []
    for seq, (url, off, op) in enumerate(events):
        is_del = op == "delete"
        rows.append(
            {
                "seq": seq,
                "op": op,
                "url": url,
                "warc_ts": _ts(off),
                "html": None if is_del else f"<p>{url} v{seq}</p>".encode(),
                "lang": None if is_del else "en",
                "extra": None if is_del else '{"status": 200, "fetch_ms": %d}' % seq,
                "_bucket": 0,
            }
        )
    return pa.Table.from_pylist(rows, schema=PAGE_BATCH)


def _mk_page_current(rows) -> pa.Table:
    seen = set()
    out = []
    for i, (url, off, deleted) in enumerate(rows):
        if url in seen:
            continue  # one current row per key (table invariant)
        seen.add(url)
        out.append(
            {
                "url": url,
                "warc_ts": _ts(off),
                "html": None if deleted else f"<p>{url} old</p>".encode(),
                "text": None if deleted else f"{url} old",
                "lang": None if deleted else "de",
                "_seq": -100 + i,  # below all batch seqs: ties go to batch
                "_deleted": deleted,
                "props": None if deleted else '{"old":true}',
                "_bucket": 0,
            }
        )
    return pa.Table.from_pylist(out, schema=pa.schema(list(PAGE_TABLE) + TAIL))


def _fold(batch: pa.Table, current: pa.Table, seq_col: str = "seq") -> dict:
    """Independent fold: expected url -> winning row (its own dict, with
    ``_seq`` and ``_deleted`` normalized across batch and current rows)."""
    state = {
        r["url"]: dict(r, _seq=int(r["_seq"]), _deleted=bool(r["_deleted"]))
        for r in current.to_pylist()
    }
    winners: dict = {}
    for r in batch.to_pylist():  # per-url batch LWW: max (warc_ts, seq)
        w = winners.get(r["url"])
        if w is None or _pos(r["warc_ts"], r[seq_col]) > _pos(w["warc_ts"], w[seq_col]):
            winners[r["url"]] = r
    for url, w in winners.items():
        cur = state.get(url)
        if cur is None or _pos(w["warc_ts"], w[seq_col]) > _pos(cur["warc_ts"], cur["_seq"]):
            state[url] = dict(w, _seq=int(w[seq_col]), _deleted=w["op"] == "delete")
    return state


def _lineage(rows: dict) -> dict:
    return {u: (r["warc_ts"], r["_seq"], r["_deleted"]) for u, r in rows.items()}


@settings(max_examples=200, deadline=None)
@given(
    st.lists(event, max_size=12),
    st.lists(cur_row, max_size=4),
)
def test_merge_kernel_equals_global_lww_fold(events, current_rows):
    batch = _mk_page_batch(events)
    current = _mk_page_current(current_rows)
    out = _kernel(PAGE_TABLE, PAGE_BATCH)(batch, current)
    assert out.schema == _out_schema(PAGE_TABLE)

    want = _fold(batch, current)
    got = _rows(out)
    assert _lineage(got) == _lineage(want)

    if current.num_rows == 0:
        # the merge-on-read plan: against an empty current side every
        # winner is a delta row — a live version or a tombstone — and
        # the action counts are the lineage's n_upserts / n_deletes
        actions = out["_action"].to_pylist()
        assert set(actions) <= {"insert", "noop_delete"}
        n_tomb = sum(r["_deleted"] for r in want.values())
        assert actions.count("insert") == len(want) - n_tomb
        assert actions.count("noop_delete") == n_tomb

    # payloads come from the winner: extracted html, canonical extra;
    # a tombstone carries none of them
    for url, r in got.items():
        w = want[url]
        if r["_deleted"]:
            assert r["html"] is None and r["text"] is None
            assert r["lang"] is None and r["props"] is None
            continue
        assert r["html"] == w["html"] and r["lang"] == w["lang"]
        assert r["text"] == extract_text_str(w["html"].decode())
        raw = w["extra"] if "extra" in w else w["props"]
        assert r["props"] == canonical_json_of_string(raw)


@settings(max_examples=100, deadline=None)
@given(st.lists(event, min_size=1, max_size=12), st.integers(1, 4))
def test_batch_split_invariance(events, n_splits):
    """Applying the stream as ONE batch equals applying it as K
    sequential batches (the engine's replay-convergence property, at
    kernel granularity)."""
    batch = _mk_page_batch(events)
    empty = _mk_page_current([])
    fn = _kernel(PAGE_TABLE, PAGE_BATCH)

    one = fn(batch, empty)

    state = empty
    for ix in np.array_split(np.arange(batch.num_rows), n_splits):
        if len(ix) == 0:
            continue
        state = _as_current(fn(batch.take(pa.array(ix)), state), PAGE_TABLE)

    drop = ["_action", "_bucket"]
    assert _rows(one.drop(drop)) == _rows(state.drop(["_bucket"]))


@settings(max_examples=150, deadline=None)
@given(
    st.lists(entity_event, max_size=12),
    st.lists(st.tuples(cur_row, tags, xrefs), max_size=4),
)
def test_nested_payload_kernel_equals_global_lww_fold(events, current_rows):
    """Entity tables: list<string> and list<struct> payloads, no html or
    text — nested values ride through the merge by row index and land
    exactly as the winning event carried them."""
    batch = pa.Table.from_pylist(
        [
            {
                "seq": seq, "op": op, "url": url, "warc_ts": _ts(off),
                "tags": None if op == "delete" else tg,
                "xrefs": None if op == "delete" else xr,
                "_bucket": 0,
            }
            for seq, ((url, off, op), tg, xr) in enumerate(events)
        ],
        schema=ENT_BATCH,
    )
    seen: set = set()
    cur = []
    for i, ((url, off, deleted), tg, xr) in enumerate(current_rows):
        if url not in seen:
            seen.add(url)
            cur.append({
                "url": url, "warc_ts": _ts(off),
                "tags": None if deleted else tg,
                "xrefs": None if deleted else xr,
                "_seq": -100 + i, "_deleted": deleted, "_bucket": 0,
            })
    current = pa.Table.from_pylist(cur, schema=pa.schema(list(ENT_TABLE) + TAIL))

    out = _kernel(ENT_TABLE, ENT_BATCH)(batch, current)
    assert out.schema == _out_schema(ENT_TABLE)

    want = _fold(batch, current)
    got = _rows(out)
    assert _lineage(got) == _lineage(want)
    for url, r in got.items():
        if r["_deleted"]:
            assert r["tags"] is None and r["xrefs"] is None
        else:
            assert (r["tags"], r["xrefs"]) == (want[url]["tags"], want[url]["xrefs"])


def test_carried_column_dies_with_an_in_batch_delete():
    """A table column the batch lacks carries over from the current row
    on update — unless a delete between the two killed it, in one batch
    exactly as in two."""
    table = pa.schema(KEYS + [("lang", pa.string()), ("x", pa.string())] + LINEAGE)
    batch_schema = pa.schema(EVENT + [("lang", pa.string())] + TAIL)
    current = pa.Table.from_pylist(
        [{"url": "u0", "warc_ts": _ts(1), "lang": "en", "x": "old",
          "_seq": 1, "_deleted": False, "_bucket": 0}],
        schema=pa.schema(list(table) + TAIL),
    )
    events = [
        {"seq": 2, "op": "update", "url": "u0", "warc_ts": _ts(2), "lang": "de", "_bucket": 0},
        {"seq": 3, "op": "delete", "url": "u0", "warc_ts": _ts(3), "lang": None, "_bucket": 0},
        {"seq": 4, "op": "update", "url": "u0", "warc_ts": _ts(4), "lang": "fr", "_bucket": 0},
    ]
    fn = _kernel(table, batch_schema)
    one = fn(pa.Table.from_pylist(events, schema=batch_schema), current)
    state = current
    for e in events:
        state = _as_current(fn(pa.Table.from_pylist([e], schema=batch_schema), state), table)
    assert _rows(one.drop(["_action", "_bucket"])) == _rows(state.drop(["_bucket"]))
    assert _rows(one)["u0"]["x"] is None
    assert (_rows(one)["u0"]["lang"], _rows(one)["u0"]["_seq"]) == ("fr", 4)
