"""Deterministic synthetic changelog (simulated binlog/WAL) generator.

Replaces the reference's external source path (FTP download of weekly
ClinVar XML, reference: orchestration/templates/ingest-xml-archive.yaml:44-62,
then XML→JSON extraction, process-xml-release.yaml:70-90) with a seeded,
fully-deterministic stream of insert/update/delete events over
Common-Crawl-style web pages — FIXTURES.md §2 schema:

    (seq:long, op:string, url:string, warc_ts:timestamp,
     html:binary, lang:string, schema_ver:int, extra:string)

``extra`` carries unmodeled upstream fields as raw (non-canonical) JSON
— the analogue of the evolving-source fields the reference spills into
its ``content`` column (reference: README.md:24-28, Content.scala:16-22);
the engine canonicalizes it into the table's ``props`` column.

Properties (all seeded; default seed=42):
- host skew: urls drawn over hosts with a Zipf-like distribution so a
  few hot hosts dominate — exercises the engine's salted
  hash-partitioning / skew-split path (north rule);
- op mix insert:update:delete defaulting to 3:6:1 on an existing-key
  basis (first event for a url is always the insert);
- out-of-order rate: some events carry a *late* ``warc_ts`` (earlier
  than the key's current max) — exercises LWW;
- duplicate rate: some events are re-emitted verbatim (same ``seq``) —
  exercises exactly-once / idempotent apply;
- ``html`` payloads are rendered from a fixed template with seeded
  word sequences, so extracted text is reproducible byte-for-byte.

Everything is numpy-vectorized; generation at bench scale must not be
the bottleneck being measured.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = np.array(["en", "de", "fr", "es", "it"])

_WORDS = np.array(
    (
        "data page crawl web merge batch snapshot table row key value hash "
        "partition shuffle stream event change insert update delete commit "
        "ledger offset lineage schema column text html link index archive"
    ).split()
)

CHANGELOG_COLUMNS = [
    "seq", "op", "url", "warc_ts", "html", "lang", "schema_ver", "extra",
]

_EPOCH = np.datetime64("2024-01-01T00:00:00", "us")


@dataclass
class ChangelogSpec:
    n_events: int = 10_000
    n_urls: int = 2_000
    n_hosts: int = 50
    zipf_s: float = 1.3
    p_update: float = 0.6
    p_delete: float = 0.1  # remainder → insert of a new url
    out_of_order_rate: float = 0.1
    duplicate_rate: float = 0.02
    #: fraction of update events emitted as PARTIAL updates (op='patch'):
    #: the event carries a deterministic nonempty strict subset of the
    #: payload fields (html / lang / extra); NULL = "field untouched".
    #: Real binlogs (Debezium, app-level profile writes) ship deltas,
    #: not full images — requires CdcEngine(patch_ops=True) to apply.
    #: Selection and masking are STATELESS hashes of the event id, so
    #: p_patch=0 leaves every existing fixture byte-identical.
    p_patch: float = 0.0
    seed: int = 42
    schema_ver: int = 1
    #: words per page body — sizes the html payload (12 ≈ 0.4 KB pages
    #: for fast unit tests; real Common-Crawl pages are KBs–100s of KB,
    #: so benches use 100+ to keep per-event compute realistic).
    words_per_page: int = 12
    #: wrap body words in markup (like real tag-dense web HTML): page
    #: bytes ≈ 5× text bytes and extraction does real tag-stripping
    #: work per word instead of skimming one long text run.
    tag_dense: bool = False


_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized SplitMix64 — counter-based determinism for payload
    words, independent of chunking (event i, word j always hash alike)."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & _M64
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _M64
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _M64
    return x ^ (x >> np.uint64(31))


def _body_word_ix(seed: int, ev_index: np.ndarray, words_per_page: int) -> np.ndarray:
    """(len(ev_index), words_per_page) word indices, pure function of
    (seed, original event index, word position)."""
    i = ev_index.astype(np.uint64)[:, None]
    j = np.arange(words_per_page, dtype=np.uint64)[None, :]
    h = _splitmix64(i * np.uint64(0x100000001B3) + j + np.uint64(seed) * np.uint64(0x9E37))
    return (h % np.uint64(len(_WORDS))).astype(np.int64)


def _generate_meta(spec: ChangelogSpec) -> dict:
    """Everything except html rendering — small arrays only.

    Returns the dup-expanded, seq-sorted event stream as parallel numpy
    arrays plus ``ev_index`` (the original event id each row derives
    from; duplicates share it, so re-rendered payloads are verbatim).
    """
    rng = np.random.default_rng(spec.seed)

    # --- url universe with Zipf host skew -------------------------------
    host_ranks = np.arange(1, spec.n_hosts + 1, dtype=np.float64)
    host_probs = host_ranks ** (-spec.zipf_s)
    host_probs /= host_probs.sum()
    url_hosts = rng.choice(spec.n_hosts, size=spec.n_urls, p=host_probs)
    urls = np.array(
        [f"https://host{h:03d}.example.com/page/{i:06d}" for i, h in enumerate(url_hosts)]
    )

    # --- per-event op / key selection (vectorized state machine) --------
    n = spec.n_events
    ops = np.empty(n, dtype=object)
    key_idx = np.empty(n, dtype=np.int64)
    u = rng.random(n)
    inserted: list[int] = []
    inserted_set = np.zeros(spec.n_urls, dtype=bool)
    next_new = 0
    # choose candidate existing keys up-front (re-drawn per event from the
    # inserted prefix); loop is over events but does only O(1) python work
    cand = rng.random(n)
    deleted = np.zeros(spec.n_urls, dtype=bool)
    for i in range(n):
        want_update = u[i] < spec.p_update
        want_delete = spec.p_update <= u[i] < spec.p_update + spec.p_delete
        if (want_update or want_delete) and inserted:
            j = inserted[int(cand[i] * len(inserted))]
            key_idx[i] = j
            if want_delete and not deleted[j]:
                ops[i] = "delete"
                deleted[j] = True
            else:
                ops[i] = "update"
                deleted[j] = False  # an update resurrects a deleted url
        else:
            if next_new >= spec.n_urls:  # url universe exhausted → update
                j = inserted[int(cand[i] * len(inserted))]
                key_idx[i] = j
                ops[i] = "update"
                deleted[j] = False
            else:
                key_idx[i] = next_new
                ops[i] = "insert"
                inserted.append(next_new)
                inserted_set[next_new] = True
                next_new += 1

    # --- timestamps: increasing base + late out-of-order jitter ---------
    base_us = np.cumsum(rng.integers(1, 120_000_000, size=n))  # ~1m avg step
    late = rng.random(n) < spec.out_of_order_rate
    jitter = rng.integers(60_000_000, 3_600_000_000, size=n)  # 1min..1h back
    ts_us = base_us - np.where(late, jitter, 0)
    warc_ts = _EPOCH + ts_us.astype("timedelta64[us]")

    # --- partial updates (op='patch') -----------------------------------
    # stateless hash selection: p_patch=0 performs NO rng draws, so every
    # pre-existing fixture stays byte-identical
    if spec.p_patch > 0:
        hp = _splitmix64(
            np.arange(n, dtype=np.uint64) * np.uint64(0xD1B54A32D192ED03)
            + np.uint64(spec.seed) * np.uint64(0x9E3779B9)
        )
        to_patch = (ops == "update") & (
            (hp % np.uint64(1_000_000)).astype(np.int64)
            < int(spec.p_patch * 1_000_000)
        )
        ops = ops.copy()
        ops[to_patch] = "patch"

    # --- light payload attrs --------------------------------------------
    ev_urls = urls[key_idx]
    langs = LANGS[rng.integers(0, len(LANGS), size=n)]

    # --- duplicate re-delivery (same seq, verbatim) ----------------------
    ev_index = np.arange(n, dtype=np.int64)
    if spec.duplicate_rate > 0:
        dup_mask = rng.random(n) < spec.duplicate_rate
        ev_index = np.concatenate([ev_index, ev_index[dup_mask]])
        order = np.argsort(ev_index, kind="stable")
        ev_index = ev_index[order]

    return {
        "ev_index": ev_index,  # original event id per output row
        "seq": ev_index,  # seq == original event id (dups share it)
        "op": ops,
        "url": ev_urls,
        "warc_ts": warc_ts,
        "lang": langs,
    }


def _join_ix(ix: np.ndarray, dictionary: pa.Array) -> np.ndarray:
    """Vectorized ' '.join of dictionary[ix] rows via pyarrow binary_join."""
    import pyarrow.compute as pc

    n, w = ix.shape
    flat = dictionary.take(pa.array(ix.ravel(), type=pa.int64()))
    offsets = pa.array(np.arange(0, (n + 1) * w, w, dtype=np.int32))
    joined = pc.binary_join(pa.ListArray.from_arrays(offsets, flat), " ")
    return np.asarray(joined)


_N_BLOCKS, _BLOCK_WORDS = 1024, 16
_BLOCK_DICTS: dict[bool, pa.Array] = {}


def _wrap(w: str, tag_dense: bool) -> str:
    return f'<span class="w">{w}</span>' if tag_dense else w


def _block_dict(tag_dense: bool) -> pa.Array:
    """1024 fixed 16-word text blocks (pure function of the word list).
    Long pages draw blocks instead of single words — 16× fewer take/join
    operations with the same extraction-workload characteristics."""
    if tag_dense not in _BLOCK_DICTS:
        b = np.arange(_N_BLOCKS, dtype=np.uint64)[:, None]
        j = np.arange(_BLOCK_WORDS, dtype=np.uint64)[None, :]
        ix = (_splitmix64(b * np.uint64(0x9E3779B9) + j) % np.uint64(len(_WORDS))).astype(int)
        _BLOCK_DICTS[tag_dense] = pa.array(
            [" ".join(_wrap(w, tag_dense) for w in _WORDS[r]) for r in ix],
            type=pa.string(),
        )
    return _BLOCK_DICTS[tag_dense]


def _bodies(spec: ChangelogSpec, ev_index: np.ndarray) -> np.ndarray:
    """Deterministic page bodies of ~words_per_page words (chunk-independent:
    pure function of (seed, original event index, position))."""
    words_per_page = spec.words_per_page
    if words_per_page < 2 * _BLOCK_WORDS:
        word_ix = _body_word_ix(spec.seed, ev_index, words_per_page)
        return _join_ix(
            word_ix,
            pa.array([_wrap(w, spec.tag_dense) for w in _WORDS], type=pa.string()),
        )
    n_blocks = (words_per_page + _BLOCK_WORDS - 1) // _BLOCK_WORDS
    i = ev_index.astype(np.uint64)[:, None]
    j = np.arange(n_blocks, dtype=np.uint64)[None, :]
    h = _splitmix64(i * np.uint64(0x100000001B3) + j + np.uint64(spec.seed) * np.uint64(0x9E37))
    block_ix = (h % np.uint64(_N_BLOCKS)).astype(np.int64)
    return _join_ix(block_ix, _block_dict(spec.tag_dense))


def _render_html_vec(urls: np.ndarray, bodies: np.ndarray, langs: np.ndarray) -> pa.Array:
    """Vectorized page render — fixed template, deterministic bytes."""
    import pyarrow.compute as pc

    u = pa.array(urls, type=pa.string())
    b = pa.array(bodies, type=pa.string())
    lang = pa.array(langs, type=pa.string())
    html = pc.binary_join_element_wise(
        '<html lang="', lang, '"><head><title>', u,
        "</title><script>var x=1;</script><style>p{color:red}</style></head>"
        "<body><!-- gen --><h1>", u, "</h1><p>", b, "</p>"
        '<p><a href="', u, '?ref=self">self</a> '
        '<a href="https://index.example.org/', lang, '">index</a></p>'
        "<div>footer &amp; links</div></body></html>",
        "",
    )
    return html.cast(pa.binary())


_STATUSES = np.array(["200", "200", "200", "301", "404", "500"])  # 200-heavy


def _extra_json(seed: int, ev_index: np.ndarray) -> np.ndarray:
    """Deterministic unmodeled-field JSON per event, rendered in a
    deliberately NON-canonical form (unsorted keys, spaces) so the
    engine's canonicalization does real work."""
    h = _splitmix64(ev_index.astype(np.uint64) * np.uint64(0x2545F491) + np.uint64(seed))
    status = _STATUSES[(h % np.uint64(len(_STATUSES))).astype(np.int64)]
    fetch_ms = ((h >> np.uint64(8)) % np.uint64(5000)).astype(np.int64).astype(str)
    import pyarrow.compute as pc

    return np.asarray(
        pc.binary_join_element_wise(
            '{"status": ', status, ', "fetch_ms": ', fetch_ms, "}", ""
        )
    )


def _render_rows(spec: ChangelogSpec, meta: dict, lo: int, hi: int) -> pd.DataFrame:
    """Materialize output rows [lo, hi) of the expanded stream."""
    ix = meta["ev_index"][lo:hi]
    ops = meta["op"][ix]
    ev_urls = meta["url"][ix]
    langs = meta["lang"][ix]
    bodies = _bodies(spec, ix)
    html = _render_html_vec(ev_urls, bodies, langs).to_pandas()
    df = pd.DataFrame(
        {
            "seq": meta["seq"][lo:hi],
            "op": ops,
            "url": ev_urls,
            "warc_ts": meta["warc_ts"][ix],
            "html": html,
            "lang": langs,
            "schema_ver": np.full(hi - lo, spec.schema_ver, dtype=np.int32),
            "extra": _extra_json(spec.seed, ix),
        }
    )
    # delete events carry no payload (FIXTURES.md §2)
    is_del = df["op"] == "delete"
    df.loc[is_del, "html"] = None
    df.loc[is_del, "lang"] = None
    df.loc[is_del, "extra"] = None
    # patch events carry a deterministic nonempty strict subset of the
    # payload fields (carry bits 1..6 of {html, lang, extra}); NULL =
    # "field untouched" — duplicates share ev_index, so re-deliveries
    # mask identically (verbatim)
    is_patch = (df["op"] == "patch").to_numpy()
    if is_patch.any():
        hm = _splitmix64(
            ix.astype(np.uint64) * np.uint64(0x94D049BB133111EB)
            + np.uint64(spec.seed)
        )
        carry = 1 + (hm % np.uint64(6)).astype(np.int64)  # 1..6, never all/none
        df.loc[is_patch & ((carry & 1) == 0), "html"] = None
        df.loc[is_patch & ((carry & 2) == 0), "lang"] = None
        df.loc[is_patch & ((carry & 4) == 0), "extra"] = None
    return df


def generate_changelog(spec: ChangelogSpec | None = None, **kw) -> pd.DataFrame:
    """Generate the event stream as a pandas DataFrame ordered by ``seq``."""
    spec = spec or ChangelogSpec(**kw)
    meta = _generate_meta(spec)
    return _render_rows(spec, meta, 0, len(meta["ev_index"]))


def estimated_page_bytes(spec: ChangelogSpec) -> int:
    per_word = 7 * (4 if spec.tag_dense else 1)
    return 300 + spec.words_per_page * per_word


def generate_changelog_to_parquet(
    spec: ChangelogSpec, path: str, chunk_rows: int = 100_000
) -> int:
    """Stream-generate a big changelog straight to parquet with bounded
    memory (html payloads are rendered per chunk, never all at once).
    Byte-identical to ``generate_changelog`` + ``write_changelog_parquet``
    for the same spec. Returns the number of rows written."""
    # arrow string/binary arrays carry int32 offsets (2 GB per array):
    # cap chunk bytes well below that or the render kernels overflow
    chunk_rows = max(min(chunk_rows, 700_000_000 // estimated_page_bytes(spec)), 1024)
    meta = _generate_meta(spec)
    total = len(meta["ev_index"])
    writer = pq.ParquetWriter(path, changelog_arrow_schema(), compression="zstd")
    try:
        for lo in range(0, total, chunk_rows):
            hi = min(lo + chunk_rows, total)
            chunk = _render_rows(spec, meta, lo, hi)
            table = pa.Table.from_pandas(
                chunk, schema=changelog_arrow_schema(), preserve_index=False
            )
            for rg_lo in range(0, len(table), 8192):
                writer.write_table(table.slice(rg_lo, 8192))
    finally:
        writer.close()
    return total


def changelog_arrow_schema() -> pa.Schema:
    return pa.schema(
        [
            ("seq", pa.int64()),
            ("op", pa.string()),
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us")),
            ("html", pa.binary()),
            ("lang", pa.string()),
            ("schema_ver", pa.int32()),
            ("extra", pa.string()),
        ]
    )


def write_changelog_parquet(df: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(df, schema=changelog_arrow_schema(), preserve_index=False)
    # Bounded row groups: parquet files split at row-group boundaries,
    # so a single segment file must contain many groups or every
    # pre-shuffle Spark stage collapses to ONE task no matter how many
    # executors exist (scan parallelism = splittability, not cores).
    pq.write_table(table, path, compression="zstd", row_group_size=8192)
