"""LWW dedup: reference semantics (ArchiveBranchesSpec.scala:50-228 —
latest-dated survivor per key) plus our deterministic seq tie-break,
and one order everywhere the rule runs: ``lww_latest``, a merge-on-read
table's resolving reads and its compaction, and a copy-on-write apply."""

import datetime as dt

import pytest

from clinvar_ingest_spark.engine import CdcEngine
from clinvar_ingest_spark.operators.lww import lww_latest


def _ts(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture()
def events_df(spark):
    rows = [
        # key a: later warc_ts wins regardless of seq order
        (0, "a", _ts("2024-01-02T00:00:00"), "v1"),
        (1, "a", _ts("2024-01-05T00:00:00"), "v2"),  # winner
        (2, "a", _ts("2024-01-03T00:00:00"), "v3"),  # late arrival
        # key b: warc_ts tie → higher seq wins
        (3, "b", _ts("2024-01-01T00:00:00"), "w1"),
        (4, "b", _ts("2024-01-01T00:00:00"), "w2"),  # winner (seq)
        # key c: single row
        (5, "c", _ts("2024-01-01T00:00:00"), "x1"),
    ]
    return spark.createDataFrame(rows, ["seq", "url", "warc_ts", "payload"])


EXPECT = {"a": "v2", "b": "w2", "c": "x1"}


def _as_map(df):
    return {r["url"]: r["payload"] for r in df.collect()}


def test_lww_latest(events_df):
    out = lww_latest(events_df, keys=("url",), order_by=("warc_ts", "seq"))
    assert _as_map(out) == EXPECT
    assert out.count() == 3


def test_lww_order_parity_with_null_timestamps(spark, tmp_path):
    """``lww_latest``, a MOR table's ``read()`` and ``read_key()``, the
    same table after ``compact()``, and a COW table crown the same
    winner per key: a NULL ``warc_ts`` ranks lowest, a ``warc_ts`` tie
    falls to the higher seq, and a delete wins as a tombstone. Each key
    has one event per batch, so every MOR winner is chosen by a resolve
    across delta files and every COW winner by the apply kernel's
    batch-vs-current compare, never by its in-batch fold. A row first
    written with a NULL ``warc_ts`` stays replaceable in both modes."""
    t = _ts
    html = b"<p>x</p>"
    # (seq, op, url, warc_ts): seqs 0-9 are batch 1, 10-19 batch 2
    events = [
        (0, "insert", "real-then-null", t("2024-01-05T00:00:00")),
        (10, "update", "real-then-null", None),
        (1, "insert", "all-null", None),
        (11, "update", "all-null", None),
        (2, "insert", "ts-tie", t("2024-01-01T00:00:00")),
        (12, "update", "ts-tie", t("2024-01-01T00:00:00")),
        (3, "insert", "late", t("2024-01-09T00:00:00")),
        (13, "update", "late", t("2024-01-02T00:00:00")),
        (4, "insert", "deleted", t("2024-01-01T00:00:00")),
        (14, "delete", "deleted", t("2024-01-03T00:00:00")),
        (5, "insert", "null-then-real", None),
        (15, "update", "null-then-real", t("2024-01-04T00:00:00")),
        (6, "insert", "null-then-delete", None),
        (16, "delete", "null-then-delete", t("2024-01-04T00:00:00")),
    ]
    cl = spark.createDataFrame(
        [
            (s, op, u, ts, None if op == "delete" else html, "en", None)
            for s, op, u, ts in events
        ],
        schema="seq long, op string, url string, warc_ts timestamp, "
        "html binary, lang string, extra string",
    )
    expect = {
        "real-then-null": (0, False),
        "all-null": (11, False),
        "ts-tie": (12, False),
        "late": (3, False),
        "deleted": (14, True),
        "null-then-real": (15, False),
        "null-then-delete": (16, True),
    }

    lww = lww_latest(cl, keys=("url",), order_by=("warc_ts", "seq"))
    assert {r["url"]: (r["seq"], r["op"] == "delete") for r in lww.collect()} == expect

    eng = CdcEngine(spark, str(tmp_path / "mor"), n_buckets=2, write_mode="mor")
    eng.replay(cl, batch_size=10)
    assert {r["mode"] for r in eng.ledger.all_records()} == {"mor"}
    assert eng.table.delta_buckets()

    def winners(rows):
        return {r["url"]: (r["_seq"], r["_deleted"]) for r in rows}

    assert winners(eng.table.read(spark).collect()) == expect
    by_key = [r for u in expect for r in eng.table.read_key(spark, u).collect()]
    assert len(by_key) == len(expect)
    assert winners(by_key) == expect

    assert eng.compact() is not None
    assert eng.table.delta_buckets() == []
    assert winners(eng.table.read(spark).collect()) == expect

    cow = CdcEngine(spark, str(tmp_path / "cow"), n_buckets=2)
    cow.replay(cl, batch_size=10)
    assert winners(cow.table.read(spark).collect()) == expect


def test_hot_key_skew(spark):
    # one key with 2k events, many singleton keys — the max_by partial
    # aggregation must agree with a plain Python fold
    hot = [(i, "hot", _ts("2024-01-01") + dt.timedelta(seconds=i % 977), f"p{i}") for i in range(2_000)]
    cold = [(100_000 + i, f"cold{i}", _ts("2024-01-01"), f"c{i}") for i in range(50)]
    df = spark.createDataFrame(hot + cold, ["seq", "url", "warc_ts", "payload"])
    fold: dict = {}
    for seq, url, ts, payload in hot + cold:
        if url not in fold or (ts, seq) > fold[url][0]:
            fold[url] = ((ts, seq), payload)
    assert _as_map(lww_latest(df)) == {u: p for u, (_, p) in fold.items()}
    # winner for hot: max (warc_ts, seq) → warc_ts=976s, max seq ≡ 976 mod 977
    assert fold["hot"][1] == "p1953"
