"""End-to-end MERGE replay vs an independent pandas oracle.

Oracle (FIXTURES.md §4): group changelog by url, keep max (warc_ts, seq),
drop keys whose winning op is delete, text = extractor(html) — the
reference's latest-record-per-key release state
(ArchiveBranches.scala:140-156) + diff-apply semantics (diff.py:117-182).
"""

import pandas as pd
import pytest

from clinvar_ingest_spark.engine import CdcEngine
from clinvar_ingest_spark.functions.extract import extract_text_series
from clinvar_ingest_spark.sources.changelog import (
    ChangelogSpec,
    generate_changelog,
    changelog_arrow_schema,
)


def pandas_oracle(df: pd.DataFrame) -> pd.DataFrame:
    idx = (
        df.sort_values(["warc_ts", "seq"], kind="stable")
        .groupby("url", sort=False)
        .tail(1)
    )
    live = idx[idx["op"] != "delete"].copy()
    live["text"] = extract_text_series(live["html"])
    return (
        live[["url", "warc_ts", "html", "text", "lang"]]
        .sort_values("url")
        .reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def changelog_pdf():
    return generate_changelog(
        ChangelogSpec(n_events=3000, n_urls=400, n_hosts=10, seed=7)
    )


@pytest.fixture()
def changelog_df(spark, changelog_pdf, tmp_path):
    import pyarrow.parquet as pq
    import pyarrow as pa

    p = str(tmp_path / "changelog.parquet")
    pq.write_table(
        pa.Table.from_pandas(
            changelog_pdf, schema=changelog_arrow_schema(), preserve_index=False
        ),
        p,
    )
    return spark.read.parquet(p)


def _result_pdf(engine: CdcEngine) -> pd.DataFrame:
    out = engine.pages().toPandas()
    out["html"] = out["html"].map(lambda b: bytes(b) if b is not None else None)
    return out.sort_values("url").reset_index(drop=True)


def test_replay_matches_oracle(spark, changelog_df, changelog_pdf, tmp_table_root):
    engine = CdcEngine(spark, tmp_table_root, n_buckets=8)
    stats = engine.replay(changelog_df, batch_size=1000)
    assert len(stats) == 3

    got = _result_pdf(engine)
    want = pandas_oracle(changelog_pdf)
    assert len(got) == len(want), (len(got), len(want))
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_single_batch_equals_many_batches(
    spark, changelog_df, changelog_pdf, tmp_path
):
    e1 = CdcEngine(spark, str(tmp_path / "t1"), n_buckets=8)
    e1.replay(changelog_df, batch_size=100_000)  # one batch
    e2 = CdcEngine(spark, str(tmp_path / "t2"), n_buckets=8)
    e2.replay(changelog_df, batch_size=500)  # many batches
    assert e1.state_hash() == e2.state_hash()


def test_point_lookup_reads_one_bucket(spark, changelog_df, changelog_pdf, tmp_table_root):
    engine = CdcEngine(spark, tmp_table_root, n_buckets=8)
    engine.replay(changelog_df, batch_size=1000)
    want = pandas_oracle(changelog_pdf)
    u = want["url"].iloc[0]
    got = engine.lookup(u).collect()
    assert len(got) == 1 and got[0]["url"] == u
    assert got[0]["text"] == want.set_index("url").loc[u, "text"]
    # deleted/absent keys return nothing
    deleted_urls = set(changelog_pdf["url"]) - set(want["url"])
    if deleted_urls:
        assert engine.lookup(sorted(deleted_urls)[0]).count() == 0
    assert engine.lookup("https://no-such.example.com/x").count() == 0


def test_lineage_records(spark, changelog_df, tmp_table_root):
    engine = CdcEngine(spark, tmp_table_root, n_buckets=8)
    engine.replay(changelog_df, batch_size=1000)
    recs = engine.ledger.all_records()
    assert len(recs) == 3
    for r in recs:
        assert r["n_events"] > 0
        assert r["events_per_sec"] > 0
        assert r["snapshot_id"] in engine.table.history()
        assert r["watermark"] is not None
    assert engine.ledger.last_applied_seq() >= 2999


def test_diff_between_snapshots(spark, changelog_df, changelog_pdf, tmp_table_root):
    engine = CdcEngine(spark, tmp_table_root, n_buckets=8)
    engine.replay(changelog_df, batch_size=1500)
    hist = engine.table.history()
    assert len(hist) == 3  # genesis + 2
    d = engine.diff_snapshots(hist[1], hist[2]).toPandas()

    # oracle: state after first batch vs final state
    first = pandas_oracle(changelog_pdf[changelog_pdf["seq"] < 1500])
    final = pandas_oracle(changelog_pdf)
    fk, nk = set(first["url"]), set(final["url"])
    assert set(d[d["_change"] == "created"]["url"]) == nk - fk
    assert set(d[d["_change"] == "deleted"]["url"]) == fk - nk
    both = fk & nk
    f_idx = first.set_index("url")
    n_idx = final.set_index("url")
    changed = {
        u
        for u in both
        if not f_idx.loc[u][["warc_ts", "text", "lang"]].equals(
            n_idx.loc[u][["warc_ts", "text", "lang"]]
        )
        or f_idx.loc[u]["html"] != n_idx.loc[u]["html"]
    }
    assert set(d[d["_change"] == "updated"]["url"]) == changed


def test_diff_prunes_unchanged_buckets(spark, tmp_path):
    """COW diff pruning: a batch touching few keys leaves most buckets'
    file lists identical between snapshots — the diff must scan only the
    changed buckets and still classify correctly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = generate_changelog(ChangelogSpec(n_events=1000, n_urls=200, seed=41))
    # second wave: 5 updates only (touches at most 5 of 32 buckets)
    tail = (
        base[base["op"] != "delete"].drop_duplicates("url").head(5).copy()
    )
    tail["seq"] = [1000 + i for i in range(len(tail))]
    tail["warc_ts"] = tail["warc_ts"] + pd.Timedelta(days=30)
    pdf = pd.concat([base, tail], ignore_index=True)
    p = str(tmp_path / "cl.parquet")
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=changelog_arrow_schema(), preserve_index=False), p
    )
    df = spark.read.parquet(p)

    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=32)
    eng.replay(df.filter("seq < 1000"), batch_size=1000)
    eng.replay(df, batch_size=1000, from_seq=1000)
    s_old, s_new = eng.table.history()[-2:]

    d = eng.diff_snapshots(s_old, s_new).toPandas()
    assert set(d["_change"]) == {"updated"}
    assert len(d) == len(tail)
    # pruning really happened: changed buckets ≪ n_buckets
    om, nm = eng.table.manifest(s_old), eng.table.manifest(s_new)
    changed = {
        f.bucket for f in nm.files if f.path not in {g.path for g in om.files}
    }
    assert 0 < len(changed) <= len(tail) < 32


def test_export_diff_ndjson(spark, changelog_df, tmp_table_root, tmp_path):
    engine = CdcEngine(spark, tmp_table_root, n_buckets=8)
    engine.replay(changelog_df, batch_size=1500)
    hist = engine.table.history()
    out = str(tmp_path / "diffout")
    msg = engine.export_diff_ndjson(hist[1], hist[2], out)
    assert set(msg["counts"]) == {"created", "updated", "deleted"}
    assert sum(msg["counts"].values()) > 0
    assert msg["files"]


def test_late_event_after_delete_does_not_resurrect(spark, tmp_path):
    """A late (older-warc_ts) event delivered in a batch AFTER the key
    was deleted must lose the LWW compare against the delete tombstone —
    not re-insert the key. This is exactly where hard deletes diverge
    from global LWW semantics; tombstones keep them identical."""
    import datetime as dt

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = dt.datetime(2024, 1, 1)
    rows = pd.DataFrame(
        {
            "seq": np.array([0, 1, 2], dtype="int64"),
            "op": ["insert", "delete", "update"],
            "url": ["https://h/x"] * 3,
            "warc_ts": [
                t0,
                t0 + dt.timedelta(hours=2),  # delete is the LWW winner
                t0 + dt.timedelta(hours=1),  # late update, next batch
            ],
            "html": [b"<p>a</p>", None, b"<p>b</p>"],
            "lang": ["en", None, "en"],
            "schema_ver": np.array([1, 1, 1], dtype="int32"),
            "extra": ['{"a": 1}', None, '{"a": 2}'],
        }
    )
    p = str(tmp_path / "cl.parquet")
    pq.write_table(
        pa.Table.from_pandas(rows, schema=changelog_arrow_schema(), preserve_index=False), p
    )
    df = spark.read.parquet(p)
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=4)
    eng.replay(df, batch_size=2)  # delete lands in batch 1, late update in batch 2
    assert eng.pages().count() == 0
    # the tombstone still holds the delete's LWW position
    tomb = eng.read().filter("_deleted").collect()
    assert len(tomb) == 1 and tomb[0]["_seq"] == 1


def test_hot_url_skew_replay(spark, tmp_path):
    """North-rule skew path: one url receives ~half of all events (a
    pathological hot key). The bucketed LWW must stay correct — the hot
    key collapses to one row inside its bucket's vectorized reduce."""
    import numpy as np

    base = generate_changelog(ChangelogSpec(n_events=1200, n_urls=200, n_hosts=3, seed=13))
    hot = base.sample(frac=0.5, random_state=1).copy()
    hot["url"] = "https://host000.example.com/page/000000"
    hot["op"] = "update"
    pdf = (
        pd.concat([base, hot], ignore_index=True)
        .sort_values("seq", kind="stable")
        .reset_index(drop=True)
    )
    # re-seq so ids stay unique per event after duplication
    pdf["seq"] = np.arange(len(pdf), dtype="int64")

    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "skew.parquet")
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=changelog_arrow_schema(), preserve_index=False), p
    )
    df = spark.read.parquet(p)

    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=8)
    eng.replay(df, batch_size=400)
    got = _result_pdf(eng)
    want = pandas_oracle(pdf)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_null_warc_ts_event_never_beats_a_real_timestamp(spark, tmp_path):
    """The COW and MOR applies must rank a NULL warc_ts LOWEST in the
    within-batch LWW reduce (parity with max_by's struct order and the
    kernel's _NEG sentinel). A nulls-last sort would crown an
    unparseable-timestamp event the per-url winner and silently drop
    the real latest event."""
    from datetime import datetime

    schema = (
        "seq long, op string, url string, warc_ts timestamp, html binary, "
        "lang string, extra string"
    )
    t = datetime.fromisoformat
    u = "https://ex.com/nullts"
    # one batch: a valid event (seq 4) and a NULL-ts event (seq 5)
    rows = [
        (4, "insert", u, t("2026-03-01 00:00:00"), b"<p>real</p>", "en", None),
        (5, "update", u, None, b"<p>junk</p>", "en", None),
    ]
    hashes = set()
    for mode in ("cow", "mor"):
        e = CdcEngine(spark, str(tmp_path / mode), n_buckets=4, write_mode=mode)
        e.apply_batch(spark.createDataFrame(rows, schema=schema), 0, 9)
        live = e.pages().collect()
        assert len(live) == 1, mode
        assert bytes(live[0]["html"]) == b"<p>real</p>", mode
        assert live[0]["warc_ts"] is not None, mode
        hashes.add(e.state_hash(include_tombstones=True))
    assert len(hashes) == 1  # byte-identical across write modes
