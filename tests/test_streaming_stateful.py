"""applyInPandasWithState LWW change feed: the last emission per url
across all micro-batches must equal the batch LWW state."""

import pandas as pd
import pytest

from clinvar_ingest_spark.sources.changelog import (
    ChangelogSpec,
    generate_changelog,
    write_changelog_parquet,
)
from clinvar_ingest_spark.streaming.stateful import run_lww_feed


@pytest.fixture()
def setup(tmp_path):
    pdf = generate_changelog(ChangelogSpec(n_events=1500, n_urls=250, seed=17))
    d = tmp_path / "segs"
    d.mkdir()
    per = 500
    for i in range(3):
        seg = pdf[(pdf["seq"] >= i * per) & (pdf["seq"] < (i + 1) * per)]
        write_changelog_parquet(seg, str(d / f"seg-{i:02d}.parquet"))
    return str(d), pdf


def test_lww_feed_matches_batch_state(spark, tmp_path, setup):
    segments, pdf = setup
    q = run_lww_feed(spark, segments, str(tmp_path / "ckpt"), query_name="t_feed")
    q.awaitTermination(300)
    if q.isActive:
        q.stop()

    feed = spark.sql("SELECT * FROM t_feed").toPandas()
    assert len(feed) > 0
    # last emission per url (highest seq wins across emissions)
    last = (
        feed.sort_values(["warc_ts", "seq"], kind="stable")
        .groupby("url", sort=False)
        .tail(1)
    )

    # batch oracle
    want = (
        pdf.sort_values(["warc_ts", "seq"], kind="stable")
        .groupby("url", sort=False)
        .tail(1)
    )
    want_live = want[want["op"] != "delete"]

    got_live = last[last["live"]]
    assert set(got_live["url"]) == set(want_live["url"])
    g = got_live.set_index("url")["seq"].sort_index()
    w = want_live.set_index("url")["seq"].astype("int64").sort_index()
    pd.testing.assert_series_equal(g, w, check_dtype=False)


def test_retract_feed_folds_to_final_state(spark, tmp_path, setup):
    """Retract contract, streaming form: folding the feed's rows
    (+insert/update_after, −delete/update_before) per lang over ALL
    micro-batches equals the final live per-lang counts — regardless of
    how the file source groups segments into batches."""
    from clinvar_ingest_spark.streaming.stateful import run_retract_feed

    segments, pdf = setup
    q = run_retract_feed(
        spark, segments, str(tmp_path / "ckpt_r"), query_name="t_retract"
    )
    q.awaitTermination(300)
    if q.isActive:
        q.stop()
    feed = spark.sql("SELECT * FROM t_retract").toPandas()
    assert len(feed) > 0
    assert set(feed["change_type"]) <= {
        "insert", "delete", "update_before", "update_after"
    }
    sign = feed["change_type"].map(
        {"insert": 1, "update_after": 1, "delete": -1, "update_before": -1}
    )
    folded = (
        feed.assign(d=sign).groupby("lang")["d"].sum()
    )
    folded = folded[folded != 0].sort_index()

    want = (
        pdf.sort_values(["warc_ts", "seq"], kind="stable")
        .groupby("url", sort=False)
        .tail(1)
    )
    want = want[want["op"] != "delete"].groupby("lang").size().sort_index()
    pd.testing.assert_series_equal(
        folded, want, check_dtype=False, check_names=False
    )
    # per-url net liveness: fold of signs is 1 for live keys, 0 for dead
    net = feed.assign(d=sign).groupby("url")["d"].sum()
    live_urls = (
        pdf.sort_values(["warc_ts", "seq"], kind="stable")
        .groupby("url", sort=False).tail(1)
    )
    live_urls = set(live_urls[live_urls["op"] != "delete"]["url"])
    assert set(net[net == 1].index) == live_urls
    assert (net.isin([0, 1])).all()


def test_retract_feed_per_segment_kinds(spark, tmp_path):
    """One segment per trigger: a key inserted in seg-0, updated in
    seg-1, deleted in seg-2 emits exactly insert → before+after →
    delete(before image)."""
    from clinvar_ingest_spark.streaming.stateful import run_retract_feed

    d = tmp_path / "segs"
    d.mkdir()
    base = pd.Timestamp("2024-01-01 00:00:00")

    def seg(i, rows):
        pdf = pd.DataFrame(
            rows,
            columns=["seq", "op", "url", "warc_ts", "html", "lang",
                     "schema_ver", "extra"],
        )
        write_changelog_parquet(pdf, str(d / f"seg-{i:02d}.parquet"))

    u = "https://h/x"
    seg(0, [[0, "insert", u, base, b"<p>a</p>", "en", 1, None]])
    seg(1, [[1, "update", u, base + pd.Timedelta("1h"), b"<p>b</p>", "de", 1, None]])
    seg(2, [[2, "delete", u, base + pd.Timedelta("2h"), None, None, 1, None]])
    q = run_retract_feed(
        spark, str(d), str(tmp_path / "ckpt"), query_name="t_retract_k",
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)
    if q.isActive:
        q.stop()
    feed = (
        spark.sql("SELECT * FROM t_retract_k").toPandas()
        .sort_values("seq").reset_index(drop=True)
    )
    got = list(zip(feed["change_type"], feed["lang"], feed["seq"]))
    assert got == [
        ("insert", "en", 0),
        ("update_before", "en", 0),
        ("update_after", "de", 1),
        ("delete", "de", 1),
    ]


@pytest.mark.parametrize("feed", ["lww", "retract"])
def test_null_warc_ts_ranks_lowest(spark, tmp_path, feed):
    """A NULL warc_ts ranks below every real one (the batch kernel's
    ``_NEG``): in one micro-batch a real event beats a later-seq NULL-ts
    event of the same url, and a url whose only event has a NULL ts is
    still emitted, with warc_ts NULL."""
    from clinvar_ingest_spark.streaming.stateful import run_retract_feed

    real = pd.Timestamp("2024-01-01T00:00:00")
    pdf = pd.DataFrame(
        {
            "seq": pd.array([1, 2, 3], dtype="int64"),
            "op": ["insert", "update", "insert"],
            "url": ["http://mixed.example/a", "http://mixed.example/a",
                    "http://null-ts.example/only"],
            "warc_ts": [real, pd.NaT, pd.NaT],
            "html": [b"<p>a</p>", b"<p>b</p>", b"<p>c</p>"],
            "lang": ["en", "de", "fr"],
            "schema_ver": pd.array([1, 1, 1], dtype="int32"),
            "extra": [None, None, None],
        }
    )
    d = tmp_path / "segs_null"
    d.mkdir()
    write_changelog_parquet(pdf, str(d / "seg-00.parquet"))
    run = run_lww_feed if feed == "lww" else run_retract_feed
    q = run(spark, str(d), str(tmp_path / "ckpt"), query_name=f"t_null_{feed}")
    q.awaitTermination(300)
    if q.isActive:
        q.stop()
    out = spark.sql(f"SELECT * FROM t_null_{feed}").toPandas().set_index("url")
    assert len(out) == 2
    if feed == "retract":
        assert set(out["change_type"]) == {"insert"}
    else:
        assert out["live"].all()
    a = out.loc["http://mixed.example/a"]
    assert (a["seq"], a["lang"], a["warc_ts"]) == (1, "en", real)
    b = out.loc["http://null-ts.example/only"]
    assert (b["seq"], b["lang"]) == (3, "fr") and pd.isna(b["warc_ts"])
