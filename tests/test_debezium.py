"""Debezium-envelope adapter (sources/debezium.py).

Covers the adapter's full contract: op mapping (c/r/u/d), tombstone
drop, reject routing (unparseable / unknown op / missing key / missing
seq), delete key+clock sourcing from before+source, base64 row-image
roundtrip, and the to_debezium → parse_debezium inverse — plus an
end-to-end: parsed envelopes driven through CdcEngine converge to the
same state as the equivalent native changelog.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from clinvar_ingest_spark.sources.debezium import (
    parse_debezium,
    to_debezium,
)


def _env(op, url=None, ts_us=None, html_b64=None, lang=None,
         extra=None, seq=None, src_ts=None, before_url=None,
         schema_ver=None):
    after = None
    if url is not None:
        after = {
            "url": url, "warc_ts_us": ts_us, "html_b64": html_b64,
            "lang": lang, "schema_ver": schema_ver, "extra": extra,
        }
    return json.dumps({
        "payload": {
            "op": op,
            "before": {"url": before_url} if before_url else None,
            "after": after,
            "source": {"ts_us": src_ts if src_ts is not None else ts_us,
                       "seq": seq},
        }
    })


@pytest.fixture()
def stream(spark):
    import base64

    b64 = lambda s: base64.b64encode(s.encode()).decode()  # noqa: E731
    rows = [
        _env("c", url="https://a/1", ts_us=1_000_000, seq=1,
             html_b64=b64("<html>one</html>"), lang="en",
             extra='{"k": "v1"}'),
        _env("u", url="https://a/1", ts_us=2_000_000, seq=2,
             html_b64=b64("<html>two</html>"), lang="de",
             extra='{"k": "v2"}', schema_ver=3),
        _env("r", url="https://a/2", ts_us=1_500_000, seq=3,
             html_b64=b64("<html>snap</html>"), lang="fr"),
        # delete: before + source clock only
        _env("d", before_url="https://a/2", src_ts=2_500_000, seq=4),
        None,                                  # tombstone after the d
        _env("z", url="https://a/3", ts_us=9, seq=5),   # unknown op
        _env("c", ts_us=9, seq=6),                      # missing key
        _env("c", url="https://a/4", ts_us=9, seq=None),  # missing seq
        '{"payload": not json',                          # unparseable
    ]
    return spark.createDataFrame(
        [Row(value=v) for v in rows], "value string"
    )


def test_parse_good_rows(spark, stream):
    out = parse_debezium(stream).orderBy("seq").collect()
    assert [r.seq for r in out] == [1, 2, 3, 4]
    assert [r.op for r in out] == ["insert", "update", "insert", "delete"]
    r2 = out[1]
    assert r2.url == "https://a/1"
    assert bytes(r2.html) == b"<html>two</html>"
    assert r2.lang == "de"
    assert r2.schema_ver == 3
    assert r2.extra == '{"k": "v2"}'
    assert int(r2.warc_ts.timestamp() * 1_000_000) == 2_000_000
    # delete sources its key from before and its clock from source
    rd = out[3]
    assert rd.url == "https://a/2"
    assert rd.html is None
    assert int(rd.warc_ts.timestamp() * 1_000_000) == 2_500_000
    # absent schema_ver defaults to 1
    assert out[0].schema_ver == 1


def test_rejects_routed_not_guessed(spark, stream):
    good, rejects = parse_debezium(stream, with_rejects=True)
    assert good.count() == 4
    got = {
        r._reject_reason: r.value
        for r in rejects.collect()
    }
    assert set(got) == {
        "unknown_op", "missing_key", "missing_seq", "unparseable"
    }
    # raw value preserved for quarantine
    assert got["unparseable"] == '{"payload": not json'
    # tombstones are NOT rejects — they are protocol, dropped silently
    assert rejects.where(F.col("value").isNull()).count() == 0


def _native_changelog(spark, tmp_path, n_events, n_urls, name="cl"):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from clinvar_ingest_spark.sources.changelog import (
        ChangelogSpec,
        changelog_arrow_schema,
        generate_changelog,
    )

    pdf = generate_changelog(
        ChangelogSpec(n_events=n_events, n_urls=n_urls, n_hosts=6, seed=7)
    )
    p = str(tmp_path / f"{name}.parquet")
    pq.write_table(
        pa.Table.from_pandas(
            pdf, schema=changelog_arrow_schema(), preserve_index=False
        ),
        p,
    )
    return spark.read.parquet(p)


def test_roundtrip_inverse(spark, tmp_path):
    """to_debezium ∘ parse_debezium = identity on the changelog."""
    clog = _native_changelog(spark, tmp_path, 300, 60)
    cols = ["seq", "op", "url", "warc_ts", "html", "lang",
            "schema_ver", "extra"]
    back = parse_debezium(to_debezium(clog.select(*cols)))
    a = sorted(map(tuple, clog.select(*cols).collect()))
    b = sorted(map(tuple, back.select(*cols).collect()))
    # deletes lose their row image in the envelope (Debezium contract:
    # d carries before+source only) — null them on the source side too
    def norm(rows):
        out = []
        for r in rows:
            if r[1] == "delete":
                r = r[:4] + (None, None, 1, None)
            out.append(r)
        return out

    assert norm(a) == norm(b)


def test_spill_unknown_after_fields(spark):
    """Schema drift: after-fields outside the fixed schema merge into
    extra (existing extra keys win collisions); nested drift spills as
    raw JSON text; default (no flag) behavior is unchanged."""
    import json as _json

    rows = [
        # flat drift, extra present, one colliding key ('k' — extra wins)
        _env("c", url="https://a/1", ts_us=1, seq=1,
             extra='{"k": "keep", "e": "1"}'),
        # flat drift, no extra
        _env("c", url="https://a/2", ts_us=2, seq=2),
        # no drift at all
        _env("c", url="https://a/3", ts_us=3, seq=3, extra='{"z": "9"}'),
        # nested drift → value spilled as its raw JSON text
        _env("c", url="https://a/4", ts_us=4, seq=4),
        # delete: no after image, extra stays null
        _env("d", before_url="https://a/5", src_ts=5, seq=5),
    ]
    # inject drift fields into the after objects
    def drift(s, fields):
        d = _json.loads(s)
        d["payload"]["after"].update(fields)
        return _json.dumps(d)

    rows[0] = drift(rows[0], {"clicks": 7, "k": "drop"})
    rows[1] = drift(rows[1], {"rank": 1.5})
    rows[3] = drift(rows[3], {"meta": {"nested": True}})
    df = spark.createDataFrame([Row(value=v) for v in rows], "value string")

    out = {
        r.seq: r.extra
        for r in parse_debezium(df, spill_unknown_after=True).collect()
    }
    assert _json.loads(out[1]) == {"clicks": "7", "k": "keep", "e": "1"}
    assert _json.loads(out[2]) == {"rank": "1.5"}
    assert out[3] == '{"z": "9"}'  # untouched, not re-serialized
    raw4 = _json.loads(out[4])
    assert set(raw4) == {"meta"}
    assert _json.loads(raw4["meta"]) == {"nested": True}
    assert out[5] is None

    # flag off: drift silently dropped by from_json, extra verbatim
    off = {r.seq: r.extra for r in parse_debezium(df).collect()}
    assert off[1] == '{"k": "keep", "e": "1"}' and off[2] is None


def test_streaming_tail_from_debezium_segments(spark, tmp_path):
    """DebeziumFileSource: a directory of JSON-lines envelope segments
    tailed through tail_changelog converges to the native batch replay,
    and a fresh-checkpoint redelivery of the same segments no-ops (the
    engine ledger, not the Spark checkpoint, is the idempotency)."""
    import os

    from clinvar_ingest_spark.bus import DebeziumFileSource
    from clinvar_ingest_spark.engine import CdcEngine
    from clinvar_ingest_spark.streaming.tail import tail_changelog

    native = _native_changelog(spark, tmp_path, 400, 80, name="cl3")
    cols = ["seq", "op", "url", "warc_ts", "html", "lang",
            "schema_ver", "extra"]
    env = to_debezium(native.select(*cols)).select("value")
    seg_dir = str(tmp_path / "segs")
    os.makedirs(seg_dir)
    # two closed segments, text JSON-lines
    vals = [r.value for r in env.collect()]
    for i, chunk in enumerate([vals[:200], vals[200:]]):
        with open(os.path.join(seg_dir, f"seg-{i:04d}.jsonl"), "w") as f:
            f.write("\n".join(chunk))

    ref = CdcEngine(spark, str(tmp_path / "ref"), n_buckets=4)
    ref.replay(native.select(*cols), batch_size=200)
    want = ref.state_hash()

    eng = CdcEngine(spark, str(tmp_path / "tailed"), n_buckets=4)
    q = tail_changelog(
        eng, None, str(tmp_path / "ckpt"),
        source=DebeziumFileSource(seg_dir, max_files_per_trigger=1),
    )
    q.awaitTermination()
    assert eng.state_hash() == want

    # redelivery with a FRESH checkpoint: every batch id is committed
    h = eng.table.history()
    q2 = tail_changelog(
        eng, None, str(tmp_path / "ckpt2"),
        source=DebeziumFileSource(seg_dir, max_files_per_trigger=1),
    )
    q2.awaitTermination()
    assert eng.state_hash() == want and eng.table.history() == h


def test_engine_replay_from_envelopes_matches_native(spark, tmp_path):
    """Envelopes → parse_debezium → CdcEngine ≡ native changelog →
    CdcEngine (same final state hash)."""
    from clinvar_ingest_spark.engine import CdcEngine

    native = _native_changelog(spark, tmp_path, 600, 100, name="cl2")
    cols = ["seq", "op", "url", "warc_ts", "html", "lang",
            "schema_ver", "extra"]
    parsed = parse_debezium(to_debezium(native.select(*cols)))

    outs = []
    for i, clog in enumerate([native.select(*cols), parsed]):
        eng = CdcEngine(spark, str(tmp_path / f"t{i}"), n_buckets=4)
        eng.replay(clog, batch_size=300)
        state = (
            eng.table.read(spark)
            .select("url", "warc_ts", "lang", F.md5("html").alias("h"))
        )
        outs.append(sorted(map(tuple, state.collect())))
    assert outs[0] == outs[1]


_COLS = ["seq", "op", "url", "warc_ts", "html", "lang", "schema_ver", "extra"]


def _cdc_apply(spark, monkeypatch, capsys, argv):
    """Run jobs/cdc_apply.py in-process on the test session; returns
    (exit code, the JSON lines it printed)."""
    from jobs.cdc_apply import main

    monkeypatch.setattr(
        "clinvar_ingest_spark.session.get_spark", lambda **kw: spark
    )
    rc = main(argv + ["--buckets", "4"])
    lines = capsys.readouterr().out.strip().splitlines()
    return rc, [json.loads(x) for x in lines if x.startswith("{")]


def _native_state(spark, tmp_path, native):
    from clinvar_ingest_spark.engine import CdcEngine

    ref = CdcEngine(spark, str(tmp_path / "ref"), n_buckets=4)
    ref.replay(native.select(*_COLS), batch_size=200)
    return ref.state_hash()


def test_cdc_apply_reads_parquet_directory_of_envelopes(
    spark, tmp_path, monkeypatch, capsys
):
    """A parquet DIRECTORY of envelopes (Spark's part-file output, no
    .parquet suffix) is recognized by content and applied — not read
    as text, quarantined whole, and reported as a successful no-op."""
    from clinvar_ingest_spark.engine import CdcEngine

    native = _native_changelog(spark, tmp_path, 400, 80, name="cl4")
    env_dir = str(tmp_path / "envelopes")
    to_debezium(native.select(*_COLS)).select("value").write.parquet(env_dir)

    table = str(tmp_path / "t")
    rc, out = _cdc_apply(spark, monkeypatch, capsys, [
        "--table", table, "--changelog", env_dir, "--format", "debezium",
    ])
    assert rc == 0
    assert out[0] == {"format": "debezium", "rejects": 0}
    assert CdcEngine(spark, table, n_buckets=4).state_hash() == _native_state(
        spark, tmp_path, native
    )


def test_cdc_apply_reads_debezium_input_once(spark, tmp_path, monkeypatch, capsys):
    """The Debezium input is read once and cached: the changelog handed
    to the replay scans the cache (an InMemoryRelation), not the input
    files a fourth time after the reject count, the reject write and
    the emptiness check. The cache is dropped after the replay."""
    from clinvar_ingest_spark.engine import CdcEngine

    native = _native_changelog(spark, tmp_path, 300, 60, name="cl6")
    env = to_debezium(native.select(*_COLS)).select("value")
    src = tmp_path / "envelopes.jsonl"
    src.write_text(
        "\n".join([r.value for r in env.collect()] + ['{"payload": not json'])
    )

    plans = []
    orig = CdcEngine.replay

    def spy(self, changelog, *a, **kw):
        plans.append(changelog._jdf.queryExecution().optimizedPlan().toString())
        return orig(self, changelog, *a, **kw)

    monkeypatch.setattr(CdcEngine, "replay", spy)
    n_cached = len(spark.sparkContext._jsc.getPersistentRDDs())
    table = str(tmp_path / "t")
    rc, out = _cdc_apply(spark, monkeypatch, capsys, [
        "--table", table, "--changelog", str(src), "--format", "debezium",
    ])
    assert rc == 0 and out[0] == {"format": "debezium", "rejects": 1}
    assert len(plans) == 1 and "InMemoryRelation" in plans[0]
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == n_cached
    monkeypatch.undo()
    assert CdcEngine(spark, table, n_buckets=4).state_hash() == _native_state(
        spark, tmp_path, native
    )


def test_cdc_apply_fails_when_every_record_is_rejected(
    spark, tmp_path, monkeypatch, capsys
):
    """A non-empty input whose every record is rejected exits non-zero
    (rejects still quarantined for triage) instead of exiting 0."""
    src = tmp_path / "garbage.jsonl"
    src.write_text('{"payload": not json\n{"payload": {"op": "z"}}\n')
    table = str(tmp_path / "t")
    rc, out = _cdc_apply(spark, monkeypatch, capsys, [
        "--table", table, "--changelog", str(src), "--format", "debezium",
    ])
    assert rc != 0
    assert out == [{"format": "debezium", "rejects": 2}]
    assert spark.read.parquet(f"{table}_rejects").count() == 2


def test_cdc_apply_tails_debezium_segments(spark, tmp_path, monkeypatch, capsys):
    """`--tail --format debezium` drains JSON-lines envelope segments
    through DebeziumFileSource to the native replay's state."""
    import os

    native = _native_changelog(spark, tmp_path, 400, 80, name="cl5")
    vals = [r.value for r in to_debezium(native.select(*_COLS)).select("value").collect()]
    seg_dir = str(tmp_path / "segs")
    os.makedirs(seg_dir)
    for i, chunk in enumerate([vals[:200], vals[200:]]):
        with open(os.path.join(seg_dir, f"seg-{i:04d}.jsonl"), "w") as f:
            f.write("\n".join(chunk))

    rc, out = _cdc_apply(spark, monkeypatch, capsys, [
        "--table", str(tmp_path / "t"), "--tail", seg_dir,
        "--checkpoint", str(tmp_path / "ckpt"), "--format", "debezium",
        "--max-files-per-trigger", "1",
    ])
    assert rc == 0 and out[-1]["ledger_records"] == 2
    from clinvar_ingest_spark.engine import CdcEngine

    got = CdcEngine(spark, str(tmp_path / "t"), n_buckets=4).state_hash()
    assert got == _native_state(spark, tmp_path, native)
