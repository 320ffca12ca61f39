"""Cell-level LWW engine mode (patch_ops=True): partial-update events,
per-cell positions, associative fold — final state independent of
micro-batch boundaries."""

import json
from datetime import datetime

import pandas as pd
import pytest

from clinvar_ingest_spark.engine import CdcEngine
from clinvar_ingest_spark.sources.changelog import (
    ChangelogSpec,
    generate_changelog,
    write_changelog_parquet,
)

T1 = datetime(2024, 1, 1, 0, 0, 1)
T2 = datetime(2024, 1, 1, 0, 0, 2)
T3 = datetime(2024, 1, 1, 0, 0, 3)
H1 = b"<html><body><p>one one</p></body></html>"
H2 = b"<html><body><p>two two</p></body></html>"


def _df(spark, rows):
    """rows: (seq, op, url, ts, html, lang, extra)"""
    from clinvar_ingest_spark.streaming.tail import CHANGELOG_SCHEMA

    full = [(s, op, u, ts, h, lg, 1, ex) for s, op, u, ts, h, lg, ex in rows]
    return spark.createDataFrame(full, CHANGELOG_SCHEMA)


def _state(eng):
    return {
        r["url"]: r
        for r in eng.live().select("url", "html", "text", "lang", "props", "_seq").collect()
    }


def test_patch_semantics_hand_cases(spark, tmp_path):
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=4, patch_ops=True)

    # batch 1: full inserts + in-batch patch
    b1 = _df(
        spark,
        [
            (1, "insert", "http://a/", T1, H1, "en", '{"status": 200, "fetch_ms": 5}'),
            (2, "insert", "http://b/", T1, H1, "en", None),
            (3, "insert", "http://c/", T1, H1, "en", None),
            (4, "patch", "http://a/", T3, None, "fr", None),  # lang-only patch
        ],
    )
    eng.apply_batch(b1, 1, 4)
    st = _state(eng)
    assert st["http://a/"]["lang"] == "fr"          # patched
    assert st["http://a/"]["html"] == H1            # untouched by patch
    assert st["http://a/"]["text"] is not None      # extraction kept
    assert st["http://a/"]["_seq"] == 4             # row position advanced

    # batch 2: the associativity killer — a LATE patch against a column
    # whose cell is OLDER than the row position must still win
    b2 = _df(spark, [(5, "patch", "http://a/", T2, H2, None, None)])
    eng.apply_batch(b2, 5, 5)
    st = _state(eng)
    # html cell was at T1 (insert); patch at T2 > T1 wins even though
    # the row position is T3 (the lang patch)
    assert st["http://a/"]["html"] == H2
    assert st["http://a/"]["lang"] == "fr"          # newer cell survives
    # text re-extracted from the patched html
    from clinvar_ingest_spark.functions.extract import extract_text_series

    assert st["http://a/"]["text"] == extract_text_series(pd.Series([H2]))[0]

    # delete then patch: partial resurrection, old cells stay dead
    b3 = _df(
        spark,
        [
            (6, "delete", "http://b/", T2, None, None, None),
            (7, "patch", "http://b/", T3, None, "de", None),
        ],
    )
    eng.apply_batch(b3, 6, 7)
    st = _state(eng)
    assert st["http://b/"]["lang"] == "de"
    assert st["http://b/"]["html"] is None          # killed by the tombstone
    assert st["http://b/"]["text"] is None

    # late patch below an applied delete loses
    b4 = _df(spark, [(8, "patch", "http://c/", T3, None, "xx", None)])
    eng.apply_batch(b4, 8, 8)
    b5 = _df(spark, [(9, "delete", "http://c/", T2, None, None, None)])
    eng.apply_batch(b5, 9, 9)
    st = _state(eng)
    assert st["http://c/"]["lang"] == "xx"          # delete@T2 < patch@T3

    # patch on a never-seen key creates a partial row
    b6 = _df(spark, [(10, "patch", "http://new/", T1, None, "pt", None)])
    eng.apply_batch(b6, 10, 10)
    st = _state(eng)
    assert st["http://new/"]["lang"] == "pt"
    assert st["http://new/"]["html"] is None


def test_batch_size_invariance(spark, tmp_path):
    """The fold is associative: chopping the same stream differently
    converges to the identical state (cells included)."""
    pdf = generate_changelog(
        ChangelogSpec(n_events=600, n_urls=75, seed=11, p_patch=0.35)
    )
    clp = str(tmp_path / "cl.parquet")
    write_changelog_parquet(pdf, clp)
    cl = spark.read.parquet(clp)

    e1 = CdcEngine(spark, str(tmp_path / "t1"), n_buckets=4, patch_ops=True)
    e1.replay(cl, batch_size=100)
    e2 = CdcEngine(spark, str(tmp_path / "t2"), n_buckets=4, patch_ops=True)
    e2.replay(cl, batch_size=300)

    assert e1.state_hash(include_tombstones=True) == e2.state_hash(
        include_tombstones=True
    )
    # and the per-cell lineage itself agrees (stronger than the hash,
    # which excludes _cells)
    c1 = dict(e1.read().select("url", "_cells").collect())
    c2 = dict(e2.read().select("url", "_cells").collect())
    assert c1 == c2


def test_patch_engine_equals_row_lww_without_patches(spark, tmp_path):
    """p_patch=0 streams: cell-LWW degenerates to exactly the row-LWW
    engine's state — the regression anchor against the proven path."""
    pdf = generate_changelog(ChangelogSpec(n_events=800, n_urls=120, seed=13))
    clp = str(tmp_path / "cl.parquet")
    write_changelog_parquet(pdf, clp)
    cl = spark.read.parquet(clp)

    pe = CdcEngine(spark, str(tmp_path / "p"), n_buckets=4, patch_ops=True)
    pe.replay(cl, batch_size=400)
    re_ = CdcEngine(spark, str(tmp_path / "r"), n_buckets=4)
    re_.replay(cl, batch_size=400)
    assert pe.state_hash(include_tombstones=True) == re_.state_hash(
        include_tombstones=True
    )
    # full-image streams leave zero per-cell overhead
    assert pe.read().filter("_cells IS NOT NULL").count() == 0


def test_replay_resume_reconverges(spark, tmp_path):
    pdf = generate_changelog(
        ChangelogSpec(n_events=600, n_urls=100, seed=19, p_patch=0.3)
    )
    clp = str(tmp_path / "cl.parquet")
    write_changelog_parquet(pdf, clp)
    cl = spark.read.parquet(clp)

    full = CdcEngine(spark, str(tmp_path / "full"), n_buckets=4, patch_ops=True)
    full.replay(cl, batch_size=200)

    # prefix ends ON a batch boundary (batch ids are aligned offset
    # ranges — the engine's documented resume contract)
    half = CdcEngine(spark, str(tmp_path / "half"), n_buckets=4, patch_ops=True)
    half.replay(cl.filter("seq < 400"), batch_size=200)
    resumed = CdcEngine(spark, str(tmp_path / "half"), n_buckets=4, patch_ops=True)
    resumed.replay(cl, batch_size=200)  # re-delivers batch 1: ledger no-op
    assert resumed.state_hash(include_tombstones=True) == full.state_hash(
        include_tombstones=True
    )


def test_lineage_columns_hidden(spark, tmp_path):
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=4, patch_ops=True)
    b = _df(spark, [(1, "insert", "http://a/", T1, H1, "en", None)])
    eng.apply_batch(b, 1, 1)
    assert "_cells" not in eng.pages().columns
    assert "_cells" in eng.read().columns  # raw read keeps lineage
    # state hash must ignore per-cell lineage (it's position metadata,
    # not logical state)
    assert eng.state_hash()  # runs without _cells in the digest


def test_patch_requires_cells_column(spark, tmp_path):
    CdcEngine(spark, str(tmp_path / "t"), n_buckets=4)  # row-LWW table
    with pytest.raises(ValueError, match="_cells"):
        CdcEngine(spark, str(tmp_path / "t"), n_buckets=4, patch_ops=True)


def test_patch_mor_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="cow"):
        CdcEngine(
            spark, str(tmp_path / "x"), patch_ops=True, write_mode="mor"
        )


def test_patch_survives_rename_evolution(spark, tmp_path):
    """Cell positions are keyed by col id, so a column rename neither
    orphans stored positions nor breaks old-name patch batches (the
    batch alias map routes them to the renamed cell)."""
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=4, patch_ops=True)
    b1 = _df(
        spark,
        [
            (1, "insert", "http://a/", T1, H1, "en", None),
            (2, "patch", "http://a/", T2, None, "fr", None),  # lang cell @T2
        ],
    )
    eng.apply_batch(b1, 1, 2)
    # row pos is T2 (the patch); html cell stays at T1 -> one override
    row = eng.read().filter("url='http://a/'").collect()[0]
    assert row["_cells"] is not None and row["lang"] == "fr"

    eng.table.rename_column("lang", "language")
    eng2 = CdcEngine(spark, str(tmp_path / "t"), n_buckets=4, patch_ops=True)
    # old-name patch batch (still says `lang`) after the rename
    b2 = _df(spark, [(3, "patch", "http://a/", T3, None, "de", None)])
    eng2.apply_batch(b2, 3, 3)
    row = eng2.read().filter("url='http://a/'").collect()[0]
    assert row["language"] == "de"           # alias-routed to the new name
    assert row["html"] == H1                 # html cell (old col id) intact
    assert row["_seq"] == 3


def test_null_warc_ts_event_does_not_mask_valid_ones(spark, tmp_path):
    """A NULL-timestamp event sorts at the BOTTOM of the position order
    (ts=_NEG, seq tie-break) — it must neither crash the datetime
    conversion nor shadow valid events in the same batch."""
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=4, patch_ops=True)
    b = _df(
        spark,
        [
            (1, "insert", "http://a/", T2, H1, "en", None),
            (2, "update", "http://a/", None, H2, "fr", None),  # NULL ts
        ],
    )
    eng.apply_batch(b, 1, 2)
    st = _state(eng)
    # the NULL-ts event's position is (bottom, 2) < (T2, 1): it loses
    assert st["http://a/"]["lang"] == "en"
    assert st["http://a/"]["html"] == H1
    assert st["http://a/"]["_seq"] == 1


def test_columns_named_d_and_l(spark, tmp_path):
    """Any column name is a cell: ``d`` and ``l`` added by schema
    evolution take patches and persist their positions."""
    from pyspark.sql import functions as F

    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=4, patch_ops=True)
    eng.table.add_column("d", "string")
    eng.table.add_column("l", "string")
    ids = {c.name: c.col_id for c in eng.table.manifest().columns}

    def batch(rows):
        return _df(spark, [r[:7] for r in rows]).withColumns({
            "d": F.col("seq").cast("string"), "l": F.col("seq").cast("string"),
        }).withColumn("d", F.when(F.col("op") == "insert", F.col("d")))

    eng.apply_batch(batch([(1, "insert", "http://a/", T1, H1, "en", None)]), 1, 1)
    eng.apply_batch(batch([(2, "patch", "http://a/", T2, None, None, None)]), 2, 2)
    row = eng.read().filter("url='http://a/'").collect()[0]
    assert (row["d"], row["l"], row["_seq"]) == ("1", "2", 2)
    cells = json.loads(row["_cells"])
    # d kept the insert's position (html's, which the patch skipped too);
    # l moved with the row
    assert cells[str(ids["d"])] == cells[str(ids["html"])]
    assert cells[str(ids["d"])][1] == 1
    assert str(ids["l"]) not in cells
