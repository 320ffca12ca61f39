"""Incrementally-maintained MinHash-LSH index: maintained band postings
== full rebuild at every snapshot; probe == the batch LSH self-join
restricted to the probe set; staleness raises; hot-bucket cap drops
candidates instead of exploding them."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clinvar_ingest_spark.engine import CdcEngine
from clinvar_ingest_spark.operators.dedupe import minhash_band_rows, minhash_lsh_pairs
from clinvar_ingest_spark.operators.dedupe_index import MinhashIndex, minhash_band_tokens
from clinvar_ingest_spark.sources.changelog import (
    ChangelogSpec,
    generate_changelog,
    write_changelog_parquet,
)

PARAMS = dict(n=3, num_hashes=32, bands=16, seed=42)


@pytest.fixture(scope="module")
def changelog(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("mhidx") / "cl.parquet")
    write_changelog_parquet(
        generate_changelog(ChangelogSpec(n_events=800, n_urls=120, seed=7)), p
    )
    return spark.read.parquet(p)


def _live(eng):
    return eng.read().filter(~F.coalesce(F.col("_deleted"), F.lit(False)))


def _rebuild(eng):
    """Full-rebuild reference: band-tokenize the live snapshot from scratch."""
    pairs = minhash_band_tokens(_live(eng), **PARAMS)
    return {(r["token"], r["url"]) for r in pairs.collect()}


def _materialized(idx):
    return {
        (r["token"], u) for r in idx.read().collect() for u in r["urls"]
    }


def test_maintained_equals_rebuild_across_hops(spark, changelog, tmp_path):
    eng = CdcEngine(spark, str(tmp_path / "pages"), n_buckets=8)
    idx = MinhashIndex(eng, str(tmp_path / "index"), n_buckets=8, **PARAMS)
    # initial build, then a multi-commit delta hop (updates + deletes in
    # the tail move/remove band membership)
    eng.replay(changelog.filter("seq < 400"), batch_size=200)
    idx.refresh()
    assert _materialized(idx) == _rebuild(eng)
    eng.replay(changelog.filter("seq >= 400"), batch_size=200)
    idx.refresh()
    assert idx.indexed_snapshot_id() == eng.table.current_snapshot_id()
    assert _materialized(idx) == _rebuild(eng)


def test_probe_matches_batch_lsh_self_join(spark, changelog, tmp_path):
    """Probing every live doc against the maintained index must equal
    the symmetric closure of the batch minhash_lsh_pairs self-join on
    the same live state — the maintained path and the corpus-scan path
    agree pair-for-pair."""
    eng = CdcEngine(spark, str(tmp_path / "pages"), n_buckets=8)
    eng.replay(changelog, batch_size=400)
    idx = MinhashIndex(eng, str(tmp_path / "index"), n_buckets=8, **PARAMS)
    idx.refresh()
    live = _live(eng)
    got = {
        (r["probe_id"], r["match_url"])
        for r in idx.probe(live).collect()
    }
    undirected = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            live, text_col="text", id_col="url", **PARAMS
        ).collect()
    }
    want = undirected | {(b, a) for (a, b) in undirected}
    assert got == want
    assert len(got) > 0  # the fixture's shared template tail guarantees collisions


def test_probe_subset_is_restriction(spark, changelog, tmp_path):
    """A delta-sized probe returns exactly the full probe's rows whose
    probe_id is in the delta — probing is per-doc independent."""
    eng = CdcEngine(spark, str(tmp_path / "pages"), n_buckets=8)
    eng.replay(changelog, batch_size=800)
    idx = MinhashIndex(eng, str(tmp_path / "index"), n_buckets=8, **PARAMS)
    idx.refresh()
    live = _live(eng)
    some = live.orderBy("url").limit(10)
    probe_ids = {r["url"] for r in some.select("url").collect()}
    full = {
        (r["probe_id"], r["match_url"]) for r in idx.probe(live).collect()
    }
    got = {
        (r["probe_id"], r["match_url"]) for r in idx.probe(some).collect()
    }
    assert got == {(a, b) for (a, b) in full if a in probe_ids}


def test_probe_tokenizes_docs_once(spark, changelog, tmp_path):
    """Probing and collecting the candidates band-tokenizes each probe
    doc once: the bucket-pruning collect and the returned join share
    one tokenization."""
    eng = CdcEngine(spark, str(tmp_path / "pages"), n_buckets=8)
    eng.replay(changelog, batch_size=800)
    idx = MinhashIndex(eng, str(tmp_path / "index"), n_buckets=8, **PARAMS)
    idx.refresh()
    docs = _live(eng).select("url", "text").localCheckpoint()
    n_docs = docs.count()
    seen = spark.sparkContext.accumulator(0)

    def count_text(t):
        seen.add(1)
        return t

    counted = docs.withColumn("text", F.udf(count_text, "string")("text"))
    candidates = idx.probe(counted).collect()
    assert candidates
    assert seen.value == n_docs


def test_probe_stale_raises(spark, changelog, tmp_path):
    eng = CdcEngine(spark, str(tmp_path / "pages"), n_buckets=8)
    eng.replay(changelog.filter("seq < 400"), batch_size=400)
    idx = MinhashIndex(eng, str(tmp_path / "index"), n_buckets=8, **PARAMS)
    idx.refresh()
    eng.replay(changelog.filter("seq >= 400"), batch_size=400)
    with pytest.raises(ValueError, match="stale"):
        idx.probe(_live(eng))
    # require_fresh=False permits probing the pinned older index state
    assert idx.probe(_live(eng), require_fresh=False).columns == [
        "probe_id",
        "match_url",
    ]


def test_hot_bucket_cap_drops_candidates(spark, changelog, tmp_path):
    """max_posting: band buckets whose membership exceeds the cap keep
    an empty posting and contribute NO probe candidates (LSH's stopword
    rule) — every surviving posting is within the cap."""
    eng = CdcEngine(spark, str(tmp_path / "pages"), n_buckets=8)
    eng.replay(changelog, batch_size=800)
    cap = 3
    idx = MinhashIndex(
        eng, str(tmp_path / "index"), n_buckets=8, max_posting=cap, **PARAMS
    )
    idx.refresh()
    for r in idx.read().collect():
        assert len(r["urls"]) <= cap
    live = _live(eng)
    got = {
        (r["probe_id"], r["match_url"]) for r in idx.probe(live).collect()
    }
    # equal to the uncapped pairs MINUS pairs only reachable via capped
    # buckets: recompute the reference from band rows directly
    rows = minhash_band_rows(live, text_col="text", id_col="url", **PARAMS)
    sizes = rows.groupBy("band", "bk").agg(
        F.count("*").alias("m"), F.collect_list("id").alias("ids")
    )
    want = set()
    for r in sizes.filter(F.col("m") <= cap).collect():
        for a in r["ids"]:
            for b in r["ids"]:
                if a != b:
                    want.add((a, b))
    assert got == want


def test_band_tokens_short_doc_has_no_rows(spark):
    docs = spark.createDataFrame(
        [("u1", "one two"), ("u2", "alpha beta gamma delta")],
        "url string, text string",
    )
    toks = minhash_band_tokens(docs, **PARAMS)
    ids = {r["url"] for r in toks.select("url").distinct().collect()}
    assert ids == {"u2"}  # < n tokens -> no shingles -> no bands
