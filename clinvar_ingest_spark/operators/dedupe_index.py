"""Incrementally-maintained MinHash-LSH near-dup index — per-batch
near-duplicate detection whose cost is ∝ the CHANGE SET, never the
corpus.

The batch near-dup family (operators/dedupe.py: ``minhash_lsh_pairs``
et al.) answers "which pairs in THIS dataframe collide" with one
corpus-wide self-join. A CDC pipeline asks a different question every
batch: "does anything in this delta near-duplicate anything already in
the table?" — and at 10^10 pages re-running the corpus self-join per
batch is the one plan that cannot survive. This module maintains the
LSH band buckets as a derived lakelet table instead, the exact
machinery of :class:`~clinvar_ingest_spark.operators.index.InvertedIndex`
with band keys as tokens:

    token = "<band>:<sig-slice>"   →   posting = sorted url membership

so the index inherits everything the inverted index already proved —
changed-bucket delta derivation (only pages in buckets whose file sets
differ between the indexed and current snapshots are re-MinHashed, on
either side), ``array_except``/``array_union`` posting rewrite of
touched index buckets only, exactly-once copy-on-write commits with
deterministic snapshot ids, the indexed-snapshot watermark on the
manifest summary, and time travel over the INDEX itself.

Query side (:meth:`MinhashIndex.probe`): band-tokenize the probe docs
once (≤ ``bands`` rows per doc), bucket-prune the index read to the buckets
those tokens hash to, equi-join token→posting, explode membership.
Cost ∝ |probe| × bucket occupancy — the corpus appears only through
the postings actually hit. Hot band-buckets (a near-constant signature
slice across the corpus — LSH's stopword analogue) are handled by the
inherited ``max_posting`` cap: capped tokens keep an empty posting and
contribute no candidates, the same drop rule every production LSH
dedup applies to degenerate buckets.

Reference parity: the reference re-derives its 17 entity tables from
scratch per release (ClinVarPipelineBuilder.scala:15-115) and its only
dedup is exact dedupByDate (ArchiveBranches.scala:140-156); this is
the near-dup generalization a web-scale corpus needs, maintained
incrementally because a release-sized rebuild is impossible at 10^10
pages.

Determinism: the hash family (functions/xhash.py md5_long48 + affine
transforms mod 2^31-1) is bit-identically computable in DuckDB, so
both the maintained postings and probe results are exactly
oracle-checkable (driver entry ``minhash_index_probe``).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clinvar_ingest_spark.operators.dedupe import minhash_band_rows
from clinvar_ingest_spark.operators.index import InvertedIndex


def minhash_band_tokens(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "url",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """(token, url) pairs where token = ``"<band>:<sig-slice>"`` — the
    LSH band rows of :func:`~clinvar_ingest_spark.operators.dedupe.
    minhash_band_rows` rendered as index tokens. Docs with fewer than
    ``n`` whitespace tokens have no shingles, hence no signature and no
    band rows (they can never LSH-collide; both engines agree)."""
    rows = minhash_band_rows(docs, text_col, id_col, n, num_hashes, bands, seed)
    return rows.select(
        F.concat_ws(":", F.col("band"), F.col("bk")).alias("token"),
        F.col("id").alias("url"),
    )


class MinhashIndex(InvertedIndex):
    """band-token → url membership, maintained against a CdcEngine.

    A :class:`InvertedIndex` whose tokenizer is the MinHash band-key
    function over the pages' extracted text; see the module docstring
    for the maintenance/commit guarantees it inherits.
    """

    def __init__(
        self,
        engine,
        root: str,
        n_buckets: int = 32,
        text_col: str = "text",
        url_col: str = "url",
        n: int = 3,
        num_hashes: int = 32,
        bands: int = 16,
        seed: int = 42,
        max_posting: Optional[int] = None,
    ):
        self.text_col = text_col
        self.url_col = url_col
        self.n = n
        self.num_hashes = num_hashes
        self.bands = bands
        self.seed = seed

        def _tok(pages: DataFrame) -> DataFrame:
            return minhash_band_tokens(
                pages, text_col, url_col, n, num_hashes, bands, seed
            )

        super().__init__(
            engine,
            root,
            n_buckets=n_buckets,
            tokenizer=_tok,
            max_posting=max_posting,
        )

    def probe(
        self,
        docs: DataFrame,
        text_col: Optional[str] = None,
        id_col: Optional[str] = None,
        require_fresh: bool = True,
    ) -> DataFrame:
        """Near-dup candidates of ``docs`` against the indexed corpus:
        ``(probe_id, match_url)`` pairs, one per LSH collision,
        self-matches excluded (a probe doc already in the index always
        collides with itself).

        Plan shape: band-tokenize the probe docs (≤ ``bands`` rows per
        doc), prune the index scan to the buckets those tokens hash to
        (``touched_buckets`` — a bounded-metadata collect, ≤ n_buckets
        ids), equi-join on token, explode postings. No corpus-sized
        stage: the corpus enters only through the postings the probe's
        own band keys hit, and capped hot buckets contribute nothing.

        ``require_fresh`` mirrors ``bm25_topk_indexed``'s contract:
        probing a stale index silently misses the newest pages, so by
        default staleness raises instead.

        The probe's band tokens are computed once: they are
        checkpointed locally (one job, delta-sized), and both the
        bucket-pruning collect and the returned join read that
        checkpoint.
        """
        if require_fresh:
            cur = self.engine.table.current_snapshot_id()
            if self.indexed_snapshot_id() != cur:
                raise ValueError(
                    f"index is stale (indexed={self.indexed_snapshot_id()!r}, "
                    f"current={cur!r}); call refresh() first or pass "
                    "require_fresh=False"
                )
        tok = minhash_band_tokens(
            docs,
            text_col or self.text_col,
            id_col or self.url_col,
            self.n,
            self.num_hashes,
            self.bands,
            self.seed,
        ).localCheckpoint()
        touched = self.table.touched_buckets(tok.select("token"), key_col="token")
        if not touched:
            return tok.select(
                F.col("url").alias("probe_id"),
                F.col("url").alias("match_url"),
            ).limit(0)
        idx = self.table.read(self.engine.spark, buckets=touched)
        return (
            tok.select("token", F.col("url").alias("probe_id"))
            .join(idx, "token")
            .select("probe_id", F.explode("urls").alias("match_url"))
            .filter(F.col("match_url") != F.col("probe_id"))
            .distinct()
        )
