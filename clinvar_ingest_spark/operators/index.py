"""Incrementally-maintained inverted index — a derived COLLECTION table
kept current from the CDC feed.

Where :mod:`operators.ivm` maintains derived *aggregates* (COUNT/SUM
per group), this maintains a derived *collection*: token → sorted url
posting lists, stored as a second lakelet table (``array<string>``
payload — the round-3 complex-type support is what makes the posting
column a first-class, evolvable, time-travelable column). The reference
keeps 17 derived entity tables current per release by re-running the
whole Beam fan-out (ClinVarPipelineBuilder.scala:15-115); at 10^10
pages a search-style index must instead absorb each batch's change set.

Delta derivation reuses the COW invariant (`engine.changed_buckets`):
only pages in buckets whose file sets differ between the indexed and
current snapshots are tokenized on either side —

    adds = pairs(new changed rows) ∖ pairs(old changed rows)
    dels = pairs(old changed rows) ∖ pairs(new changed rows)

(an updated page contributes both; an untouched page is never read).
The posting rewrite then touches only the index buckets of tokens with
a non-empty delta: ``array_except`` removals + ``array_union``
additions + ``array_sort`` (deterministic file bytes), committed
copy-on-write with a deterministic snapshot id
(``index:<from>-><to>``), so refresh is exactly-once, idempotent under
redelivery, crash-safe under the CAS head protocol, and OCC-protected
against concurrent index writers — the index table inherits ALL the
engine's commit guarantees because it IS an engine table.

The indexed-snapshot watermark rides the manifest ``summary`` (same
channel as the sort-order claim), so the index needs no side ledger and
time travel over the INDEX shows which pages-snapshot each version
reflects.

Hot tokens: a token present in most pages ("page" in the fixture's url
scheme; stopwords in a text index) concentrates its posting in one row.
``max_posting`` caps it — tokens whose posting would exceed the cap are
dropped to a tombstone-free "too common to index" state (the standard
stopword rule, mirrored by any oracle via the same threshold).
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clinvar_ingest_spark.lakelet.manifest import ColumnSpec
from clinvar_ingest_spark.lakelet.table import LakeletTable, bucket_expr, key_bucket

INDEX_COLUMNS = [
    ColumnSpec(1, "token", "string"),
    ColumnSpec(2, "urls", "array<string>"),
]


def url_tokens(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """Default tokenizer: host + non-empty path segments → distinct
    (token, url) pairs. Pure column expressions (JVM, SQL-mirrorable);
    swap in a text tokenizer for content indexing."""
    host = F.regexp_extract(F.col(url_col), r"https://([^/]+)", 1)
    path = F.regexp_extract(F.col(url_col), r"https://[^/]+/(.*)", 1)
    toks = F.array_distinct(
        F.concat(
            F.array(host),
            F.filter(F.split(path, "/"), lambda x: x != ""),
        )
    )
    return (
        pages.select(F.explode(toks).alias("token"), F.col(url_col).alias("url"))
        .filter(F.col("token") != "")
        .distinct()
    )


class InvertedIndex:
    """token → sorted posting list, maintained against a CdcEngine."""

    def __init__(
        self,
        engine,
        root: str,
        n_buckets: int = 32,
        tokenizer: Callable[[DataFrame], DataFrame] = url_tokens,
        max_posting: Optional[int] = None,
    ):
        self.engine = engine
        self.tokenizer = tokenizer
        self.max_posting = max_posting
        self.table = LakeletTable.create(
            root, columns=INDEX_COLUMNS, n_buckets=n_buckets, key_col="token"
        )

    # --------------------------------------------------------------- reads

    def indexed_snapshot_id(self) -> Optional[str]:
        return self.table.manifest().summary.get("indexed_snapshot")

    def read(self, snapshot_id: Optional[str] = None) -> DataFrame:
        return self.table.read(self.engine.spark, snapshot_id)

    def postings(self, token: str) -> DataFrame:
        """Point lookup: bucket-pruned scan of one token's posting."""
        b = key_bucket(token, self.table.manifest().n_buckets)
        return self.table.read(self.engine.spark, buckets=[b]).filter(
            F.col("token") == token
        )

    # ------------------------------------------------------------- refresh

    def _pairs(self, snapshot_id: Optional[str], buckets) -> DataFrame:
        live = ~F.coalesce(F.col("_deleted"), F.lit(False))
        pages = self.engine.table.read(
            self.engine.spark, snapshot_id, buckets=buckets
        ).filter(live)
        return self.tokenizer(pages)

    def refresh(self) -> str:
        """Bring the index to the engine's current snapshot; returns the
        INDEX snapshot id. One delta hop regardless of lag."""
        s_new = self.engine.table.current_snapshot_id()
        s_old = self.indexed_snapshot_id()
        if s_old == s_new:
            return self.table.current_snapshot_id()

        buckets = (
            self.engine.changed_buckets(s_old, s_new) if s_old is not None else None
        )
        new_pairs = self._pairs(s_new, buckets)
        if s_old is not None:
            old_pairs = self._pairs(s_old, buckets)
            adds = new_pairs.join(old_pairs, ["token", "url"], "left_anti")
            dels = old_pairs.join(new_pairs, ["token", "url"], "left_anti")
        else:
            adds, dels = new_pairs, None

        tagged = adds.withColumn("_t", F.lit("a"))
        if dels is not None:
            tagged = tagged.unionByName(dels.withColumn("_t", F.lit("d")))
        delta = tagged.groupBy("token").agg(
            F.array_sort(
                F.collect_list(F.when(F.col("_t") == "a", F.col("url")))
            ).alias("_add"),
            F.array_sort(
                F.collect_list(F.when(F.col("_t") == "d", F.col("url")))
            ).alias("_del"),
        )
        delta = delta.persist()
        try:
            touched = self.table.touched_buckets(
                delta.select("token"), key_col="token"
            )
            if not touched:
                # nothing to rewrite, but still advance the watermark so
                # refresh stays O(changed) next time
                sid = self.table.commit_rewrite(
                    self.engine.spark,
                    self._empty_rows(),
                    touched_buckets=[],
                    batch_id=f"index:{s_old}->{s_new}",
                    summary={"indexed_snapshot": s_new},
                    expected_parent_id=self.table.current_snapshot_id(),
                )
                return sid

            current = self.table.read(self.engine.spark, buckets=touched)
            empty = F.array().cast("array<string>")
            j = current.join(delta, on="token", how="full_outer")
            new_urls = F.array_sort(
                F.array_union(
                    F.array_except(
                        F.coalesce(F.col("urls"), empty),
                        F.coalesce(F.col("_del"), empty),
                    ),
                    F.coalesce(F.col("_add"), empty),
                )
            )
            if self.max_posting is None:
                merged = j.select("token", new_urls.alias("urls")).filter(
                    F.size("urls") > 0
                )
            else:
                # capped-token soundness: once a posting exceeds the cap
                # its membership is no longer tracked, so it must STAY
                # capped (a later delta alone can't reconstruct it).
                # Marker = present row with an EMPTY posting — natural
                # empties are deleted instead, so the encoding is
                # unambiguous.
                prev_capped = F.col("urls").isNotNull() & (F.size("urls") == 0)
                capped = prev_capped | (
                    F.size(new_urls) > F.lit(int(self.max_posting))
                )
                merged = j.select(
                    "token",
                    F.when(capped, empty).otherwise(new_urls).alias("urls"),
                    capped.alias("_capped"),
                ).filter(F.col("_capped") | (F.size("urls") > 0)).drop("_capped")
            m = self.table.manifest()
            out = merged.withColumn("_bucket", bucket_expr("token", m.n_buckets))
            return self.table.commit_rewrite(
                self.engine.spark,
                out,
                touched_buckets=touched,
                batch_id=f"index:{s_old}->{s_new}",
                summary={"indexed_snapshot": s_new},
                expected_parent_id=m.snapshot_id,
            )
        finally:
            delta.unpersist()

    def _empty_rows(self) -> DataFrame:
        from pyspark.sql.types import (
            ArrayType,
            IntegerType,
            StringType,
            StructField,
            StructType,
        )

        schema = StructType(
            [
                StructField("_bucket", IntegerType()),
                StructField("token", StringType()),
                StructField("urls", ArrayType(StringType())),
            ]
        )
        return self.engine.spark.createDataFrame([], schema=schema)
