"""KMV (k-minimum-values) distinct-count sketch — mergeable, oracle-exact.

Why in this engine: at 100 TB, "how many distinct urls / hosts / users
per slice" is a per-batch lineage metric (the reference gates work on
exact COUNT(1) ledger probes, orchestration/scripts/
count-processing-history-rows.sh:113-127 — fine at 17 tables, not at
10^10 keys). A KMV sketch answers it in one pass with bounded state and
is MERGEABLE: per-partition / per-batch sketches union into a global
one, so the estimate composes across micro-batches exactly like the
rest of the lineage ledger.

Determinism / oracle story: the sketch is a *pure function of the
distinct value set* — the k smallest 48-bit cross-engine md5 hashes
(functions/xhash.py). No RNG, no partition-order dependence; DuckDB
recomputes the identical k values and the identical integer estimate,
so the driver gets a full rows+schema+hash correctness gate on what is
normally an "approximate" operator.

Estimator (Bar-Yossef et al., "Counting distinct elements in a data
stream", RANDOM 2002): with h_(k) the k-th smallest of D distinct
uniform hashes in [0, 2^48),  E[h_(k)] ≈ k/(D+1)·2^48, so
D̂ = (k-1)·2^48 div h_(k)  (unbiased form; exact integer division on
both engines). When fewer than k distinct values exist the sketch IS
the value set and the count is exact.

Plan shape (the scale path): values hash to 8-byte keys immediately —
nothing wider ever shuffles. Stage 1 groups by (group, salt = h mod
n_salts) and keeps each salt-shard's k smallest distinct hashes
(``collect_set`` partially aggregates map-side; the ``slice`` caps what
the final aggregation emits). Stage 2 merges the ≤ n_salts·k survivors
per group. The largest in-memory set is bounded by the distinct count
of one salt shard (~D/n_salts) — size n_salts to the expected D. For
the common "one sketch per small group" case the shards also spread a
hot group over n_salts tasks.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clinvar_ingest_spark.functions.xhash import md5_long48

#: hash domain is [0, 2^48) — md5_long48's range
DOMAIN = 1 << 48


def _bottom_k(col: str, k: int) -> Column:
    return F.slice(F.array_sort(F.collect_set(col)), 1, k)


def kmv_sketch(
    df: DataFrame,
    col: str,
    k: int = 32,
    group_by: Sequence[str] = (),
    n_salts: int = 16,
) -> DataFrame:
    """Per-group KMV sketch: ``kmv`` = sorted array of the k smallest
    distinct 48-bit hashes of ``col`` (fewer if the group has fewer
    distinct values). Sketches from disjoint inputs merge with
    :func:`kmv_merge`; NULL values are excluded (SQL DISTINCT-count
    semantics)."""
    group_by = list(group_by)
    h = md5_long48(F.col(col).cast("string"))
    salted = (
        df.filter(F.col(col).isNotNull())
        .select(*group_by, h.alias("_h"))
        .withColumn("_salt", F.pmod(F.col("_h"), F.lit(int(n_salts))))
    )
    stage1 = salted.groupBy(*group_by, "_salt").agg(_bottom_k("_h", k).alias("_ks"))
    stage2 = (
        stage1.select(*group_by, F.explode("_ks").alias("_h"))
        .groupBy(*group_by)
        .agg(_bottom_k("_h", k).alias("kmv"))
    )
    return stage2


def kmv_estimate(sketch: DataFrame, k: int = 32, kmv_col: str = "kmv") -> DataFrame:
    """Attach ``n_keys`` (= min(k, D)) and ``est_distinct`` to a sketch.

    Exact when the group holds < k distinct values; otherwise the
    (k-1)·2^48 div h_(k) estimator. All integer math — bit-identical
    in any engine."""
    size = F.size(F.col(kmv_col))
    kth = F.element_at(F.col(kmv_col), k)
    num = (k - 1) * DOMAIN
    assert num < (1 << 63), "estimator numerator must fit in int64"
    est = F.when(size < k, size.cast("long")).otherwise(
        F.expr(f"CAST({num} AS BIGINT) div element_at({kmv_col}, {k})")
    )
    return sketch.withColumn("n_keys", size.cast("long")).withColumn(
        "est_distinct", est
    )


def kmv_merge(
    sketches: DataFrame,
    k: int = 32,
    group_by: Sequence[str] = (),
    kmv_col: str = "kmv",
) -> DataFrame:
    """Merge per-group sketches into coarser groups (or one global row).

    Valid because bottom-k of a union == bottom-k of the concatenated
    bottom-k's — the KMV mergeability property that lets per-batch
    sketches ride the lineage ledger and still answer global questions."""
    group_by = list(group_by)
    exploded = sketches.select(*group_by, F.explode(kmv_col).alias("_h"))
    return exploded.groupBy(*group_by).agg(_bottom_k("_h", k).alias(kmv_col))


def kmv_distinct(
    df: DataFrame,
    col: str,
    k: int = 32,
    group_by: Sequence[str] = (),
    n_salts: int = 16,
) -> DataFrame:
    """One-shot convenience: sketch + estimate.

    Output: ``group_by..., n_keys, kth_hash, est_distinct`` — all
    integers, all reproducible cross-engine."""
    s = kmv_estimate(kmv_sketch(df, col, k, group_by, n_salts), k)
    return s.select(
        *group_by,
        "n_keys",
        F.element_at("kmv", F.size("kmv")).alias("kth_hash"),
        "est_distinct",
    )
