"""Last-writer-wins (LWW) dedup of DataFrames by key — the fan-out
and query-side form of the rule the MERGE apply's Arrow kernel
(:mod:`~clinvar_ingest_spark.operators.merge_cogroup`) runs per bucket.

Reference semantics: ``dedupByDate`` keeps, per key, the item with the
maximum associated date (reference:
transformation/src/main/scala/.../ArchiveBranches.scala:140-156). The
reference's maxBy on equal dates is arbitrary-but-stable only within a
release; we make ties deterministic by falling back to the changelog
``seq`` (SURVEY.md §7 hard part (b)) so replay always reconverges.

Three implementations, all semantics-identical:

1. :func:`lww_latest` — ``max_by(struct(all), struct(order))`` single
   shuffle with map-side partial aggregation. **Default / fast path.**
2. :func:`lww_latest_window` — window ``row_number() == 1``; kept for
   parity testing (full sort per key; strictly worse plan, never used
   in the engine path).
3. :func:`lww_apply_in_pandas` — salted two-stage
   ``groupBy(...).applyInPandas`` per the north rule: stage 1 reduces
   per (key, salt) so one hot key spreads over ``n_salts`` tasks, stage
   2 merges the ≤n_salts survivors per key. Legal because LWW is
   associative+commutative. Use when per-group Python logic must be
   fused into the apply (e.g. HTML→text on only the surviving row).

Scale notes: (1) is pure JVM with partial aggregation — at 10^10 events
the shuffle carries one pre-reduced row per (key, map-partition), not
the raw stream. (3) bounds the largest task at ~|hottest key|/n_salts.
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _order_struct(order_by: Sequence[str]):
    return F.struct(*[F.col(c) for c in order_by])


def lww_latest(
    df: DataFrame,
    keys: Sequence[str] = ("url",),
    order_by: Sequence[str] = ("warc_ts", "seq"),
) -> DataFrame:
    """Latest row per key by lexicographic ``order_by`` (max_by on structs).

    Output columns == input columns (keys + payload), one row per key.
    """
    payload = [c for c in df.columns if c not in keys]
    row = F.max_by(F.struct(*[F.col(c) for c in payload]), _order_struct(order_by))
    agg = df.groupBy(*keys).agg(row.alias("_row"))
    return agg.select(*keys, *[F.col(f"_row.{c}").alias(c) for c in payload])


def lww_latest_window(
    df: DataFrame,
    keys: Sequence[str] = ("url",),
    order_by: Sequence[str] = ("warc_ts", "seq"),
) -> DataFrame:
    """Window-ranking formulation (parity/testing only)."""
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_by])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def lww_apply_in_pandas(
    df: DataFrame,
    keys: Sequence[str] = ("url",),
    order_by: Sequence[str] = ("warc_ts", "seq"),
    n_salts: int = 8,
    finalize=None,
) -> DataFrame:
    """Salted two-stage grouped-map LWW (north-rule apply loop).

    ``finalize(pdf) -> pdf`` runs once per key on the single surviving
    row in stage 2 — the hook where Arrow-vectorized extraction is fused
    so expensive work happens once per key, not once per event.
    """
    keys = list(keys)
    order_by = list(order_by)
    schema = df.schema

    def _reduce(pdf: pd.DataFrame) -> pd.DataFrame:
        idx = pdf.sort_values(order_by, kind="stable").index[-1:]
        return pdf.loc[idx]

    def _reduce_final(pdf: pd.DataFrame) -> pd.DataFrame:
        out = _reduce(pdf)
        if finalize is not None:
            out = finalize(out)
        return out

    # Stage 1: spread each key over n_salts subgroups. Salt derives from
    # seq (event-unique) so a hot key's events split evenly.
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(*order_by), F.lit(n_salts)))
    stage1 = salted.groupBy(*keys, "_salt").applyInPandas(
        lambda pdf: _reduce(pdf.drop(columns=["_salt"])), schema=schema
    )
    # Stage 2: ≤ n_salts rows per key remain.
    return stage1.groupBy(*keys).applyInPandas(_reduce_final, schema=schema)
