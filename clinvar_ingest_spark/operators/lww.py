"""Last-writer-wins (LWW) dedup of DataFrames by key — the fan-out
and query-side form of the rule the MERGE apply's Arrow kernel
(:mod:`~clinvar_ingest_spark.operators.merge_cogroup`) runs per bucket.

Reference semantics: ``dedupByDate`` keeps, per key, the item with the
maximum associated date (reference:
transformation/src/main/scala/.../ArchiveBranches.scala:140-156). The
reference's maxBy on equal dates is arbitrary-but-stable only within a
release; we make ties deterministic by falling back to the changelog
``seq`` (SURVEY.md §7 hard part (b)) so replay always reconverges.

One implementation: :func:`lww_latest` — ``max_by(struct(all),
struct(order))``, a single shuffle with map-side partial aggregation.
Its struct order ranks a NULL field lowest, so a NULL ``warc_ts`` never
beats a real one: the order of the table's merge-on-read resolution
(``lakelet.table.MOR_ORDER``) and of the apply kernel, which
tests/test_lww.py pins against each other on NULL timestamps, ties and
tombstones.

Scale notes: pure JVM with partial aggregation — at 10^10 events the
shuffle carries one pre-reduced row per (key, map-partition), not the
raw stream, so a hot key costs one partial row per map task.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
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

