"""CREATE / UPDATE / DELETE diff classification between two table states.

Re-expresses the reference's BigQuery diff generator (reference:
docker/diff/diff.py:117-182):

- created = new LEFT JOIN old ON pk WHERE old.pk IS NULL   (diff.py:134-137)
- deleted = old anti-join new on pk                        (diff.py:138-141)
- updated = inner join on pk where ANY non-pk col differs  (diff.py:142-152)

Non-PK columns are discovered from the schema at run time, mirroring the
reference's INFORMATION_SCHEMA introspection (diff.py:59-69), with the
same exclusion hook. Arrays are compared via ``to_json`` (the reference
uses ARRAY_TO_STRING(col, " "), diff.py:148-151, which collides when
elements contain the separator — we use JSON instead; noted semantics
improvement).

**NULL-safe update detection**: the reference's ``!=`` silently drops
NULL→value and value→NULL transitions (SURVEY.md §7 hard part (d)). We
compare with ``NOT (a <=> b)`` so those count as updates; pass
``null_safe=False`` for bug-for-bug reference parity.

Scale notes: all three classifications are plain equi-joins on the PK —
Catalyst/AQE picks broadcast when one side is small and falls back to
sort-merge with skew-join splitting otherwise. :func:`diff_all` computes
the three slices from ONE full-outer join so the two states are
shuffled once, not three times.
"""

from __future__ import annotations

from functools import reduce
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructType

DEFAULT_EXCLUDE = ("datarepo_row_id", "release_date")  # reference diff.py:66-69


def _non_key_columns(df: DataFrame, keys: Sequence[str], exclude: Sequence[str]) -> list[str]:
    drop = set(keys) | set(exclude)
    return [f.name for f in df.schema.fields if f.name not in drop]


def created_rows(new: DataFrame, old: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Rows whose key exists in ``new`` but not ``old`` (reference diff.py:134-137)."""
    return new.join(old.select(*keys), on=list(keys), how="left_anti")


def deleted_rows(new: DataFrame, old: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Rows whose key exists in ``old`` but not ``new`` (reference diff.py:138-141)."""
    return old.join(new.select(*keys), on=list(keys), how="left_anti")


def _differs(a, b, dtype, null_safe: bool):
    """Does value ``a`` differ from ``b`` (both of ``dtype``)? Nested
    types compare as JSON; ``null_safe=False`` keeps the reference's
    ``!=``, under which NULLs never "differ"."""
    if isinstance(dtype, (ArrayType, MapType, StructType)):
        a, b = F.to_json(a), F.to_json(b)
    return ~a.eqNullSafe(b) if null_safe else (a != b)


def _any(preds):
    return reduce(lambda x, y: x | y, preds) if preds else F.lit(False)


def updated_rows(
    new: DataFrame,
    old: DataFrame,
    keys: Sequence[str],
    exclude: Sequence[str] = (),
    null_safe: bool = True,
) -> DataFrame:
    """New-side rows whose key exists in both states but any non-key
    column differs (reference diff.py:142-152). Returns new-side values.
    Built on :func:`_outer`'s aliased sides, so two states derived from
    one DataFrame join unambiguously; requiring both sides makes the
    outer join an inner one.
    """
    j, cols, differs, _ = _outer(new, old, keys, exclude, null_safe)
    return j.filter(F.col("_in_new") & F.col("_in_old") & differs).select(
        *[F.col(f"_nk_{k}").alias(k) for k in keys],
        *[F.col(f"_n_{c}").alias(c) for c in cols],
    )


def _outer(new, old, keys, exclude, null_safe):
    """The one full-outer join :func:`diff_all` and :func:`diff_changelog`
    classify from: returns (joined frame with ``_n_<col>``/``_o_<col>``
    sides and ``_in_new``/``_in_old`` flags, non-key columns, the
    "any value differs" predicate, the coalesced key columns)."""
    keys = list(keys)
    cols = _non_key_columns(new, keys, exclude)
    n = new.select(
        *[F.col(k).alias(f"_nk_{k}") for k in keys],
        *[F.col(c).alias(f"_n_{c}") for c in cols],
        F.lit(True).alias("_in_new"),
    )
    o = old.select(
        *[F.col(k).alias(f"_ok_{k}") for k in keys],
        *[F.col(c).alias(f"_o_{c}") for c in cols],
        F.lit(True).alias("_in_old"),
    )
    cond = [n[f"_nk_{k}"] == o[f"_ok_{k}"] for k in keys]
    differs = _any([
        _differs(F.col(f"_n_{c}"), F.col(f"_o_{c}"), new.schema[c].dataType, null_safe)
        for c in cols
    ])
    out_keys = [
        F.coalesce(F.col(f"_nk_{k}"), F.col(f"_ok_{k}")).alias(k) for k in keys
    ]
    return n.join(o, on=cond, how="full_outer"), cols, differs, out_keys


def diff_all(
    new: DataFrame,
    old: DataFrame,
    keys: Sequence[str],
    exclude: Sequence[str] = (),
    null_safe: bool = True,
) -> DataFrame:
    """Single-shuffle three-way classification via one full-outer join.

    Returns new-side columns (old-side for deletes) plus ``_change``
    in {'created','updated','deleted'}; unchanged rows are dropped.
    This is the plan the MERGE apply uses: both states shuffle once on
    the key instead of once per slice.
    """
    j, cols, differs, out_keys = _outer(new, old, keys, exclude, null_safe)
    change = (
        F.when(F.col("_in_old").isNull(), F.lit("created"))
        .when(F.col("_in_new").isNull(), F.lit("deleted"))
        .when(differs, F.lit("updated"))
    )
    out_cols = [
        F.when(F.col("_in_new").isNotNull(), F.col(f"_n_{c}"))
        .otherwise(F.col(f"_o_{c}"))
        .alias(c)
        for c in cols
    ]
    return (
        j.withColumn("_change", change)
        .filter(F.col("_change").isNotNull())
        .select(*out_keys, *out_cols, "_change")
    )


def diff_changelog(
    new: DataFrame,
    old: DataFrame,
    keys: Sequence[str],
    exclude: Sequence[str] = (),
    null_safe: bool = True,
) -> DataFrame:
    """Retract-form change feed between two states — the Flink
    changelog / Iceberg ``create_changelog_view`` row kinds, from the
    SAME single full-outer join :func:`diff_all` uses:

    - ``insert``         new image of a created key
    - ``delete``         old image of a deleted key
    - ``update_before``  old image of an updated key
    - ``update_after``   new image of an updated key

    Updated keys emit TWO rows (before+after), produced by building a
    per-key array of image structs and exploding it — still one shuffle,
    no second join, no window. Downstream consumers can fold the feed
    into any accumulator that understands retractions (the classic use:
    keeping a downstream aggregate exactly correct under updates, the
    mechanism IVM's count-liveness rule applies in operators/ivm.py).

    Column contract: ``_change_type`` plus the shared key/value columns
    (old side aligned by the caller, as in ``CdcEngine.changelog_view``).
    """
    j, cols, differs, out_keys = _outer(new, old, keys, exclude, null_safe)

    def image(kind: str, side: str):
        return F.struct(
            F.lit(kind).alias("_change_type"),
            *[F.col(f"_{side}_{c}").alias(c) for c in cols],
        )

    created = F.col("_in_old").isNull()
    deleted = F.col("_in_new").isNull()
    rows = (
        F.when(created, F.array(image("insert", "n")))
        .when(deleted, F.array(image("delete", "o")))
        .when(
            differs,
            F.array(image("update_before", "o"), image("update_after", "n")),
        )
    )
    ex = j.select(*out_keys, F.explode(rows).alias("_img"))
    return ex.select(
        F.col("_img._change_type").alias("_change_type"),
        *keys,
        *[F.col(f"_img.{c}").alias(c) for c in cols],
    )
