"""Profile aggregation operators (SURVEY.md §2.3 A1-A4, §2.4 J1).

The reference builds one wide row per contract: per-category summed
durations (group-sum + pivot) inner-joined with a device count.
``category_profile`` builds it in one ``groupBy`` (one scan, one exchange,
no join) over any (key, category, measure) triple. Scale notes:

- categories are always an **explicit value list** — the reference's
  dynamic pivot (``ETL_full.py:63``) costs an extra distinct-collect job
  and produces a data-dependent schema that crashes its own downstream
  ``greatest`` when a category is absent (SURVEY §7 "hard parts").
- Device count exposes BOTH semantics: the reference's row-count quirk
  (A3: counts log rows, ``ETL_full.py:42-45``) and the corrected
  ``countDistinct`` — callers choose fidelity vs. fixed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["category_profile", "count_devices", "pivot_profile"]


def category_profile(
    df: DataFrame,
    key: str,
    category: str,
    measure: str,
    categories: Sequence[str],
    *,
    devices: Column,
) -> DataFrame:
    """A1-A4 + P8 + J1 in one aggregation: per ``key``, the sum of
    ``measure`` for each category in ``categories`` order (0 when absent),
    then ``devices``, an aliased aggregate over all the key's rows (A3).
    A key is kept when at least one row carries a listed category — the
    rows the reference's filter-then-inner-join keeps, so a key with only
    unlisted rows drops and one whose listed rows sum to 0 stays. Unlike
    the join, a NULL key forms a group; filter it first if unwanted."""
    sums = [
        F.coalesce(F.sum(F.when(F.col(category) == c, F.col(measure))), F.lit(0)).alias(c)
        for c in categories
    ]
    listed = F.count_if(F.col(category).isin(list(categories))).alias("_listed_rows")
    wide = df.groupBy(key).agg(*sums, devices, listed)
    return wide.filter(F.col("_listed_rows") > 0).drop("_listed_rows")


def count_devices(
    df: DataFrame,
    key: str = "Contract",
    device_col: str = "Mac",
    *,
    distinct: bool = False,
    out_col: str = "TotalDevices",
) -> DataFrame:
    """A3. ``distinct=False`` reproduces the reference quirk (row count,
    not device count — ``ETL_full.py:42-45``); ``distinct=True`` is the
    corrected ``countDistinct(device_col)``. At 100 TB-scale cardinality,
    swap countDistinct for ``approx_count_distinct`` (HLL) — exposed by
    the caller, not hard-coded here, because it changes results."""
    agg = (
        F.countDistinct(device_col) if distinct else F.count(F.lit(1))
    ).alias(out_col)
    return df.select(key, device_col).groupBy(key).agg(agg)


def pivot_profile(
    df: DataFrame,
    key: str,
    category: str,
    measure: str,
    categories: Sequence[str],
    *,
    fill: float | int | None = 0,
) -> DataFrame:
    """A4 + P8: long→wide pivot with an **explicit** category list (one
    column per category, stable schema, no discovery job), absent
    categories filled with ``fill`` (reference ``na.fill(0)``,
    ``ETL_full.py:63``). Pass ``fill=None`` to keep NULLs (the
    ``ETL_one_day.py:38`` variant)."""
    wide = df.groupBy(key).pivot(category, list(categories)).sum(measure)
    if fill is not None:
        wide = wide.na.fill(fill, subset=list(categories))
    return wide
