"""Shared helpers for query plans.

Float determinism policy: distributed SUM/AVG over doubles is
order-dependent (partial aggregation order differs run to run and engine
to engine), so any double aggregate that must hash-match the DuckDB
oracle is computed over an exact DECIMAL cast and converted back to
double at the end — bit-identical on both engines, independent of
partitioning:

    Spark : F.sum(col.cast('decimal(18,6)')).cast('double')
    DuckDB: CAST(SUM(CAST(col AS DECIMAL(18,6))) AS DOUBLE)

Per-row arithmetic on doubles (no reduction) is deterministic and needs
no such treatment.

Wide-decimal caveat: DuckDB casts int128-backed decimals to double in
two rounding steps (int128→double, then /10^scale), which can differ by
1 ULP from Spark's correctly-rounded BigDecimal cast once the value
exceeds ~16 significant digits. Oracles for such wide sums (e.g. the
second-moment sums in agg_stats) must round-trip through VARCHAR —
``CAST(CAST(SUM(...) AS VARCHAR) AS DOUBLE)`` — which parses correctly
rounded and matches the JVM bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table

__all__ = [
    "t",
    "dsum",
    "davg",
    "dec",
    "rank_limited",
]

DEC = "decimal(18,6)"


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a star-schema table with its declared schema."""
    return load_table(spark, sf_dir, name)


def rank_limited(
    topk: DataFrame,
    sort_keys: list[Column],
    out_cols: list[str],
    rank_col: str = "rank",
) -> DataFrame:
    """1-based rank over an ALREADY ``orderBy().limit(k)``-bounded frame
    without a window: pack the k rows into one sorted array (global
    aggregate — partial per partition, k-row merge) and ``posexplode``
    back out. ``sort_keys`` must be ascending-order expressions whose
    lexicographic struct order equals the original sort (negate numeric
    keys for descending).

    Why not ``row_number() OVER (ORDER BY ...)``: an empty partitionBy
    spams ``WindowExec: No Partition Defined`` through every run even
    when the input is k rows (VERDICT r5 #6), and a literal partition
    key is constant-folded away before the check. This shape has no
    window at all; the single-partition exchange under the final
    aggregate is the audit-certified global-agg shape, carrying k rows."""
    s = F.struct(
        *[k.alias(f"_k{i}") for i, k in enumerate(sort_keys)],
        *[F.col(c).alias(c) for c in out_cols],
    )
    packed = topk.agg(F.sort_array(F.collect_list(s)).alias("_a"))
    ex = packed.select(F.posexplode("_a").alias("_pos", "_s"))
    return ex.select(
        *[F.col(f"_s.{c}").alias(c) for c in out_cols],
        (F.col("_pos") + 1).cast("int").alias(rank_col),
    )


def dec(col: Column | str) -> Column:
    """Exact-decimal view of a double column (see module docstring)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def dsum(col: Column | str, alias: str) -> Column:
    """Order-independent double SUM (decimal-exact internally)."""
    return F.sum(dec(col)).cast("double").alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    """Order-independent double AVG: exact decimal sum ÷ count, divided
    as doubles (both engines do the identical IEEE division)."""
    c = dec(col)
    return (F.sum(c).cast("double") / F.count(c)).alias(alias)
