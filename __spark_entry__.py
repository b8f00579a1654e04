"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``content_analytics_etl_spark``; see SURVEY.md §2
for the operator inventory each query covers.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from content_analytics_etl_spark.plans import all_oracles, all_queries

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: the reference pipeline transposed onto
    the star schema (recode → one group-by for the category sums and the
    row count → join to orders → argmax/taste/bucket derivations)."""
    return all_queries()["flagship_profile"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ §7
    extensions). Each callable takes (spark, sf_dir) → DataFrame."""
    return all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent per query. Keys absent here
    (non-SQL-expressible ops) get the driver's rows-only check."""
    return all_oracles()
