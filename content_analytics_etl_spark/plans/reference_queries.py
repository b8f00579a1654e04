"""Reference-surface queries on the star schema (SURVEY.md §2 fidelity set).

The reference pipeline transposed per FIXTURES.md §2: ``Contract`` ↔
``l_orderkey``/``o_custkey``, the AppName recode ↔ a
``(l_returnflag, l_linestatus)`` recode, duration sums ↔ price sums,
``TotalDevices`` ↔ per-key row count, pivot categories ↔ recoded status
values with an explicit value list.

The flagship query (``entry``'s workload) exercises ~80% of the §2
inventory in one plan: scan → CASE/isin recode (P5) → one group-by for
the explicit-value category sums with fill, the row count and the
all-'Error' key drop (A1-A4/P4/P8 + P7-as-alias) → join to orders (J1) →
argmax label (F3/F4) → null-skipping concat (F5) → arithmetic +
bucketize (F6/F7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.olap import argmax_label, bucketize, taste_label
from ..operators.profile import category_profile, count_devices, pivot_profile
from ..operators.recode import recode_category
from ._util import dec, dsum, t

# (l_returnflag, l_linestatus) combo → category. 'AF' is deliberately
# unmapped → 'Error' → filtered, reproducing the reference's
# unknown-app drop path (P5 otherwise + P4, ETL_full.py:54,60).
FLAG_CATEGORY_MAP = {
    "cat_nf": ("NF",),
    "cat_no": ("NO",),
    "cat_rf": ("RF",),
}
FLAG_CATEGORIES = tuple(FLAG_CATEGORY_MAP)
# argmax tie order = dict order (reference F4 tie semantics).
_MOST_CAT = {"cat_nf": "NF", "cat_no": "NO", "cat_rf": "RF"}

_ORACLE_CAT = (
    "CASE WHEN l_returnflag='N' AND l_linestatus='F' THEN 'cat_nf' "
    "WHEN l_returnflag='N' AND l_linestatus='O' THEN 'cat_no' "
    "WHEN l_returnflag='R' AND l_linestatus='F' THEN 'cat_rf' "
    "ELSE 'Error' END"
)


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference pipeline on (lineitem ⋈ orders)."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")

    flat = li.withColumn(
        "cat",
        recode_category(F.concat("l_returnflag", "l_linestatus"), FLAG_CATEGORY_MAP),
    ).withColumn("price_dec", dec("l_extendedprice"))

    # A3 fidelity semantics: n_items counts every line, 'Error' lines too
    wide = category_profile(
        flat, "l_orderkey", "cat", "price_dec", FLAG_CATEGORIES,
        devices=F.count(F.lit(1)).alias("n_items"),
    )
    profile = wide.select(
        "l_orderkey", *[F.col(c).cast("double").alias(c) for c in FLAG_CATEGORIES], "n_items"
    ).join(orders, F.col("l_orderkey") == F.col("o_orderkey"), "inner").drop("o_orderkey")

    total = sum(F.col(c) for c in FLAG_CATEGORIES)
    return (
        profile.withColumn("most_cat", argmax_label(_MOST_CAT))
        .withColumn("taste", taste_label(_MOST_CAT))
        .withColumn("activity", bucketize(total, [50000.0, 120000.0], ["Low", "Medium", "High"]))
    )


FLAGSHIP_ORACLE = f"""
WITH flat AS (
  SELECT l_orderkey, l_extendedprice, {_ORACLE_CAT} AS cat FROM lineitem
),
devices AS (
  SELECT l_orderkey, count(*) AS n_items FROM lineitem GROUP BY 1
),
wide AS (
  SELECT l_orderkey,
    CAST(COALESCE(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) FILTER (cat = 'cat_nf'), 0) AS DOUBLE) AS cat_nf,
    CAST(COALESCE(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) FILTER (cat = 'cat_no'), 0) AS DOUBLE) AS cat_no,
    CAST(COALESCE(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) FILTER (cat = 'cat_rf'), 0) AS DOUBLE) AS cat_rf
  FROM flat WHERE cat <> 'Error' GROUP BY 1
)
SELECT w.l_orderkey, w.cat_nf, w.cat_no, w.cat_rf, d.n_items, o.o_custkey,
  CASE WHEN w.cat_nf = greatest(w.cat_nf, w.cat_no, w.cat_rf) THEN 'NF'
       WHEN w.cat_no = greatest(w.cat_nf, w.cat_no, w.cat_rf) THEN 'NO'
       WHEN w.cat_rf = greatest(w.cat_nf, w.cat_no, w.cat_rf) THEN 'RF' END AS most_cat,
  concat_ws('-',
    CASE WHEN w.cat_nf <> 0 THEN 'NF' END,
    CASE WHEN w.cat_no <> 0 THEN 'NO' END,
    CASE WHEN w.cat_rf <> 0 THEN 'RF' END) AS taste,
  CASE WHEN w.cat_nf + w.cat_no + w.cat_rf < 50000.0 THEN 'Low'
       WHEN w.cat_nf + w.cat_no + w.cat_rf >= 50000.0
        AND w.cat_nf + w.cat_no + w.cat_rf < 120000.0 THEN 'Medium'
       WHEN w.cat_nf + w.cat_no + w.cat_rf >= 120000.0 THEN 'High' END AS activity
FROM wide w
JOIN devices d USING (l_orderkey)
JOIN orders o ON w.l_orderkey = o.o_orderkey
"""


def category_recode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 standalone: ordered CASE/IN recode, first match wins."""
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        recode_category(
            F.concat("l_returnflag", "l_linestatus"), FLAG_CATEGORY_MAP
        ).alias("cat"),
    )


def sentinel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 standalone with real three-valued logic: NULLIF injects NULLs,
    the ``!=`` predicate silently drops them (the reference's NULL-
    contract drop, SURVEY P3)."""
    o = t(spark, sf_dir, "orders")
    return o.select("o_orderkey", "o_orderpriority").filter(
        F.expr("nullif(o_orderpriority, '3-MEDIUM')") != "1-URGENT"
    )


def device_count_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 fidelity quirk: 'device count' that is really a row count."""
    o = t(spark, sf_dir, "orders")
    return count_devices(o, "o_custkey", "o_orderkey", out_col="n_orders")


def device_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 corrected: countDistinct."""
    o = t(spark, sf_dir, "orders")
    return count_devices(
        o, "o_custkey", "o_orderpriority", distinct=True, out_col="n_priorities"
    )


def pivot_explicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4+P8: explicit-value pivot (status → columns), absent → 0."""
    o = t(spark, sf_dir, "orders").withColumn("tp", dec("o_totalprice"))
    wide = pivot_profile(o, "o_custkey", "o_orderstatus", "tp", ["O", "F", "P"], fill=0)
    return wide.select(
        "o_custkey",
        F.col("O").cast("double").alias("open_total"),
        F.col("F").cast("double").alias("finished_total"),
        F.col("P").cast("double").alias("pending_total"),
    )


def pivot_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 without P8 (the ETL_one_day.py:38 variant): NULLs survive."""
    o = t(spark, sf_dir, "orders").withColumn("tp", dec("o_totalprice"))
    wide = pivot_profile(o, "o_custkey", "o_orderstatus", "tp", ["O", "F", "P"], fill=None)
    return wide.select(
        "o_custkey",
        F.col("O").cast("double").alias("open_total"),
        F.col("F").cast("double").alias("finished_total"),
        F.col("P").cast("double").alias("pending_total"),
    )


_PIVOT_EXPLICIT_ORACLE = """
SELECT o_custkey,
  CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,6))) FILTER (o_orderstatus = 'O'), 0) AS DOUBLE) AS open_total,
  CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,6))) FILTER (o_orderstatus = 'F'), 0) AS DOUBLE) AS finished_total,
  CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,6))) FILTER (o_orderstatus = 'P'), 0) AS DOUBLE) AS pending_total
FROM orders GROUP BY o_custkey
"""

_PIVOT_NULLS_ORACLE = """
SELECT o_custkey,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) FILTER (o_orderstatus = 'O') AS DOUBLE) AS open_total,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) FILTER (o_orderstatus = 'F') AS DOUBLE) AS finished_total,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) FILTER (o_orderstatus = 'P') AS DOUBLE) AS pending_total
FROM orders GROUP BY o_custkey
"""


def union_strategy2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: the reference's strategy-2 shape — per-slice aggregates
    union'd WITHOUT re-aggregation (one row per (slice, key), see
    test_method2_eachFILE.py:118-131) — expressed as unionByName, the
    order-safe form."""
    o = t(spark, sf_dir, "orders").withColumn("yr", F.year("o_orderdate"))
    slices = [
        o.filter(F.col("yr") <= 1997),
        o.filter(F.col("yr") > 1997),
    ]
    aggs = [
        s.groupBy("o_custkey", "yr").agg(dsum("o_totalprice", "total")) for s in slices
    ]
    return aggs[0].unionByName(aggs[1])


QUERIES = {
    "flagship_profile": flagship,
    "category_recode": category_recode,
    "sentinel_filter_3vl": sentinel_filter,
    "device_count_rows": device_count_rows,
    "device_count_distinct": device_count_distinct,
    "pivot_explicit": pivot_explicit,
    "pivot_nulls": pivot_nulls,
    "union_strategy2": union_strategy2,
}

ORACLES = {
    "flagship_profile": FLAGSHIP_ORACLE,
    "category_recode": f"SELECT l_orderkey, l_linenumber, {_ORACLE_CAT} AS cat FROM lineitem",
    "sentinel_filter_3vl": (
        "SELECT o_orderkey, o_orderpriority FROM orders "
        "WHERE nullif(o_orderpriority, '3-MEDIUM') <> '1-URGENT'"
    ),
    "device_count_rows": "SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1",
    "device_count_distinct": (
        "SELECT o_custkey, count(DISTINCT o_orderpriority) AS n_priorities "
        "FROM orders GROUP BY 1"
    ),
    "pivot_explicit": _PIVOT_EXPLICIT_ORACLE,
    "pivot_nulls": _PIVOT_NULLS_ORACLE,
    "union_strategy2": """
        SELECT o_custkey, yr, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        FROM (SELECT *, year(o_orderdate) AS yr FROM orders) WHERE yr <= 1997 GROUP BY 1, 2
        UNION ALL
        SELECT o_custkey, yr, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        FROM (SELECT *, year(o_orderdate) AS yr FROM orders) WHERE yr > 1997 GROUP BY 1, 2
    """,
}
