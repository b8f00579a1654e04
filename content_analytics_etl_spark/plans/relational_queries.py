"""General relational surface (SURVEY.md §2.4/2.6/2.7 "not present"
rows + §7 Phase 1 items 4-7): the join family, set operations, sorts /
top-k windows, the aggregate family, hierarchical aggs, string/date
functions. The reference only ever uses one inner join and a positional
union; a complete engine exposes all of these, each oracle-checked.

Scale notes: dimension joins (nation/region/customer-at-small-SF) are
explicitly ``F.broadcast`` where the dim side stays small at any scale;
fact-fact joins shuffle on their keys and rely on AQE for skew. Window
queries partition by a key (never a global window without partitioning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.skew import salted_join
from ..index_store import index_version, persisted_index, source_fingerprint
from ..schemas import STAR_SCHEMAS
from ._util import davg, dec, dsum, t

# ---------------------------------------------------------------------------
# Join family
# ---------------------------------------------------------------------------


def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    o, c = t(spark, sf_dir, "orders"), t(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "c_custkey", "c_mktsegment", "o_orderstatus"
    )


def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "o_orderkey"
    )


def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer across a deliberately partial overlap (even custkeys
    vs. ordering customers)."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 2 == 0)
    o = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return c.join(o, c.c_custkey == o.o_custkey, "full_outer").select(
        "c_custkey", "o_custkey", "n_orders"
    )


def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as left_semi: customers having at least one P order."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as left_anti: customers with no URGENT order."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake dim chain with explicit broadcast of the small sides
    (nation/region stay tiny at every scale — never shuffle them)."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"), davg("c_acctbal", "avg_bal"))
    )


def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + theta condition: lineitems priced above their part's
    retail price (join on key AND inequality)."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    return (
        li.join(
            F.broadcast(p),
            (li.l_partkey == p.p_partkey) & (li.l_extendedprice > p.p_retailprice),
            "inner",
        )
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_rich"), dsum("l_extendedprice", "rich_rev"))
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------


def setops_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


def setops_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with orders EXCEPT customers with finished orders."""
    o = t(spark, sf_dir, "orders")
    all_c = o.select(F.col("o_custkey").alias("custkey"))
    fin_c = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return all_c.exceptAll(fin_c.distinct()).distinct()


def setops_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with urgent orders ∩ customers with >150k orders."""
    o = t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    b = o.filter(F.col("o_totalprice") > 150000).select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersect(b)


# ---------------------------------------------------------------------------
# Sorts / limits / top-k windows (SURVEY §2.7 — absent in reference)
# ---------------------------------------------------------------------------


def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per customer — the scalable per-group top-k
    (partitioned window, no global sort). Tie-broken on o_orderkey so
    results are total-order deterministic."""
    o = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 (TakeOrderedAndProject — no full sort materialized)."""
    o = t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


def window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running revenue (unbounded-preceding frame),
    decimal-exact so the running double matches the oracle bit-for-bit."""
    o = t(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(dec("o_totalprice")).over(w).cast("double").alias("running_total"),
    )


def window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days since each customer's previous order (lag + datediff)."""
    o = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(
            F.to_date("o_orderdate"), F.to_date(F.lag("o_orderdate").over(w))
        ).alias("days_since_prev"),
    )


def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank + dense_rank + ntile within status by price. rank/dense_rank
    are tie-stable; ntile is not, so its window adds a unique tiebreak."""
    o = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderstatus").orderBy(F.col("o_totalprice").desc())
    wt = W.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.rank().over(w).alias("price_rank"),
        F.dense_rank().over(w).alias("price_dense_rank"),
        F.ntile(4).over(wt).alias("price_quartile"),
    )


_BUCKETS = 8


def _bucketed(spark: SparkSession, sf_dir: str, table: str, key: str) -> DataFrame:
    """``table`` as a persisted index bucketed and sorted on ``key``."""
    return persisted_index(
        spark,
        f"{table}_bucketed",
        sf_dir,
        source_fingerprint(sf_dir, table),
        index_version(STAR_SCHEMAS[table].simpleString(), key, _BUCKETS),
        lambda: t(spark, sf_dir, table),
        bucket_cols=(key,),
        n_buckets=_BUCKETS,
        sort_cols=(key,),
    )


def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact-fact join via bucketing: orders and lineitem are
    persisted indexes (``index_store``) bucketed and sorted on the join
    key; the recurring join then plans a sort-merge with NO Exchange on
    either side — the co-located-join strategy for joins that repeat
    across a pipeline (tests/test_bucketed_join.py asserts the
    exchange-free plan for this registered query). At 100 TB this
    converts every repeat of the orders⋈lineitem join from two fact
    shuffles to zero."""
    li = _bucketed(spark, sf_dir, "lineitem", "l_orderkey")
    o = _bucketed(spark, sf_dir, "orders", "o_orderkey").hint("merge")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_extendedprice", "revenue"),
        )
    )


def window_extras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rest of the window-function family: percent_rank, cume_dist,
    lead-with-offset (tie-broken unique ordering, so the rank ratios are
    the same IEEE divisions in both engines) plus first/nth value over
    an explicit running frame."""
    o = t(spark, sf_dir, "orders")
    wt = W.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    frame = wt.rowsBetween(W.unboundedPreceding, W.currentRow)
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.percent_rank().over(wt).alias("pr"),
        F.cume_dist().over(wt).alias("cd"),
        F.lead("o_orderkey", 2).over(wt).alias("next2_key"),
        F.first("o_orderkey").over(frame).alias("top_key"),
        F.nth_value("o_orderkey", 3).over(frame).alias("third_key"),
    )


def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics under the determinism policy: built-in
    stddev/var/corr accumulate doubles in partition order (engine- and
    run-dependent), so the moments are decimal-EXACT sums and the
    variance/stddev/covariance/correlation are derived with the same
    fixed double-arithmetic expression in both engines."""
    li = t(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1)).cast("double")
    sq = F.sum(dec("l_quantity")).cast("double")
    sq2 = F.sum(dec("l_quantity") * dec("l_quantity")).cast("double")
    sp = F.sum(dec("l_extendedprice")).cast("double")
    sp2 = F.sum(dec("l_extendedprice") * dec("l_extendedprice")).cast("double")
    sqp = F.sum(dec("l_quantity") * dec("l_extendedprice")).cast("double")
    agg = li.groupBy("l_returnflag").agg(
        n.alias("n"), sq.alias("sq"), sq2.alias("sq2"),
        sp.alias("sp"), sp2.alias("sp2"), sqp.alias("sqp"),
    )
    var_q = (F.col("sq2") - F.col("sq") * F.col("sq") / F.col("n")) / (F.col("n") - 1)
    var_p = (F.col("sp2") - F.col("sp") * F.col("sp") / F.col("n")) / (F.col("n") - 1)
    cov = (F.col("sqp") - F.col("sq") * F.col("sp") / F.col("n")) / (F.col("n") - 1)
    return agg.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_rows"),
        var_q.alias("var_qty"),
        F.sqrt(var_q).alias("std_qty"),
        cov.alias("cov_qty_price"),
        (cov / (F.sqrt(var_q) * F.sqrt(var_p))).alias("corr_qty_price"),
    )


# ---------------------------------------------------------------------------
# Aggregate family
# ---------------------------------------------------------------------------


def agg_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        dsum("o_totalprice", "sum_price"),
        davg("o_totalprice", "avg_price"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
        F.expr("bool_and(o_totalprice > 1000)").alias("all_over_1k"),
        F.expr("bool_or(o_orderpriority = '1-URGENT')").alias("any_urgent"),
    )


def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-style conditional aggregation via sum(when(...))."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.sum(F.when(F.col("l_discount") > 0.05, dec("l_extendedprice")))
        .cast("double")
        .alias("high_disc_rev"),
        F.count(F.when(F.col("l_quantity") >= 25, 1)).alias("n_bulk"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "total")
    )


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), dsum("l_quantity", "sum_qty")
    )


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via SQL (same Catalyst plan as cube/rollup)."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(1) AS n
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# ---------------------------------------------------------------------------
# Scalar function surface (string / date / conditional)
# ---------------------------------------------------------------------------


def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_name").alias("name_lower"),
        F.length("c_name").alias("name_len"),
        F.substring("c_name", 10, 9).alias("name_num"),
        F.regexp_extract("c_name", r"(\d+)$", 1).alias("digits"),
        F.concat_ws("/", "c_mktsegment", "c_name").alias("seg_name"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("key_padded"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("C")).alias("name_short"),
    )


def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.quarter("o_orderdate").alias("qtr"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.to_date("o_orderdate").alias("order_date"),
        F.datediff(F.lit("1999-01-01").cast("date"), F.to_date("o_orderdate")).alias(
            "days_to_1999"
        ),
    )


def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join (operators/skew.py): the large events side gets
    a derived salt ``pmod(xxhash64(event_id), 8)``, the 5-row
    event_type dim replicates 8×, and the join key becomes
    (event_type, salt) — each hot key spreads over 8 reducers. Result
    is row-for-row identical to the unsalted join (that identity IS the
    oracle check; also asserted against a plain join in
    tests/test_skew.py). The shape to reach for at 100 TB when one key
    dominates a shuffled join and AQE can't re-plan (e.g. streaming)."""
    e = t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    dim = (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("type_total"))
    )
    return salted_join(e, dim, "event_type", salt_from="event_id", n_salts=8)


BLOOM_BITS = 1 << 16  # m: filter size in bits (8 KiB as 1024 int64 words)
BLOOM_K = 3  # hash functions
_BLOOM_WORDS = BLOOM_BITS >> 6


def _bloom_bit(i: int, key: F.Column) -> F.Column:
    """Deterministic bit index for hash function ``i`` — the engine's
    portable md5→bigint derivation, so any engine can reproduce it."""
    return F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"bf{i}|"), key.cast("string"))), 1, 15),
            16,
            10,
        ).cast("bigint"),
        F.lit(BLOOM_BITS),
    )


def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter prefiltered semi-join aggregate — the runtime-filter
    technique for 100 TB shuffle joins, made explicit: revenue by return
    flag over lineitems whose order is URGENT and from one month.

    Plan shape (the point of the query):
    1. BUILD, distributed: each build key emits K bit indices; a
       ``bit_or`` aggregation packs them into ≤ ``BLOOM_BITS/64``
       (word_idx, bits) rows — the filter is built by the executors,
       never on the driver.
    2. SHIP: the word relation folds into ONE array<long> row
       (``BLOOM_BITS/8`` bytes — 8 KiB here) and broadcasts.
    3. PROBE, scan-side: each lineitem row tests its K bits with
       element_at + bitwise AND — a codegen'd scalar filter, no
       explode, no shuffle, no Python. Only surviving rows reach the
       (broadcast) exact semi-join that removes false positives.
    At scale this is what saves the fact-table shuffle: the ~1-2% of
    rows that pass a 16-bit-per-key bloom shuffle instead of 100%.
    Semantically the bloom is invisible — the oracle is the plain
    semi-join aggregate, so correctness proves the prefilter admits
    every true match while the plan shows the scan-side pruning."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    keys = o.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    ).select("o_orderkey")
    word_rows = (
        keys.select(
            F.explode(
                F.array(*[_bloom_bit(i, F.col("o_orderkey")) for i in range(BLOOM_K)])
            ).alias("bit")
        )
        .select(
            F.shiftright("bit", 6).cast("int").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit % 64 AS INT))").alias(
                "mask"
            ),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )
    bloom = word_rows.agg(
        F.map_from_entries(
            F.collect_list(F.struct("word_idx", "bits"))
        ).alias("wm")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(_BLOOM_WORDS - 1)),
            lambda w: F.coalesce(F.element_at("wm", w), F.lit(0).cast("long")),
        ).alias("bloom")
    )
    probed = li.crossJoin(F.broadcast(bloom))
    for i in range(BLOOM_K):
        bit = _bloom_bit(i, F.col("l_orderkey"))
        word = F.element_at(F.col("bloom"), F.shiftright(bit, 6).cast("int") + 1)
        mask = F.expr(
            f"shiftleft(CAST(1 AS BIGINT), "
            f"CAST(pmod(CAST(conv(substring(md5(concat('bf{i}|', "
            f"CAST(l_orderkey AS STRING))), 1, 15), 16, 10) AS BIGINT), "
            f"{BLOOM_BITS}) % 64 AS INT))"
        )
        probed = probed.filter(word.bitwiseAND(mask) != 0)
    exact = probed.join(
        F.broadcast(keys), probed.l_orderkey == keys.o_orderkey, "left_semi"
    )
    return exact.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
    )


QUERIES = {
    "join_bloom_prefilter": join_bloom_prefilter,
    "join_inner": join_inner,
    "join_salted": join_salted,
    "join_left": join_left,
    "join_full_outer": join_full_outer,
    "join_semi": join_semi,
    "join_anti": join_anti,
    "join_broadcast_dims": join_broadcast_dims,
    "join_theta": join_theta,
    "join_bucketed": join_bucketed,
    "setops_distinct": setops_distinct,
    "setops_except": setops_except,
    "setops_intersect": setops_intersect,
    "topk_per_group": topk_per_group,
    "order_limit": order_limit,
    "window_running": window_running,
    "window_lag": window_lag,
    "window_rank": window_rank,
    "window_extras": window_extras,
    "agg_stats": agg_stats,
    "agg_family": agg_family,
    "agg_conditional": agg_conditional,
    "agg_rollup": agg_rollup,
    "agg_cube": agg_cube,
    "agg_grouping_sets": agg_grouping_sets,
    "string_funcs": string_funcs,
    "date_funcs": date_funcs,
}

ORACLES = {
    # The bloom prefilter is semantically invisible: the oracle is the
    # plain semi-join aggregate. A bloom false negative would drop rows
    # and hash-fail; the exact inner semi-join removes false positives.
    "join_bloom_prefilter": """
        SELECT l_returnflag,
               count(1) AS n_items,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_orderkey IN (
          SELECT o_orderkey FROM orders
          WHERE o_orderpriority = '1-URGENT'
            AND o_orderdate >= TIMESTAMP '1997-03-01 00:00:00'
            AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00')
        GROUP BY 1
    """,
    "join_salted": """
        SELECT e.event_type, e.event_id, e.value, d.type_total
        FROM events e
        JOIN (SELECT event_type, count(1) AS type_total
              FROM events GROUP BY 1) d USING (event_type)
    """,
    "join_inner": """
        SELECT o_orderkey, c_custkey, c_mktsegment, o_orderstatus
        FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    "join_left": """
        SELECT c_custkey, o_orderkey
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    """,
    "join_full_outer": """
        SELECT c_custkey, o_custkey, n_orders
        FROM (SELECT * FROM customer WHERE c_custkey % 2 = 0) c
        FULL OUTER JOIN (SELECT o_custkey, count(1) AS n_orders FROM orders GROUP BY 1) o
        ON c.c_custkey = o.o_custkey
    """,
    "join_semi": """
        SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
    """,
    "join_anti": """
        SELECT c_custkey, c_mktsegment FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
    "join_broadcast_dims": """
        SELECT r_name, n_name, count(1) AS n_customers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                 / count(CAST(c_acctbal AS DECIMAL(18,6))) AS avg_bal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1, 2
    """,
    "join_theta": """
        SELECT p_brand, count(1) AS n_rich,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS rich_rev
        FROM lineitem JOIN part
          ON l_partkey = p_partkey AND l_extendedprice > p_retailprice
        GROUP BY 1
    """,
    "window_extras": """
        SELECT o_orderkey, o_orderstatus,
               percent_rank() OVER wt AS pr,
               cume_dist() OVER wt AS cd,
               lead(o_orderkey, 2) OVER wt AS next2_key,
               first_value(o_orderkey) OVER wf AS top_key,
               nth_value(o_orderkey, 3) OVER wf AS third_key
        FROM orders
        WINDOW wt AS (PARTITION BY o_orderstatus
                      ORDER BY o_totalprice DESC, o_orderkey),
               wf AS (PARTITION BY o_orderstatus
                      ORDER BY o_totalprice DESC, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    "agg_stats": """
        WITH m AS (
          SELECT l_returnflag,
                 CAST(count(1) AS DOUBLE) AS n,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sq,
                 CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))
                        * CAST(l_quantity AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sq2,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sp,
                 CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))
                        * CAST(l_extendedprice AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sp2,
                 CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))
                        * CAST(l_extendedprice AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sqp
          FROM lineitem GROUP BY 1
        )
        SELECT l_returnflag,
               CAST(n AS BIGINT) AS n_rows,
               (sq2 - sq * sq / n) / (n - 1) AS var_qty,
               sqrt((sq2 - sq * sq / n) / (n - 1)) AS std_qty,
               (sqp - sq * sp / n) / (n - 1) AS cov_qty_price,
               ((sqp - sq * sp / n) / (n - 1))
                 / (sqrt((sq2 - sq * sq / n) / (n - 1))
                    * sqrt((sp2 - sp * sp / n) / (n - 1))) AS corr_qty_price
        FROM m
    """,
    "join_bucketed": """
        SELECT o_orderpriority, count(1) AS n_lines,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
                 AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1
    """,
    "setops_distinct": "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
    "setops_except": """
        SELECT DISTINCT custkey FROM (
          SELECT o_custkey AS custkey FROM orders
          EXCEPT ALL
          SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        )
    """,
    "setops_intersect": """
        SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        INTERSECT
        SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 150000
    """,
    "topk_per_group": """
        SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders)
        WHERE rn <= 3
    """,
    "order_limit": """
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    "window_running": """
        SELECT o_custkey, o_orderkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 AS running_total
        FROM orders
    """,
    "window_lag": """
        SELECT o_custkey, o_orderkey,
               date_diff('day',
                 CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
                                             ORDER BY o_orderdate, o_orderkey) AS DATE),
                 CAST(o_orderdate AS DATE)) AS days_since_prev
        FROM orders
    """,
    "window_rank": """
        SELECT o_orderkey, o_orderstatus,
               rank() OVER w AS price_rank,
               dense_rank() OVER w AS price_dense_rank,
               ntile(4) OVER wt AS price_quartile
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC),
               wt AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
    """,
    "agg_family": """
        SELECT o_orderstatus,
               count(1) AS n_rows,
               count(DISTINCT o_custkey) AS n_customers,
               min(o_totalprice) AS min_price,
               max(o_totalprice) AS max_price,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS VARCHAR)
                    AS DOUBLE) AS sum_price,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS VARCHAR)
                    AS DOUBLE)
                 / count(CAST(o_totalprice AS DECIMAL(18,6))) AS avg_price,
               min(o_orderdate) AS first_order,
               max(o_orderdate) AS last_order,
               bool_and(o_totalprice > 1000) AS all_over_1k,
               bool_or(o_orderpriority = '1-URGENT') AS any_urgent
        FROM orders GROUP BY 1
    """,
    "agg_conditional": """
        SELECT l_returnflag,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)))
                    FILTER (l_discount > 0.05) AS VARCHAR) AS DOUBLE)
                 AS high_disc_rev,
               count(1) FILTER (l_quantity >= 25) AS n_bulk,
               count(1) AS n_rows
        FROM lineitem GROUP BY 1
    """,
    # VARCHAR round-trip on the money sums (the _util.py wide-decimal
    # caveat): rollup/family grand totals cross ~16 significant digits
    # at sf1 where DuckDB's two-step decimal->double cast drifts 1 ULP.
    "agg_rollup": """
        SELECT o_orderstatus, o_orderpriority, count(1) AS n,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS VARCHAR)
                    AS DOUBLE) AS total
        FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    "agg_cube": """
        SELECT l_returnflag, l_linestatus, count(1) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "agg_grouping_sets": """
        SELECT o_orderstatus, o_orderpriority, count(1) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    "string_funcs": """
        SELECT c_custkey,
               upper(c_name) AS name_upper,
               lower(c_name) AS name_lower,
               length(c_name) AS name_len,
               substr(c_name, 10, 9) AS name_num,
               regexp_extract(c_name, '(\\d+)$', 1) AS digits,
               concat_ws('/', c_mktsegment, c_name) AS seg_name,
               lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS key_padded,
               replace(c_name, 'Customer', 'C') AS name_short
        FROM customer
    """,
    "date_funcs": """
        SELECT o_orderkey,
               year(o_orderdate) AS yr,
               month(o_orderdate) AS mo,
               day(o_orderdate) AS dom,
               quarter(o_orderdate) AS qtr,
               CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
               CAST(o_orderdate AS DATE) AS order_date,
               date_diff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01')
                 AS days_to_1999
        FROM orders
    """,
}
