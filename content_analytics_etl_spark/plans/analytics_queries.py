"""Classic warehouse-analytics operators absent from the reference
(SURVEY.md §2.7-2.8 list them as "not present"): time-series gap filling
with LOCF, funnel analysis, cohort retention, unpivot/melt, distribution
windows (ntile / cume_dist / percent_rank), z-score outlier detection,
histogram binning, TF-IDF ranking, and a forward as-of join.

Scale notes per query are inline; the common theme is one shuffle per
logical aggregation, broadcast for the tiny derived dimensions (per-type
stats, corpus size), and decimal-exact double sums (plans/_util.py) so
results hash-match the DuckDB oracle regardless of partitioning.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.asof import asof_join_forward
from ..operators.merge import merge_upsert
from ..operators.prefix_sum import distributed_prefix_sum, ieee_bucket_desc
from ..operators.scd import scd2_apply
from ..sources.writers import compact_parquet
from ..cache import materialize_and_release
from ..index_store import materialize_once, source_fingerprint
from ._util import dec, dsum, t
from .text_queries import _NORM_SQL, _TOKS_SQL  # oracle-side tokenizer
from ..functions.text_metrics import tokens


def events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucket gap filling with last-observation-carried-forward
    (the hypertable `time_bucket_gapfill` + `locf` pattern): per event
    type, a dense hourly spine from its first to last hour, missing
    hours get n_events=0 and carry the last seen hourly value-sum.

    Scale: the spine is generated from the per-type bounds (5 rows) via
    `sequence`+`explode` — hours/type, thousands of rows even over years
    — so the expensive side stays the one hash-aggregation of raw
    events; the LOCF pass is one window over the tiny dense table."""
    e = t(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"), F.sum(dec("value")).alias("sv"))
    bounds = hourly.groupBy("event_type").agg(
        F.min("hour").alias("h0"), F.max("hour").alias("h1")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("hour"),
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return spine.join(hourly, ["event_type", "hour"], "left").select(
        "event_type",
        "hour",
        F.coalesce("n", F.lit(0).cast("long")).alias("n_events"),
        F.last("sv", ignorenulls=True).over(w).cast("double").alias("locf_value"),
    )


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view → click → purchase: users counted at each
    step only if the step happened at-or-after their previous step's
    first completion. Three per-user min-aggregations chained by joins —
    every join keyed on user_id, so with a shared partitioning the
    whole funnel is one shuffle of the events table."""
    e = t(spark, sf_dir, "events")

    def first_at_or_after(etype: str, prev: DataFrame, out: str) -> DataFrame:
        step = e.filter(F.col("event_type") == etype).select("user_id", "ts")
        if prev is not None:
            prev_ts = prev.columns[-1]
            step = step.join(prev, "user_id").filter(F.col("ts") >= F.col(prev_ts))
        return step.groupBy("user_id").agg(F.min("ts").alias(out))

    s1 = first_at_or_after("view", None, "t1")
    s2 = first_at_or_after("click", s1, "t2")
    s3 = first_at_or_after("purchase", s2, "t3")
    return (
        s1.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(s2.agg(F.count(F.lit(1)).alias("n_click_after_view")))
        .crossJoin(s3.agg(F.count(F.lit(1)).alias("n_purchase_after_click")))
    )


def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity day,
    distinct actives counted at each day offset. Two aggregations
    keyed on user_id then (cohort, offset); the firsts table is one row
    per user so AQE broadcasts it when small."""
    e = t(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    return (
        e.join(firsts, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.date_trunc("day", "ts"), F.col("cohort_day")).alias(
                "day_offset"
            ),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the classic warehouse scoring:
    recency (days from a customer's last order to the corpus max date),
    frequency (order count), monetary (decimal-exact total spend), each
    cut into quintiles, plus the concatenated 'RFM' segment code.

    Scale shape (why NOT ntile): equal-count ntile needs one global
    sort of every customer through a single partition — the exact
    anti-pattern tools/audit_plans.py exists to flag. Production RFM
    bins by QUANTILE THRESHOLDS instead: four exact percentiles per
    metric (one aggregation; the sketch form swaps in at scale, see
    events_approx_percentile_bound), broadcast as one row, and the
    quintile is per-row arithmetic — no global sort, no tie
    sensitivity (``value > threshold`` is a pure function of the data;
    the Spark percentile ↔ DuckDB quantile_cont pairing is the one
    events_value_percentiles already verified hash-exact).
    Quintile convention: 1 + #(thresholds exceeded) — so recency 1 =
    most recent, frequency/monetary 5 = heaviest."""
    o = t(spark, sf_dir, "orders")
    maxd = o.agg(F.max("o_orderdate").alias("_maxd"))
    per_cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("_last"),
            F.count(F.lit(1)).alias("frequency"),
            dsum("o_totalprice", "monetary"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.datediff("_maxd", "_last").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    qs = per_cust.agg(
        *[
            F.percentile(c, F.lit(p)).alias(f"_{c}_{int(p * 100)}")
            for c in ("recency_days", "frequency", "monetary")
            for p in (0.2, 0.4, 0.6, 0.8)
        ]
    )

    def quintile(c: str) -> F.Column:
        score = F.lit(1)
        for p in (20, 40, 60, 80):
            score = score + F.when(
                F.col(c).cast("double") > F.col(f"_{c}_{p}"), 1
            ).otherwise(0)
        return score.cast("int")

    return per_cust.crossJoin(F.broadcast(qs)).select(
        "c_custkey",
        "recency_days",
        "frequency",
        "monetary",
        quintile("recency_days").alias("r_quintile"),
        quintile("frequency").alias("f_quintile"),
        quintile("monetary").alias("m_quintile"),
        F.concat_ws(
            "",
            quintile("recency_days"),
            quintile("frequency"),
            quintile("monetary"),
        ).alias("segment"),
    )


AFFINITY_MIN_BOTH = 2  # report pairs co-ordered at least this often


def part_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence with lift — the association-mining
    primitive behind 'frequently bought together': for every part pair
    co-occurring in ≥ ``AFFINITY_MIN_BOTH`` orders, the co-order count,
    each part's own order count, and lift = P(ab)/(P(a)·P(b)).

    Scale shape: the pair generation is a self-join ON THE ORDER KEY of
    the distinct (order, part) relation — fan-out is Σ C(k,2) per
    order, bounded by the ~7-line order cap, so it is linear in orders,
    never |parts|². Lift is computed as one division of two exact
    integer products ((n_ab·N) / (n_a·n_b), both < 2^63) — a single
    IEEE-exact op, bit-identical in any engine, instead of a chain of
    double multiplies whose association order could drift."""
    # r14 optimization (guide §5): the distinct basket relation feeds
    # FOUR consumers (corpus count, support table, both self-join sides)
    # — persisted for the invocation (it is the basket table every
    # market-basket pass materializes first) and released on return.
    op = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .persist()
    )
    n_orders = op.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    supp = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_part"))
    a = op.select(F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part_a"))
    b = op.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part_b")
    ).hint("merge")
    pairs = (
        a.join(b, ["okey"])
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= AFFINITY_MIN_BOTH)
    )
    sa = supp.select(F.col("l_partkey").alias("part_a"), F.col("n_part").alias("n_a"))
    sb = supp.select(F.col("l_partkey").alias("part_b"), F.col("n_part").alias("n_b"))
    return materialize_and_release(
        pairs.join(sa, "part_a")
        .join(sb, "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_both",
            "n_a",
            "n_b",
            (
                (F.col("n_both") * F.col("n_orders")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        ),
        op,
    )


def part_affinity_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets with Apriori pruning — the level-3 step of
    association mining on the co-purchase data (part_affinity is
    level 2): candidate triples extend per-order FREQUENT pairs by a
    third in-order item and are pruned unless all three 2-subsets are
    frequent (the Apriori property: support is anti-monotone), then
    counted and support-filtered. Reports the triple support, all three
    pair supports, and the {a,b}→c rule confidence.

    Scale shape: everything is keyed on the order key or on bounded
    itemsets — per-order fan-out is Σ C(k,3) under the ~7-line order
    cap (linear in orders, never |parts|³); the Apriori semi-joins
    shrink the candidate stream BEFORE the counting shuffle, which is
    the property that keeps level-k mining feasible at 100 TB."""
    # r14 optimization (guide §2.4/§5): the frequent-pair table `pairs`
    # was plain lineage referenced SIX times (the per-order semi-join,
    # two Apriori prunes, three support joins) — each reference re-ran
    # the order self-join + count aggregation. It is now persisted for
    # the invocation (the level-2 output feeding level-3 — exactly the
    # artifact Apriori materializes between levels; support-filtered, so
    # orders of magnitude smaller than the pair stream) and released on
    # return. Measured idle sf0.1 min-of-3: 3.1 → 1.2 s.
    op = (
        t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    )
    a = op.select(F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("pa"))
    b = op.select(F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("pb"))
    c = op.select(F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("pc"))
    pairs = (
        a.join(b.hint("merge"), "okey")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= AFFINITY_MIN_BOTH)
        .persist()
    )
    po = (
        a.join(b.hint("merge"), "okey")
        .filter(F.col("pa") < F.col("pb"))
        .join(pairs.select("pa", "pb"), ["pa", "pb"], "left_semi")
    )
    cand = (
        po.join(c.hint("merge"), "okey")
        .filter(F.col("pc") > F.col("pb"))
        # Apriori prune: {a,c} and {b,c} must be frequent too
        .join(
            pairs.select(F.col("pa"), F.col("pb").alias("pc")),
            ["pa", "pc"],
            "left_semi",
        )
        .join(
            pairs.select(F.col("pa").alias("pb"), F.col("pb").alias("pc")),
            ["pb", "pc"],
            "left_semi",
        )
    )
    tri = (
        cand.groupBy("pa", "pb", "pc")
        .agg(F.count(F.lit(1)).alias("n_abc"))
        .filter(F.col("n_abc") >= AFFINITY_MIN_BOTH)
    )
    j = (
        tri.join(pairs.select("pa", "pb", "n_ab"), ["pa", "pb"])
        .join(
            pairs.select(
                "pa", F.col("pb").alias("pc"), F.col("n_ab").alias("n_ac")
            ),
            ["pa", "pc"],
        )
        .join(
            pairs.select(
                F.col("pa").alias("pb"),
                F.col("pb").alias("pc"),
                F.col("n_ab").alias("n_bc"),
            ),
            ["pb", "pc"],
        )
    )
    return materialize_and_release(
        j.select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            F.col("pc").alias("part_c"),
            "n_abc",
            "n_ab",
            "n_ac",
            "n_bc",
            (F.col("n_abc").cast("double") / F.col("n_ab").cast("double")).alias(
                "conf_ab_c"
            ),
        ),
        pairs,
    )


def lineitem_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt (`DataFrame.unpivot`, the inverse of the
    reference's A4 pivot) over lineitem's four measure columns, then
    re-aggregated per measure. Unpivot is a zero-shuffle row-local
    expansion; only the 4-group aggregation shuffles."""
    li = t(spark, sf_dir, "lineitem")
    measures = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    long = li.unpivot("l_orderkey", measures, "measure", "val")
    return long.groupBy("measure").agg(
        F.count(F.lit(1)).alias("n"), dsum("val", "total")
    )


def events_value_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution windows per event type: quartile (ntile), cumulative
    distribution, percent rank. Ordered by (value, event_id) — the
    explicit tie-break makes ntile deterministic and gives cume_dist /
    percent_rank a total order both engines agree on."""
    e = t(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    return e.select(
        "event_id",
        "event_type",
        "value",
        F.ntile(4).over(w).alias("quartile"),
        F.cume_dist().over(w).alias("cume_dist"),
        F.percent_rank().over(w).alias("pct_rank"),
    )


def events_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outliers (|z| > 3). Moments come from one
    aggregation (decimal-exact Σv and Σv² → double), the 5-row stats
    table is explicitly broadcast back onto events — the canonical
    small-dim broadcast join, no second shuffle of the fact table.
    The z expression is written with the identical operation tree in
    the oracle so IEEE doubles match bit-for-bit. The squared sum uses
    decimal(12,2) inputs (values carry 2 dp) so the summed unscaled
    integer stays below 2^53 — a wider scale would make DuckDB's
    int128→double→÷10^scale cast double-round vs Java's correctly
    rounded BigDecimal conversion."""
    e = t(spark, sf_dir, "events")
    v2 = F.col("value").cast("decimal(12,2)")
    stats = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("value")).cast("double").alias("s"),
        F.sum(v2 * v2).cast("double").alias("ss"),
    )
    mean = F.col("s") / F.col("n")
    z = (F.col("value") - mean) / F.sqrt(F.col("ss") / F.col("n") - mean * mean)
    return (
        e.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 3.0)
        .select("event_id", "event_type", "value", z.alias("z"))
    )


def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences — the generative twin of ``events_top_paths``'s frequent
    journeys (path mining shows WHAT happens, the transition matrix
    shows the per-step dynamics and feeds simulation/anomaly scoring).
    ``lead`` over (user_id | ts, event_id) pairs each event with its
    successor; transition probability is the count normalized within
    the from-state. One window shuffle keyed by user_id, one compact
    aggregation; the normalizing window runs over the ALREADY-AGGREGATED
    |types|² matrix, partitioned by from_type — nothing global."""
    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
    )
    cnt = pairs.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n_transitions"))
    tot = F.sum("n_transitions").over(W.partitionBy("from_type"))
    return cnt.select(
        "from_type",
        "to_type",
        "n_transitions",
        (F.col("n_transitions").cast("double") / tot.cast("double")).alias(
            "prob"
        ),
    )


STREAK_EPOCH = "2020-01-01"  # fixed anchor for the island key


def events_active_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-day activity streaks per user — the gaps-and-islands
    pattern every engagement dashboard needs (DAU streaks, retention
    heuristics). Island key = days-since-epoch − row_number within the
    user's ordered distinct active days: consecutive days share the key,
    a gap shifts it. Reports per user the total active days, streak
    count, longest streak, and last active day.

    Shape: distinct (user, day) → one user-partitioned window → two
    compact aggs, all keyed by user — nothing global. Day stays a
    TIMESTAMP (date_trunc) and the island key is pure integer
    arithmetic, so both engines agree exactly."""
    e = t(spark, sf_dir, "events")
    days = e.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    isl = days.withColumn(
        "grp",
        F.datediff("day", F.lit(STREAK_EPOCH).cast("timestamp"))
        - F.row_number().over(w),
    )
    streaks = isl.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len"), F.max("day").alias("end_day")
    )
    return streaks.groupBy("user_id").agg(
        F.sum("len").alias("n_active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("len").alias("longest_streak"),
        F.max("end_day").alias("last_active_day"),
    )


def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (width 10) of value per event type —
    binning is row-local arithmetic, one compact aggregation."""
    e = t(spark, sf_dir, "events")
    bin_ = F.floor(F.col("value") / F.lit(10.0)).cast("long")
    return e.groupBy("event_type", bin_.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    )


def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: per-(doc, term) frequency × ln(N/df), top 5 terms per doc
    (score desc, term asc tie-break). The corpus size is a 1-row frame
    broadcast via crossJoin; df comes from the tf table itself (one row
    per (doc, term) ⇒ count = document frequency) so the corpus is
    tokenized exactly once. The ln() is rounded to 9 dp before the
    multiply: JVM Math.log and C libm log drift by ~2 ulp, so the one
    transcendental is snapped to a shared grid and every downstream op
    stays exactly-rounded IEEE — bit-identical across engines."""
    d = t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    total = d.agg(F.count(F.lit(1)).alias("n_docs"))
    score = F.col("tf").cast("double") * F.round(
        F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")), 9
    )
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(total))
        .select("doc_id", "term", "tf", score.alias("tfidf"))
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .drop("rk")
    )


def events_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every view, the value of the same user's NEXT purchase at or
    after the view (NULL when none follows) — forward as-of join
    (operators/asof.py: asof_join_forward), one shuffle on user_id."""
    e = t(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select("event_id", "user_id", "ts")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.col("value").alias("next_purchase_value")
    )
    return asof_join_forward(
        views,
        purchases,
        on=["user_id"],
        ts_col="ts",
        right_value_cols=["next_purchase_value"],
        right_tiebreak="event_id",
    )


def dim_scd2_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension maintenance (operators/scd.py): the customer
    dimension seeded as current-as-of 1995, upserted with a change set
    derived from 1998+ orders (segment recoded, change time = the
    customer's latest qualifying order). Matched customers close their
    old version at change_ts and open an 'UPDATED' one; customers with
    no qualifying order pass through untouched. One key-shuffle total."""
    c = t(spark, sf_dir, "customer")
    dim = c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.lit("1995-01-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    chg = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.max("o_orderdate").alias("change_ts"))
        .join(c.select("c_custkey", "c_acctbal"), "c_custkey")
        .select(
            "c_custkey",
            F.lit("UPDATED").alias("c_mktsegment"),
            "c_acctbal",
            "change_ts",
        )
    )
    return scd2_apply(
        dim, chg, key="c_custkey", tracked=["c_mktsegment", "c_acctbal"]
    )


def events_approx_percentile_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch percentiles next to the exact answer: per type, exact
    interpolated p50/p95 plus a flag that the KLL-style
    ``approx_percentile`` (accuracy 1000, mergeable partial sketches —
    the 100 TB path where an exact per-group sort is another shuffle)
    lands within 5% of the exact value. Mirrors the
    ``events_approx_distinct`` pattern: the oracle checks the exact
    columns and the bound, since sketch internals differ per engine."""
    e = t(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("p50"),
        F.percentile("value", 0.95).alias("p95"),
        F.expr("approx_percentile(value, 0.5, 1000)").alias("_a50"),
        F.expr("approx_percentile(value, 0.95, 1000)").alias("_a95"),
    )
    ok = (F.abs(F.col("_a50") - F.col("p50")) / F.col("p50") <= 0.05) & (
        F.abs(F.col("_a95") - F.col("p95")) / F.col("p95") <= 0.05
    )
    return agg.select("event_type", "p50", "p95", ok.alias("approx_within_5pct"))


def orders_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE apply (operators/merge.py): a deterministic change
    batch — price updates for keys %7 (minus the %13 overlap), deletes
    for keys %13, inserts with negated keys for %11 — applied to the
    orders snapshot in one full-outer-join shuffle. The oracle replays
    the same merge in SQL, so matched/unmatched/delete routing is
    hash-verified row-for-row."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    k = F.col("o_orderkey")
    upd = o.filter((k % 7 == 0) & (k % 13 != 0)).select(
        k.alias("o_orderkey"),
        (F.col("o_totalprice") + F.lit(100.0)).alias("o_totalprice"),
        "o_orderstatus",
        F.lit(False).alias("is_delete"),
    )
    dels = o.filter(k % 13 == 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus", F.lit(True).alias("is_delete")
    )
    ins = o.filter(k % 11 == 0).select(
        (-k).alias("o_orderkey"),
        "o_totalprice",
        "o_orderstatus",
        F.lit(False).alias("is_delete"),
    )
    changes = upd.unionByName(dels).unionByName(ins)
    return merge_upsert(o, changes, key="o_orderkey", delete_flag="is_delete")


def warehouse_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction round-trip (sources/writers.py
    compact_parquet — the maintenance job behind every streaming /
    incremental sink): orders is first materialized as a deliberately
    fragmented layout (64 small files, the shape a micro-batch sink
    leaves behind), then compacted into size-targeted files with a
    shuffle-free coalesce, and the COMPACTED table is aggregated. The
    oracle computes the same aggregate from the source table directly,
    so the hash match proves compaction is lossless row-for-row and
    value-for-value; the file-count contract (ceil(bytes/target) output
    files, far fewer than the fragments) is asserted in
    tests/test_compaction.py. The compacted table is a derived layout
    (``index_store``)."""

    def build(tmp: str) -> None:
        # the fragmented input is build-scoped staging, pid-suffixed so
        # concurrent builders never share it, removed once compacted
        frag = f"{tmp}.frag"
        (
            t(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderstatus", "o_totalprice")
            .repartition(64)  # simulate the micro-batch fragmentation
            .write.mode("overwrite")
            .parquet(frag)
        )
        compact_parquet(spark, frag, tmp, target_file_bytes=4 << 20)
        shutil.rmtree(frag, ignore_errors=True)

    compacted = materialize_once(
        spark, "orders_compact", sf_dir, source_fingerprint(sf_dir, "orders"), build
    )
    return (
        spark.read.parquet(compacted)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "total_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


def orders_open_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog over time — the interval-counting pattern
    (hospital census / concurrent sessions / WIP inventory): an order is
    open from its order date until its last line ships; the backlog on
    day d is the number of concurrently open intervals. Computed the
    scalable way: each order emits a +1 delta at its start day and a −1
    the day AFTER its close day, deltas aggregate per day, and a
    running sum over the ~date-range-sized aggregated day table yields
    the census — never a day × open-orders join (which is quadratic in
    the backlog depth). Pure integer arithmetic.

    The running sum is DISTRIBUTED (VERDICT r5 #2 — the audit flagged
    the former ``orderBy('day')`` no-partitionBy window as a keyed-
    aggregate single-partition funnel): ``operators/prefix_sum.py``'s
    two-pass cumsum, bucketed by calendar month (``year*12 + month`` —
    deterministic, monotone in day, and pre-aligned with how a real
    warehouse partitions its fact tables). The day spine is bounded
    (~10³ rows at any TPC-H scale) so this is cheap insurance, but the
    shape now survives arbitrarily fine spines (per-second census) too.

    The close day is ``greatest(order date, last ship)`` — an order
    cannot close before it is placed (the synthetic generator emits
    some ship dates before the order date; real TPC-H forbids them,
    and the clamp makes the interval well-formed either way). Orders
    with no lineitems close same-day via the left join."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = t(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("last_ship")
    )
    spans = o.join(li, o.o_orderkey == li.l_orderkey, "left").select(
        F.col("o_orderdate").alias("start_day"),
        (
            F.greatest(
                F.coalesce(F.col("last_ship"), F.col("o_orderdate")),
                F.col("o_orderdate"),
            )
            + F.expr("INTERVAL 1 DAY")
        ).alias("end_day"),
    )
    # r14 optimization (guide §2.4): one pass emits both deltas per span
    # via a row-local 2-element explode — the old unionAll of two
    # projections evaluated the orders⋈lineitem span join twice.
    deltas = (
        spans.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("start_day").alias("day"), F.lit(1).alias("d")
                    ),
                    F.struct(
                        F.col("end_day").alias("day"), F.lit(-1).alias("d")
                    ),
                )
            ).alias("x")
        )
        .select("x.day", "x.d")
        .groupBy("day")
        .agg(F.sum("d").alias("delta"))
    )
    census, _ = distributed_prefix_sum(
        spark,
        deltas,
        pid=F.year("day") * 12 + F.month("day"),
        order=[F.col("day")],
        value_col="delta",
        cum_col="n_open_orders",
    )
    return census.select("day", "delta", "n_open_orders")


def events_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maximum detection on the hourly count series per type —
    the alerting primitive behind 'traffic spiked at 14:00': an hour is
    a peak when its count strictly exceeds both neighbors (endpoints
    excluded — a NULL neighbor never qualifies), with prominence = the
    margin over the taller neighbor. Pure integer window arithmetic;
    one hash aggregation + one lag/lead window per type."""
    e = t(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w = W.partitionBy("event_type").orderBy("hour")
    h = hourly.withColumn("prev", F.lag("n").over(w)).withColumn(
        "nxt", F.lead("n").over(w)
    )
    return (
        h.filter((F.col("n") > F.col("prev")) & (F.col("n") > F.col("nxt")))
        .select(
            "event_type",
            "hour",
            F.col("n").alias("n_events"),
            (F.col("n") - F.greatest("prev", "nxt")).alias("prominence"),
        )
    )


CUSUM_H_MULT = 3  # drift alarm when S_t exceeds 3x the series mean


def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detection on the daily count series per
    event type — the classic sequential change-point monitor behind
    'did traffic permanently shift upward?': S_t = max(0, S_{t-1} +
    (x_t − μ)), alarm when S_t > h = 3μ. The recursion LOOKS
    sequential, but the standard identity S_t = C_t − min(0, min_{i≤t}
    C_i) with C_t = Σ_{j≤t}(x_j − μ) turns it into a prefix sum plus a
    prefix min — both keyed windows partitioned by event_type, fully
    parallel across types at any scale (the per-type series length is
    the day count, bounded).

    EXACT integer arithmetic throughout: μ = total/n is rational, so
    everything is scaled by n — C'_t = Σ(n·x_j − total) is a BIGINT
    running sum, the prefix min and the clamp stay integer, and the
    single double division S'/n happens per row at read-out. The alarm
    S_t > 3μ becomes S'_t > 3·total. No float reduction anywhere, so
    the hash matches the oracle regardless of partitioning. Per-type
    (n, total) is a |types|-row broadcast join. The series uses
    OBSERVED days only (the synthetic stream has no gaps; a production
    deployment would spine-fill with events_gapfill_locf first)."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    per_type = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_events").alias("total")
    )
    j = daily.join(F.broadcast(per_type), "event_type")
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cp = F.sum(
        F.col("n_events") * F.col("n") - F.col("total")
    ).over(w)
    c = j.withColumn("cp", cp)
    sp = F.col("cp") - F.least(F.lit(0).cast("bigint"), F.min("cp").over(w))
    s = c.withColumn("sp", sp)
    return s.select(
        "event_type",
        "day",
        "n_events",
        (F.col("sp").cast("double") / F.col("n")).alias("cusum"),
        (F.col("sp") > CUSUM_H_MULT * F.col("total")).alias("drift"),
    )


SEASON_LAG_HOURS = 24  # seasonal-naive horizon: same hour yesterday


STL_PERIOD = 7  # weekly seasonality on the daily series


def events_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive time-series decomposition (the moving-average
    STL ancestor): per event_type's daily value series, value = trend +
    seasonal + residual, with trend a centered 7-row moving average,
    the seasonal component the mean detrended value per day-of-week,
    and the residual what remains. The monitoring decomposition a
    pipeline runs before alerting on "drift" that is actually weekday
    shape.

    Exactness (the house integer-core pattern): daily values are exact
    micro-unit BIGINTs (PERF-29 fixed point); the trend is carried as
    the UNDIVIDED 7-row sum, detrended values as 7·v − Σ₇ (integers!),
    and day-of-week means as (Σ dow, n) pairs — so every cross-row
    reduction is exact integer arithmetic, and trend/seasonal/residual
    materialize as per-row IEEE divisions over identical operands at
    the very end. Day-of-week is epoch-day mod 7 (engine-neutral),
    edges where the 7-row window is incomplete report NULL trend /
    residual (mirrored in the oracle).

    Scale shape: one map-side-combined daily aggregation, one keyed
    window per event_type over the ~|days| aggregated series, one
    |types|×7-row seasonal join — nothing wider than the day table
    shuffles."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.sum(
            F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("bigint")
        ).alias("v_u")
    )
    half = STL_PERIOD // 2
    w7 = (
        W.partitionBy("event_type").orderBy("day").rowsBetween(-half, half)
    )
    tr = daily.select(
        "event_type",
        "day",
        "v_u",
        F.when(
            F.count(F.lit(1)).over(w7) == STL_PERIOD, F.sum("v_u").over(w7)
        ).alias("sum7_u"),
        (
            F.datediff(F.col("day"), F.to_date(F.lit("2024-01-01")))
            % STL_PERIOD
        ).alias("dow"),
    )
    seas = (
        tr.filter(F.col("sum7_u").isNotNull())
        .select(
            "event_type",
            "dow",
            (F.lit(STL_PERIOD) * F.col("v_u") - F.col("sum7_u")).alias("d7_u"),
        )
        .groupBy("event_type", "dow")
        .agg(F.sum("d7_u").alias("s_u"), F.count(F.lit(1)).alias("n_dow"))
    )
    j = tr.join(seas, ["event_type", "dow"], "left")
    value = F.col("v_u").cast("double") / F.lit(1e6)
    trend = F.col("sum7_u").cast("double") / F.lit(float(STL_PERIOD) * 1e6)
    seasonal = F.col("s_u").cast("double") / (
        F.lit(float(STL_PERIOD) * 1e6) * F.col("n_dow").cast("double")
    )
    return j.select(
        "event_type",
        "day",
        value.alias("value"),
        trend.alias("trend"),
        seasonal.alias("seasonal"),
        (value - trend - seasonal).alias("residual"),
    )


STL_ANOM_Z = 2.0  # robust-z cutoff on the deseasonalized residual


def events_stl_residual_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deseasonalized anomaly detection — the composition the STL
    decomposition exists for: a day is anomalous when its RESIDUAL
    (value minus trend minus weekday shape) exceeds ``STL_ANOM_Z``
    robust-z of the per-type residual distribution. Plain value
    thresholds fire on weekday shape and trend drift; CUSUM
    (events_cusum_drift) catches sustained shifts; this catches the
    single bad day that both miss.

    Robust-z = |r − median(r)| / (1.4826·MAD(r)) — the
    events_mad_outliers model applied to residuals: two exact
    percentile aggregations to a #types-row relation broadcast back,
    per-row IEEE scoring. Residual doubles are bit-identical
    cross-engine by events_stl_decompose's integer-core construction,
    so the medians select identical values.

    Degenerate-MAD guard (ADVICE r9): when half or more residuals equal
    the median, MAD = 0 and the z denominator vanishes — Spark would
    emit Infinity (passing the filter) while DuckDB's 0-division
    behavior is setting-dependent; the z score is NULL-guarded with
    ``mad > 0`` (matching CASE in the oracle) so such types simply
    report no anomalies, the same contract as the band-tuning ratios."""
    d = events_stl_decompose(spark, sf_dir).filter(
        F.col("residual").isNotNull()
    )
    med = d.groupBy("event_type").agg(
        F.percentile("residual", 0.5).alias("med")
    )
    dev = d.join(F.broadcast(med), "event_type").select(
        "event_type",
        "day",
        "value",
        "residual",
        "med",
        F.abs(F.col("residual") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(F.percentile("adev", 0.5).alias("mad"))
    z = F.when(
        F.col("mad") > 0, F.col("adev") / (F.lit(1.4826) * F.col("mad"))
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(z > STL_ANOM_Z)
        .select(
            "event_type", "day", "value", "residual", z.alias("robust_z")
        )
    )


def events_seasonal_naive_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-baseline evaluation — the first number any time-series
    effort needs: per event type, how well does 'same hour yesterday'
    (seasonal naive, lag 24 on the hourly count series) predict the
    actual hourly count? Reports MAE, RMSE and bias over all evaluable
    hours. Every error is an INTEGER (count − lagged count), so the
    aggregates are exact integer/decimal arithmetic with one final
    double division — no float hazard at all.

    The prediction joins on hour − 24h (a keyed equi-join after shifting
    the prediction side), NOT ``lag(24)`` — lag counts ROWS, so one
    missing hour in the series would silently misalign every later
    prediction; the join is exact under gaps and evaluates only hours
    whose predecessor exists. Shape: one hash aggregation events →
    hourly, one (type, hour) equi-join of the hourly series with its
    shifted self, one compact per-type aggregation."""
    e = t(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    pred = hourly.select(
        "event_type",
        (F.col("hour") + F.expr(f"INTERVAL {SEASON_LAG_HOURS} HOURS")).alias(
            "hour"
        ),
        F.col("n").alias("pred"),
    )
    h = hourly.join(pred, ["event_type", "hour"])
    err = F.col("n") - F.col("pred")
    return (
        h.select("event_type", err.alias("err"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            (
                F.sum(F.abs(F.col("err"))).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("mae"),
            F.sqrt(
                F.sum(F.col("err") * F.col("err")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("rmse"),
            (
                F.sum(F.col("err")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("bias"),
        )
    )


EMA_ALPHA = 0.25
EMA_WINDOW = 24  # trailing hours feeding each smoothed point


def events_ema_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential moving average over the hourly event-count series per
    type — the standard monitoring smoother (EWMA control charts,
    anomaly baselines). The recursion acc ← α·x + (1−α)·acc is not a
    windowable aggregate, but over a BOUNDED trailing frame (24 h) it
    is exactly expressible relationally: collect the frame into an
    ordered array, then left-fold it (seed = oldest point). Spark's
    ``F.aggregate`` and DuckDB's ``list_reduce`` execute the identical
    IEEE operation sequence, so the smoothed doubles are bit-equal —
    the same fold-determinism contract as functions/vectors.py.

    Shape: one hash aggregation events → hourly, one 24-row bounded
    window per type (state bounded by the frame, not history), per-row
    fold arithmetic. Nothing global, nothing unbounded."""
    e = t(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        W.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-(EMA_WINDOW - 1), 0)
    )
    arr = F.collect_list(F.col("n").cast("double")).over(w)
    h2 = hourly.select("event_type", "hour", "n", arr.alias("a"))
    ema = F.aggregate(
        F.slice(F.col("a"), 2, F.greatest(F.size("a") - 1, F.lit(0))),
        F.element_at("a", 1),
        lambda acc, x: F.lit(EMA_ALPHA) * x + F.lit(1 - EMA_ALPHA) * acc,
    )
    return h2.select(
        "event_type", "hour", F.col("n").alias("n_events"), ema.alias("ema")
    )


ABC_A_SHARE = 0.8  # Pareto class boundaries on cumulative revenue share
ABC_B_SHARE = 0.95
ABC_RANGE_PARTS = 32  # range partitions for the distributed prefix sum


def part_revenue_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) inventory classification — the 80/15/5 revenue-share
    cut every supply-chain warehouse runs: parts ranked by lineitem
    revenue; class A carries the first 80% of cumulative share, B to
    95%, C the tail. Reports per part the revenue, rank, cumulative
    share and class.

    The cumulative sum runs over FIXED-POINT integers (revenue has ≤ 6
    decimal places by construction — it is the exact DECIMAL(18,6) sum
    cast to double — so floor(rev·10⁶ + 0.5) is lossless and < 2⁵³):
    windowed double sums are NOT portable (DuckDB's segment-tree window
    aggregation associates differently from a running fold), integer
    sums are order-free.

    The prefix sum is DISTRIBUTED (VERDICT r4 #1 replaced the global
    single-partition window) via ``operators/prefix_sum.py``: rows are
    bucketed by the ROW-LOCAL IEEE-binade bucket of revenue (r15 —
    monotone in revenue with no boundary pass; it replaced the
    per-invocation ``approxQuantile`` pass, which was a second full
    evaluation of the per-part aggregate), per-bucket totals become
    broadcast prefix offsets (an O(#buckets) control-plane collect),
    and a window PARTITIONED BY bucket computes local running sums.
    Integer addition is associative, so offset + local-cumsum is
    bit-identical to the global running fold the oracle computes. No
    task ever holds more than one binade sub-bucket."""
    li = t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    # r15 (guide §1.2 step 1): the revenue-quantile boundary pass — a
    # second full evaluation of the lineitem aggregate, plus the persist
    # that existed only to share it — is gone; the IEEE-binade bucket is
    # a row-local monotone pid needing no data pass, and the aggregate
    # is evaluated exactly once (inside the prefix sum's tagged build).
    per = li.groupBy("l_partkey").agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
        F.floor(F.sum(rev).cast("double") * F.lit(1e6) + F.lit(0.5))
        .cast("bigint")
        .alias("rev_fp"),
    )
    ranked, tot_fp = distributed_prefix_sum(
        spark,
        per,
        pid=ieee_bucket_desc("revenue"),
        order=[F.col("revenue").desc(), F.col("l_partkey")],
        value_col="rev_fp",
        cum_col="cum_fp",
        rank_col="rank",
    )
    share = F.col("cum_fp").cast("double") / F.lit(tot_fp).cast("double")
    cls = (
        F.when(share <= ABC_A_SHARE, "A")
        .when(share <= ABC_B_SHARE, "B")
        .otherwise("C")
    )
    return ranked.select(
        "l_partkey",
        "revenue",
        "n_lines",
        "rank",
        share.alias("cum_share"),
        cls.alias("abc_class"),
    )


MV_CUTOFF = "2024-01-21"  # events span 2024-01-01..30: 20d snapshot + 10d delta
_MV_DEC = "decimal(28,6)"  # Spark's SUM(decimal(18,6)) result type


def events_daily_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance — the refresh job
    behind every warehouse rollup table: a daily (day, event_type)
    aggregate SNAPSHOT is materialized once for history (ts < cutoff),
    and each refresh aggregates only the DELTA (ts ≥ cutoff) and merges
    it in with a keyed full-outer join — new days insert, overlapping
    days add. The oracle is the FULL recompute over all events, so the
    hash match is a proof that incremental maintenance ≡ recompute.

    Exactness across the merge: the snapshot stores the DECIMAL(28,6)
    partial sums (never doubles), and snapshot+delta addition is exact
    decimal arithmetic — associative, so splitting history at any
    cutoff yields bit-identical totals; the one double cast happens at
    read-out. At 100 TB the merge becomes partition-overwrite of the
    affected day partitions; the plan shape (aggregate the delta only,
    keyed join onto the MV) is unchanged — history is never rescanned.
    The snapshot is a derived layout (``index_store``)."""
    e = t(spark, sf_dir, "events")
    cutoff = F.lit(MV_CUTOFF).cast("timestamp")

    def daily(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_trunc("day", "ts").alias("day"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value")).alias("sv"),
        )

    # the cutoff is part of the content key: a snapshot built at one
    # cutoff double-counts (or drops) the interval between two cutoffs
    # if reused after MV_CUTOFF changes
    snap_path = materialize_once(
        spark,
        "events_daily_mv",
        sf_dir,
        f"{source_fingerprint(sf_dir, 'events')}_{MV_CUTOFF}",
        lambda tmp: daily(e.filter(F.col("ts") < cutoff))
        .write.mode("overwrite")
        .parquet(tmp),
    )
    old = spark.read.parquet(snap_path).select(
        "day", "event_type", F.col("n").alias("n_old"), F.col("sv").alias("sv_old")
    )
    delta = daily(e.filter(F.col("ts") >= cutoff)).select(
        "day", "event_type", F.col("n").alias("n_new"), F.col("sv").alias("sv_new")
    )
    zero_d = F.lit(0).cast(_MV_DEC)
    merged = old.join(delta, ["day", "event_type"], "full_outer")
    return merged.select(
        "day",
        "event_type",
        (
            F.coalesce("n_old", F.lit(0)) + F.coalesce("n_new", F.lit(0))
        ).alias("n_events"),
        (F.coalesce("sv_old", zero_d) + F.coalesce("sv_new", zero_d))
        .cast("double")
        .alias("total_value"),
    )


def star_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema — the nightly
    data-quality report every warehouse runs: per relationship, total
    fact rows, orphan count (fact keys with no dimension row), orphan
    rate, and the smallest orphan key for debugging. The first four
    relationships audit the real tables (this corpus is intact — the
    zeros are the VERIFIED claim, like a passing constraint check); the
    fifth re-audits orders against a deliberately DEGRADED customer
    dimension (every 10th key dropped — a lost dim partition) to prove
    non-vacuously that the probe detects orphans and reports the right
    rate and sample key.

    Scale shape: each relationship is one LEFT equi-join (AQE chooses
    broadcast vs shuffle per dim size) + one hash aggregation; the
    union is of 1-row frames."""

    def audit(rel: str, fact: DataFrame, fk: str, dim: DataFrame, pk: str) -> DataFrame:
        miss = F.col("__pk").isNull()
        return (
            fact.select(F.col(fk).alias("__fk"))
            .join(
                dim.select(F.col(pk).alias("__pk")).distinct(),
                F.col("__fk") == F.col("__pk"),
                "left",
            )
            .agg(
                F.lit(rel).alias("relationship"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.when(miss, 1).otherwise(0)).alias("n_orphans"),
                (
                    F.sum(F.when(miss, 1).otherwise(0)).cast("double")
                    / F.count(F.lit(1)).cast("double")
                ).alias("orphan_rate"),
                F.min(F.when(miss, F.col("__fk"))).alias("min_orphan_key"),
            )
        )

    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    c = t(spark, sf_dir, "customer")
    p = t(spark, sf_dir, "part")
    e = t(spark, sf_dir, "events")
    degraded = c.filter(F.col("c_custkey") % 10 != 0)
    return (
        audit("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey")
        .unionByName(audit("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey"))
        .unionByName(audit("lineitem.l_partkey->part", li, "l_partkey", p, "p_partkey"))
        .unionByName(audit("events.user_id->customer", e, "user_id", c, "c_custkey"))
        .unionByName(
            audit(
                "orders.o_custkey->customer[degraded]",
                o,
                "o_custkey",
                degraded,
                "c_custkey",
            )
        )
    )


def warehouse_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink round-trip — the engine's second columnar format
    (Spark ships an ORC reader/writer with the same predicate-pushdown /
    column-pruning contract as parquet): orders is materialized as an
    ORC table (a derived layout, ``index_store``), read back with a
    declared schema, and aggregated. The oracle computes the identical
    aggregate from the parquet source, so the hash match proves the
    ORC write+read is lossless row-for-row and value-for-value (the
    ``warehouse_compact_roundtrip`` proof shape, pointed at a format)."""
    orc_dir = materialize_once(
        spark,
        "orders_orc",
        sf_dir,
        source_fingerprint(sf_dir, "orders"),
        lambda tmp: t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .write.mode("overwrite")
        .orc(tmp),
    )
    schema = "o_orderkey bigint, o_orderpriority string, o_totalprice double"
    return (
        spark.read.schema(schema)
        .orc(orc_dir)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "total_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


def warehouse_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source/sink round-trip — completing the format matrix
    next to parquet (everywhere), the CSV sink (S5) and the ORC
    round-trip: customer is materialized as a JSON-lines table (a
    derived layout, ``index_store``), read back with a DECLARED schema
    (the S1 no-inference-scan policy), and aggregated; the oracle
    computes the identical aggregate from the parquet source. Doubles
    survive because Spark's JSON writer emits shortest-repr doubles and
    the reader parses to nearest — an exact round-trip — so the hash
    match proves losslessness, not just row counts."""
    json_dir = materialize_once(
        spark,
        "customer_json",
        sf_dir,
        source_fingerprint(sf_dir, "customer"),
        lambda tmp: t(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .write.mode("overwrite")
        .json(tmp),
    )
    schema = "c_custkey bigint, c_mktsegment string, c_acctbal double"
    return (
        spark.read.schema(schema)
        .json(json_dir)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal", "total_acctbal"),
            F.min("c_custkey").alias("min_key"),
            F.max("c_custkey").alias("max_key"),
        )
    )


def warehouse_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source/sink round-trip — the reference's OWN sink format
    (S5) promoted to a verified round-trip, completing the matrix
    (parquet / ORC / JSON-lines / CSV): orders is materialized as
    headered CSV (a derived layout, ``index_store``), read back with a
    DECLARED schema (no inference scan), and aggregated; the oracle
    computes the identical aggregate from the parquet source, so the
    hash match proves the text round-trip is lossless. Doubles survive
    via shortest-repr write + nearest parse (the JSON argument);
    timestamps carry explicit microsecond format on BOTH write and read
    — the default millisecond pattern would silently truncate µs and
    fail the max-timestamp column."""
    ts_fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    csv_dir = materialize_once(
        spark,
        "orders_csv",
        sf_dir,
        source_fingerprint(sf_dir, "orders"),
        lambda tmp: t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate")
        .write.mode("overwrite")
        .option("header", True)
        .option("timestampFormat", ts_fmt)
        .csv(tmp),
    )
    schema = (
        "o_orderkey bigint, o_orderpriority string, "
        "o_totalprice double, o_orderdate timestamp"
    )
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("timestampFormat", ts_fmt)
        .csv(csv_dir)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "total_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
            F.max("o_orderdate").alias("latest_order"),
        )
    )


def _idiv(a, b):
    """Exact integer floor-division for non-negative operands on both
    engines: subtract the remainder first so the double division is of
    an exactly-divisible numerator (no rounding hazard for data-
    dependent divisors), then truncate."""
    return ((a - F.pmod(a, b)) / b).cast("long")


def _spread_bits(x):
    """Interleave-ready bit spread of an 8-bit value into the even bit
    positions of 16 bits (the classic Morton-code magic-mask ladder —
    pure integer ops, identical on any engine)."""
    x = (x.bitwiseOR(F.shiftleft(x, 4))).bitwiseAND(F.lit(0x0F0F))
    x = (x.bitwiseOR(F.shiftleft(x, 2))).bitwiseAND(F.lit(0x3333))
    x = (x.bitwiseOR(F.shiftleft(x, 1))).bitwiseAND(F.lit(0x5555))
    return x


def lineitem_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) data-clustering layout audit — the multi-
    dimensional file-clustering technique behind Delta/Iceberg Z-ORDER.

    Each lineitem row is binned to an 8-bit bucket on BOTH l_partkey
    and l_suppkey (fixed-width range bins over the observed min/max —
    a 1-row bounds broadcast), the two bucket codes are bit-interleaved
    into a 16-bit Morton code, and rows are assigned to 16 files by the
    code's top 4 bits. A 'linear' layout (sort by partkey alone) is
    produced from the SAME scan: one map-side-combined aggregation to
    the ≤256×256 bucket-cell grain, then an exploded 2-struct array
    fans the bounded cell table out to both layouts — one scan, one
    full-width shuffle, constant post-scan work. The per-(layout, file) min/max
    key ranges and normalized span fractions show why z-order wins at
    100 TB: the zorder layout bounds BOTH dimensions per file (every
    file prunable on either predicate column), while the linear layout
    bounds only its sort key and each file spans the full suppkey
    domain. At scale this is the table-maintenance OPTIMIZE job; the
    audit output is the min/max index a scan planner would prune with.
    """
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bounds = li.agg(
        F.min("l_partkey").alias("pmin"),
        F.max("l_partkey").alias("pmax"),
        F.min("l_suppkey").alias("smin"),
        F.max("l_suppkey").alias("smax"),
    )  # 1-row bounds frame (allowlisted broadcast)
    b = li.crossJoin(F.broadcast(bounds))
    pspan = F.col("pmax") - F.col("pmin") + 1
    sspan = F.col("smax") - F.col("smin") + 1
    pb = _idiv((F.col("l_partkey") - F.col("pmin")) * 256, pspan)
    sb = _idiv((F.col("l_suppkey") - F.col("smin")) * 256, sspan)
    # Pre-aggregate at the (pb, sb) bucket-cell grain FIRST: the scan
    # reduces map-side to ≤ 256×256 cells, so the layout explode and
    # both per-file rollups run over the bounded cell table instead of
    # doubling the corpus — at any scale the post-scan work is constant.
    cells = (
        b.groupBy(pb.alias("pb"), sb.alias("sb"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_partkey").alias("cp_min"),
            F.max("l_partkey").alias("cp_max"),
            F.min("l_suppkey").alias("cs_min"),
            F.max("l_suppkey").alias("cs_max"),
            F.min("pmin").alias("pmin"),
            F.min("pmax").alias("pmax"),
            F.min("smin").alias("smin"),
            F.min("smax").alias("smax"),
        )
    )
    z = _spread_bits(F.col("pb")).bitwiseOR(
        F.shiftleft(_spread_bits(F.col("sb")), 1)
    )
    pair = F.explode(
        F.array(
            F.struct(
                F.lit("zorder").alias("layout"),
                _idiv(z, F.lit(4096)).alias("file_id"),
            ),
            F.struct(
                F.lit("linear").alias("layout"),
                _idiv(F.col("pb"), F.lit(16)).alias("file_id"),
            ),
        )
    )
    return (
        cells.select(
            "n", "cp_min", "cp_max", "cs_min", "cs_max",
            "pmax", "pmin", "smax", "smin", pair.alias("lf"),
        )
        .groupBy(F.col("lf.layout").alias("layout"),
                 F.col("lf.file_id").alias("file_id"))
        .agg(
            F.sum("n").alias("n_rows"),
            F.min("cp_min").alias("p_min"),
            F.max("cp_max").alias("p_max"),
            F.min("cs_min").alias("s_min"),
            F.max("cs_max").alias("s_max"),
            F.min("pmin").alias("_pmin"),
            F.min("pmax").alias("_pmax"),
            F.min("smin").alias("_smin"),
            F.min("smax").alias("_smax"),
        )
        .select(
            "layout",
            "file_id",
            "n_rows",
            "p_min",
            "p_max",
            "s_min",
            "s_max",
            (
                (F.col("p_max") - F.col("p_min") + 1).cast("double")
                / (F.col("_pmax") - F.col("_pmin") + 1).cast("double")
            ).alias("p_span_frac"),
            (
                (F.col("s_max") - F.col("s_min") + 1).cast("double")
                / (F.col("_smax") - F.col("_smin") + 1).cast("double")
            ).alias("s_span_frac"),
        )
    )


QUERIES = {
    "orders_merge_upsert": orders_merge_upsert,
    "lineitem_zorder_layout": lineitem_zorder_layout,
    "warehouse_compact_roundtrip": warehouse_compact_roundtrip,
    "warehouse_orc_roundtrip": warehouse_orc_roundtrip,
    "warehouse_json_roundtrip": warehouse_json_roundtrip,
    "warehouse_csv_roundtrip": warehouse_csv_roundtrip,
    "star_fk_integrity": star_fk_integrity,
    "events_gapfill_locf": events_gapfill_locf,
    "dim_scd2_upsert": dim_scd2_upsert,
    "events_approx_percentile_bound": events_approx_percentile_bound,
    "events_funnel": events_funnel,
    "events_cohort_retention": events_cohort_retention,
    "lineitem_unpivot": lineitem_unpivot,
    "customer_rfm_segments": customer_rfm_segments,
    "part_affinity": part_affinity,
    "part_affinity_triples": part_affinity_triples,
    "events_value_distribution": events_value_distribution,
    "events_zscore_outliers": events_zscore_outliers,
    "events_value_histogram": events_value_histogram,
    "events_markov_transitions": events_markov_transitions,
    "events_active_streaks": events_active_streaks,
    "events_daily_mv_refresh": events_daily_mv_refresh,
    "events_ema_smoothing": events_ema_smoothing,
    "events_seasonal_naive_eval": events_seasonal_naive_eval,
    "events_stl_decompose": events_stl_decompose,
    "events_stl_residual_anomaly": events_stl_residual_anomaly,
    "part_revenue_abc": part_revenue_abc,
    "events_peak_detection": events_peak_detection,
    "events_cusum_drift": events_cusum_drift,
    "orders_open_backlog": orders_open_backlog,
    "doc_tfidf_top_terms": doc_tfidf_top_terms,
    "events_asof_forward": events_asof_forward,
}

def _fk_audit_sql(rel: str, fact: str, fk: str, dim: str, pk: str) -> str:
    return f"""
        SELECT '{rel}' AS relationship,
               count(1) AS n_rows,
               CAST(SUM(CASE WHEN d.{pk} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_orphans,
               CAST(SUM(CASE WHEN d.{pk} IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(count(1) AS DOUBLE) AS orphan_rate,
               min(CASE WHEN d.{pk} IS NULL THEN f.{fk} END) AS min_orphan_key
        FROM {fact} f LEFT JOIN (SELECT DISTINCT {pk} FROM {dim}) d
          ON f.{fk} = d.{pk}
    """


ORACLES = {
    "star_fk_integrity": " UNION ALL ".join(
        [
            _fk_audit_sql(
                "orders.o_custkey->customer",
                "orders", "o_custkey", "customer", "c_custkey",
            ),
            _fk_audit_sql(
                "lineitem.l_orderkey->orders",
                "lineitem", "l_orderkey", "orders", "o_orderkey",
            ),
            _fk_audit_sql(
                "lineitem.l_partkey->part",
                "lineitem", "l_partkey", "part", "p_partkey",
            ),
            _fk_audit_sql(
                "events.user_id->customer",
                "events", "user_id", "customer", "c_custkey",
            ),
            _fk_audit_sql(
                "orders.o_custkey->customer[degraded]",
                "orders", "o_custkey",
                "(SELECT * FROM customer WHERE c_custkey % 10 <> 0)",
                "c_custkey",
            ),
        ]
    ),
    "warehouse_orc_roundtrip": """
        SELECT o_orderpriority,
               count(1) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                 AS total_price,
               min(o_orderkey) AS min_key,
               max(o_orderkey) AS max_key
        FROM orders GROUP BY 1
    """,
    "warehouse_json_roundtrip": """
        SELECT c_mktsegment,
               count(1) AS n_customers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                 AS total_acctbal,
               min(c_custkey) AS min_key,
               max(c_custkey) AS max_key
        FROM customer GROUP BY 1
    """,
    "warehouse_csv_roundtrip": """
        SELECT o_orderpriority,
               count(1) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                 AS total_price,
               min(o_orderkey) AS min_key,
               max(o_orderkey) AS max_key,
               max(o_orderdate) AS latest_order
        FROM orders GROUP BY 1
    """,
    "warehouse_compact_roundtrip": """
        SELECT o_orderstatus,
               count(1) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                 AS total_price,
               min(o_orderkey) AS min_key,
               max(o_orderkey) AS max_key
        FROM orders GROUP BY 1
    """,
    "orders_merge_upsert": """
        WITH o AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
        chg AS (
          SELECT o_orderkey,
                 o_totalprice + CAST(100.0 AS DOUBLE) AS o_totalprice,
                 o_orderstatus, FALSE AS del
          FROM o WHERE o_orderkey % 7 = 0 AND o_orderkey % 13 <> 0
          UNION ALL
          SELECT o_orderkey, o_totalprice, o_orderstatus, TRUE
          FROM o WHERE o_orderkey % 13 = 0
          UNION ALL
          SELECT -o_orderkey, o_totalprice, o_orderstatus, FALSE
          FROM o WHERE o_orderkey % 11 = 0
        )
        SELECT coalesce(c.o_orderkey, o.o_orderkey) AS o_orderkey,
               CASE WHEN c.o_orderkey IS NOT NULL THEN c.o_totalprice
                    ELSE o.o_totalprice END AS o_totalprice,
               CASE WHEN c.o_orderkey IS NOT NULL THEN c.o_orderstatus
                    ELSE o.o_orderstatus END AS o_orderstatus
        FROM o FULL JOIN chg c ON o.o_orderkey = c.o_orderkey
        WHERE NOT coalesce(c.del, FALSE)
    """,
    "dim_scd2_upsert": """
        WITH chg AS (
          SELECT o.o_custkey AS c_custkey, max(o.o_orderdate) AS change_ts
          FROM orders o
          WHERE o.o_orderdate >= TIMESTAMP '1998-01-01' GROUP BY 1
        )
        SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal,
               TIMESTAMP '1995-01-01' AS valid_from,
               CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
        FROM customer c LEFT JOIN chg USING (c_custkey)
        WHERE chg.change_ts IS NULL
        UNION ALL
        SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal,
               TIMESTAMP '1995-01-01' AS valid_from,
               chg.change_ts AS valid_to, FALSE AS is_current
        FROM customer c JOIN chg USING (c_custkey)
        UNION ALL
        SELECT c.c_custkey, 'UPDATED' AS c_mktsegment, c.c_acctbal,
               chg.change_ts AS valid_from,
               CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
        FROM customer c JOIN chg USING (c_custkey)
    """,
    "events_approx_percentile_bound": """
        SELECT event_type,
               quantile_cont(value, 0.5) AS p50,
               quantile_cont(value, 0.95) AS p95,
               TRUE AS approx_within_5pct
        FROM events GROUP BY 1
    """,
    "events_gapfill_locf": """
        WITH hourly AS (
          SELECT date_trunc('hour', ts) AS hour, event_type,
                 count(1) AS n, SUM(CAST(value AS DECIMAL(18,6))) AS sv
          FROM events GROUP BY 1, 2
        ),
        bounds AS (
          SELECT event_type, min(hour) AS h0, max(hour) AS h1 FROM hourly GROUP BY 1
        ),
        spine AS (
          SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
          FROM bounds
        )
        SELECT s.event_type, CAST(s.hour AS TIMESTAMP) AS hour,
               COALESCE(h.n, 0) AS n_events,
               CAST(last_value(h.sv IGNORE NULLS) OVER (
                      PARTITION BY s.event_type ORDER BY s.hour
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 AS locf_value
        FROM spine s
        LEFT JOIN hourly h ON s.event_type = h.event_type AND s.hour = h.hour
    """,
    "events_funnel": """
        WITH s1 AS (
          SELECT user_id, min(ts) AS t1 FROM events
          WHERE event_type = 'view' GROUP BY 1
        ),
        s2 AS (
          SELECT e.user_id, min(e.ts) AS t2
          FROM events e JOIN s1 USING (user_id)
          WHERE e.event_type = 'click' AND e.ts >= s1.t1 GROUP BY 1
        ),
        s3 AS (
          SELECT e.user_id, min(e.ts) AS t3
          FROM events e JOIN s2 USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts >= s2.t2 GROUP BY 1
        )
        SELECT (SELECT count(1) FROM s1) AS n_view,
               (SELECT count(1) FROM s2) AS n_click_after_view,
               (SELECT count(1) FROM s3) AS n_purchase_after_click
    """,
    "events_cohort_retention": """
        WITH firsts AS (
          SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
          FROM events GROUP BY 1
        )
        SELECT CAST(f.cohort_day AS TIMESTAMP) AS cohort_day,
               CAST(datediff('day', f.cohort_day, date_trunc('day', e.ts)) AS INT)
                 AS day_offset,
               count(DISTINCT e.user_id) AS n_users
        FROM events e JOIN firsts f USING (user_id)
        GROUP BY 1, 2
    """,
    "lineitem_unpivot": """
        WITH long AS (
          SELECT 'l_quantity' AS measure, l_quantity AS val FROM lineitem
          UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
          UNION ALL SELECT 'l_discount', l_discount FROM lineitem
          UNION ALL SELECT 'l_tax', l_tax FROM lineitem
        )
        SELECT measure, count(1) AS n,
               CAST(SUM(CAST(val AS DECIMAL(18,6))) AS DOUBLE) AS total
        FROM long GROUP BY 1
    """,
    "events_value_distribution": """
        SELECT event_id, event_type, value,
               ntile(4)       OVER w AS quartile,
               cume_dist()    OVER w AS cume_dist,
               percent_rank() OVER w AS pct_rank
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    """,
    "events_zscore_outliers": """
        WITH stats AS (
          SELECT event_type, count(1) AS n,
                 CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s,
                 CAST(SUM(CAST(value AS DECIMAL(12,2))
                          * CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS ss
          FROM events GROUP BY 1
        )
        SELECT e.event_id, e.event_type, e.value,
               (e.value - s / n) / sqrt(ss / n - (s / n) * (s / n)) AS z
        FROM events e JOIN stats USING (event_type)
        WHERE abs((e.value - s / n) / sqrt(ss / n - (s / n) * (s / n))) > 3.0
    """,
    "events_value_histogram": """
        SELECT event_type, CAST(floor(value / 10.0) AS BIGINT) AS bin,
               count(1) AS n, min(value) AS lo, max(value) AS hi
        FROM events GROUP BY 1, 2
    """,
    "doc_tfidf_top_terms": f"""
        WITH tok AS (
          SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
        ),
        tf AS (
          SELECT doc_id, term, count(1) AS tf FROM tok GROUP BY 1, 2
        ),
        dfreq AS (
          SELECT term, count(1) AS df FROM tf GROUP BY 1
        ),
        total AS (SELECT count(1) AS n_docs FROM documents),
        scored AS (
          SELECT doc_id, term, tf,
                 CAST(tf AS DOUBLE)
                   * round(ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 9)
                   AS tfidf
          FROM tf JOIN dfreq USING (term) CROSS JOIN total
        )
        SELECT doc_id, term, tf, tfidf FROM (
          SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, term) AS rk
          FROM scored
        ) WHERE rk <= 5
    """,
    "events_asof_forward": """
        SELECT v.event_id, v.user_id, v.ts, p.next_purchase_value
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'view') v
        LEFT JOIN LATERAL (
          SELECT value AS next_purchase_value FROM events p
          WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
            AND p.ts >= v.ts
          ORDER BY p.ts, p.event_id LIMIT 1
        ) p ON TRUE
    """,
}

def _rfm_quintile_sql(col: str) -> str:
    terms = " + ".join(
        f"(CASE WHEN CAST({col} AS DOUBLE) > q._{col}_{p} THEN 1 ELSE 0 END)"
        for p in (20, 40, 60, 80)
    )
    return f"CAST(1 + {terms} AS INT)"


_RFM_QS = ",\n             ".join(
    f"quantile_cont(CAST({c} AS DOUBLE), {p / 100}) AS _{c}_{p}"
    for c in ("recency_days", "frequency", "monetary")
    for p in (20, 40, 60, 80)
)

ORACLES["customer_rfm_segments"] = f"""
    WITH per_cust AS MATERIALIZED (
      SELECT o_custkey AS c_custkey,
             date_diff('day', max(o_orderdate),
                       (SELECT max(o_orderdate) FROM orders)) AS recency_days,
             CAST(count(1) AS BIGINT) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY 1
    ),
    q AS (
      SELECT {_RFM_QS}
      FROM per_cust
    )
    SELECT c_custkey,
           CAST(recency_days AS INT) AS recency_days,
           frequency, monetary,
           {_rfm_quintile_sql("recency_days")} AS r_quintile,
           {_rfm_quintile_sql("frequency")} AS f_quintile,
           {_rfm_quintile_sql("monetary")} AS m_quintile,
           CAST({_rfm_quintile_sql("recency_days")} AS VARCHAR)
             || CAST({_rfm_quintile_sql("frequency")} AS VARCHAR)
             || CAST({_rfm_quintile_sql("monetary")} AS VARCHAR) AS segment
    FROM per_cust CROSS JOIN q
"""

ORACLES["part_affinity"] = f"""
    WITH op AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM op),
    supp AS (
      SELECT l_partkey, CAST(count(1) AS BIGINT) AS n_part FROM op GROUP BY 1
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(count(1) AS BIGINT) AS n_both
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(1) >= {AFFINITY_MIN_BOTH}
    )
    SELECT p.part_a, p.part_b, p.n_both,
           sa.n_part AS n_a, sb.n_part AS n_b,
           CAST(p.n_both * n.n_orders AS DOUBLE)
             / CAST(sa.n_part * sb.n_part AS DOUBLE) AS lift
    FROM pairs p
    JOIN supp sa ON sa.l_partkey = p.part_a
    JOIN supp sb ON sb.l_partkey = p.part_b
    CROSS JOIN n
"""

# Mirror of events_markov_transitions: same lead window and total order,
# integer-exact normalizer (window SUM of BIGINT counts).
ORACLES["events_markov_transitions"] = """
    WITH seq AS (
      SELECT event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    c AS (
      SELECT event_type AS from_type, next_type AS to_type,
             count(1) AS n_transitions
      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, n_transitions,
           CAST(n_transitions AS DOUBLE)
             / CAST(sum(n_transitions) OVER (PARTITION BY from_type)
                    AS DOUBLE) AS prob
    FROM c
"""

# Mirror of events_active_streaks: same integer island key off the same
# fixed anchor, TIMESTAMP days, two-level aggregation.
ORACLES["events_active_streaks"] = f"""
    WITH days AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
      FROM events
    ),
    i AS (
      SELECT user_id, day,
             date_diff('day', TIMESTAMP '{STREAK_EPOCH}', day)
               - row_number() OVER (PARTITION BY user_id ORDER BY day)
               AS grp
      FROM days
    ),
    s AS (
      SELECT user_id, grp, count(1) AS len, max(day) AS end_day
      FROM i GROUP BY 1, 2
    )
    SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
           count(1) AS n_streaks,
           CAST(max(len) AS BIGINT) AS longest_streak,
           max(end_day) AS last_active_day
    FROM s GROUP BY 1
"""

# Oracle for events_daily_mv_refresh: the FULL recompute — the hash
# match proves snapshot+delta maintenance equals rescanning everything.
ORACLES["events_daily_mv_refresh"] = """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
           count(1) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
"""

# Mirror of events_ema_smoothing: same ordered 24-row frame list, same
# left fold — list_reduce seeds with the first element exactly like
# F.aggregate(slice(2..), element_at(1)), and both engines execute the
# identical alpha*x + (1-alpha)*acc IEEE sequence.
ORACLES["events_ema_smoothing"] = f"""
    WITH hourly AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
             event_type, count(1) AS n
      FROM events GROUP BY 1, 2
    ),
    arr AS (
      SELECT event_type, hour, n,
             list(CAST(n AS DOUBLE)) OVER (
               PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN {EMA_WINDOW - 1} PRECEDING AND CURRENT ROW
             ) AS a
      FROM hourly
    )
    SELECT event_type, hour, n AS n_events,
           list_reduce(a, (acc, x) -> {EMA_ALPHA}*x + {1 - EMA_ALPHA}*acc)
             AS ema
    FROM arr
"""

# Mirror of events_seasonal_naive_eval: identical shifted self-join
# (exact under missing hours), integer errors, one final double divide.
ORACLES["events_seasonal_naive_eval"] = f"""
    WITH hourly AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
             event_type, count(1) AS n
      FROM events GROUP BY 1, 2
    ),
    h AS (
      SELECT a.event_type, a.n, p.n AS pred
      FROM hourly a
      JOIN hourly p ON p.event_type = a.event_type
                   AND p.hour + INTERVAL {SEASON_LAG_HOURS} HOUR = a.hour
    )
    SELECT event_type, count(1) AS n_hours,
           CAST(sum(abs(n - pred)) AS DOUBLE)
             / CAST(count(1) AS DOUBLE) AS mae,
           sqrt(CAST(sum((n - pred) * (n - pred)) AS DOUBLE)
                / CAST(count(1) AS DOUBLE)) AS rmse,
           CAST(sum(n - pred) AS DOUBLE)
             / CAST(count(1) AS DOUBLE) AS bias
    FROM h GROUP BY 1
"""

# Mirror of part_revenue_abc: same decimal-exact per-part revenue,
# lossless fixed-point cumulative window (ROWS frame), 1-row total.
ORACLES["part_revenue_abc"] = f"""
    WITH per AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
             count(1) AS n_lines
      FROM lineitem GROUP BY 1
    ),
    fp AS (
      SELECT *, CAST(floor(revenue * 1000000.0 + 0.5) AS BIGINT) AS rev_fp
      FROM per
    ),
    c AS (
      SELECT *,
             SUM(rev_fp) OVER (ORDER BY revenue DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_fp,
             row_number() OVER (ORDER BY revenue DESC, l_partkey) AS rank,
             (SELECT CAST(sum(rev_fp) AS BIGINT) FROM fp) AS tot_fp
      FROM fp
    )
    SELECT l_partkey, revenue, n_lines, rank,
           CAST(cum_fp AS DOUBLE) / CAST(tot_fp AS DOUBLE) AS cum_share,
           CASE WHEN CAST(cum_fp AS DOUBLE) / CAST(tot_fp AS DOUBLE)
                     <= {ABC_A_SHARE} THEN 'A'
                WHEN CAST(cum_fp AS DOUBLE) / CAST(tot_fp AS DOUBLE)
                     <= {ABC_B_SHARE} THEN 'B'
                ELSE 'C' END AS abc_class
    FROM c
"""

# Mirror of events_peak_detection: same strict two-sided comparison;
# NULL neighbors (series endpoints) never qualify in either engine.
ORACLES["events_peak_detection"] = """
    WITH hourly AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
             event_type, count(1) AS n
      FROM events GROUP BY 1, 2
    ),
    h AS (
      SELECT *,
             lag(n) OVER (PARTITION BY event_type ORDER BY hour) AS prev,
             lead(n) OVER (PARTITION BY event_type ORDER BY hour) AS nxt
      FROM hourly
    )
    SELECT event_type, hour, n AS n_events,
           n - greatest(prev, nxt) AS prominence
    FROM h WHERE n > prev AND n > nxt
"""

# Mirror of events_cusum_drift's scaled-integer identity: C' running
# sum, prefix-min clamp, one double division at read-out. The window
# sums stay BIGINT (cast pinned) so the hash is partition-independent.
ORACLES["events_cusum_drift"] = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(1) AS n_events
      FROM events GROUP BY 1, 2
    ),
    per_type AS (
      SELECT event_type, count(1) AS n,
             CAST(sum(n_events) AS BIGINT) AS total
      FROM daily GROUP BY 1
    ),
    c AS (
      SELECT d.event_type, d.day, d.n_events, p.n, p.total,
             CAST(SUM(d.n_events * p.n - p.total) OVER (
               PARTITION BY d.event_type ORDER BY d.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cp
      FROM daily d JOIN per_type p USING (event_type)
    ),
    s AS (
      SELECT *, cp - least(CAST(0 AS BIGINT), MIN(cp) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             )) AS sp
      FROM c
    )
    SELECT event_type, day, n_events,
           CAST(sp AS DOUBLE) / n AS cusum,
           sp > 3 * total AS drift
    FROM s
"""

# Mirror of orders_open_backlog: same +1/-1 delta events (close day + 1
# via interval arithmetic), per-day aggregation, running integer sum.
ORACLES["orders_open_backlog"] = """
    WITH spans AS (
      SELECT o.o_orderdate AS start_day,
             greatest(coalesce(ls.last_ship, o.o_orderdate),
                      o.o_orderdate) + INTERVAL 1 DAY AS end_day
      FROM orders o
      LEFT JOIN (SELECT l_orderkey, max(l_shipdate) AS last_ship
                 FROM lineitem GROUP BY 1) ls
        ON o.o_orderkey = ls.l_orderkey
    ),
    deltas AS (
      SELECT day, CAST(sum(d) AS BIGINT) AS delta FROM (
        SELECT start_day AS day, 1 AS d FROM spans
        UNION ALL
        SELECT end_day AS day, -1 AS d FROM spans
      ) GROUP BY 1
    )
    SELECT day, delta,
           CAST(SUM(delta) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS n_open_orders
    FROM deltas
"""


def _spread_sql(e: str) -> str:
    """DuckDB twin of _spread_bits: the Morton magic-mask ladder."""
    s1 = f"(({e} | ({e} << 4)) & 3855)"
    s2 = f"(({s1} | ({s1} << 2)) & 13107)"
    return f"(({s2} | ({s2} << 1)) & 21845)"


# Mirror of lineitem_zorder_layout: same range bins (integer floor
# division), same bit-interleave ladder, UNION ALL for the two layouts.
ORACLES["lineitem_zorder_layout"] = f"""
    WITH bounds AS (
      SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
             min(l_suppkey) AS smin, max(l_suppkey) AS smax
      FROM lineitem
    ),
    b AS (
      SELECT l_partkey, l_suppkey, pmin, pmax, smin, smax,
             ((l_partkey - pmin) * 256) // (pmax - pmin + 1) AS pb,
             ((l_suppkey - smin) * 256) // (smax - smin + 1) AS sb
      FROM lineitem CROSS JOIN bounds
    ),
    coded AS (
      SELECT *,
             ({_spread_sql("pb")} | ({_spread_sql("sb")} << 1)) AS z
      FROM b
    ),
    pairs AS (
      SELECT 'zorder' AS layout, z // 4096 AS file_id, * FROM coded
      UNION ALL
      SELECT 'linear' AS layout, pb // 16 AS file_id, * FROM coded
    )
    SELECT layout, file_id,
           count(1) AS n_rows,
           min(l_partkey) AS p_min, max(l_partkey) AS p_max,
           min(l_suppkey) AS s_min, max(l_suppkey) AS s_max,
           CAST(max(l_partkey) - min(l_partkey) + 1 AS DOUBLE)
             / CAST(min(pmax) - min(pmin) + 1 AS DOUBLE) AS p_span_frac,
           CAST(max(l_suppkey) - min(l_suppkey) + 1 AS DOUBLE)
             / CAST(min(smax) - min(smin) + 1 AS DOUBLE) AS s_span_frac
    FROM pairs
    GROUP BY 1, 2
"""

# Mirror of events_stl_decompose: identical integer core (micro-unit
# daily sums, undivided 7-row trend sums, 7·v − Σ₇ detrended integers,
# (Σ, n) day-of-week pairs) and identical final double expressions.
ORACLES["events_stl_decompose"] = f"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS v_u
      FROM events GROUP BY 1, 2
    ),
    tr AS (
      SELECT event_type, day, v_u,
             CASE WHEN count(1) OVER w = {STL_PERIOD}
                  THEN CAST(sum(v_u) OVER w AS BIGINT) END AS sum7_u,
             date_diff('day', DATE '2024-01-01', CAST(day AS DATE))
               % {STL_PERIOD} AS dow
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {STL_PERIOD // 2} PRECEDING
                            AND {STL_PERIOD // 2} FOLLOWING)
    ),
    seas AS (
      SELECT event_type, dow,
             CAST(sum({STL_PERIOD} * v_u - sum7_u) AS BIGINT) AS s_u,
             count(1) AS n_dow
      FROM tr WHERE sum7_u IS NOT NULL GROUP BY 1, 2
    )
    SELECT tr.event_type, tr.day,
           CAST(tr.v_u AS DOUBLE) / 1e6 AS value,
           CAST(tr.sum7_u AS DOUBLE) / 7e6 AS trend,
           CAST(seas.s_u AS DOUBLE)
             / (7e6 * CAST(seas.n_dow AS DOUBLE)) AS seasonal,
           CAST(tr.v_u AS DOUBLE) / 1e6 - CAST(tr.sum7_u AS DOUBLE) / 7e6
             - CAST(seas.s_u AS DOUBLE)
                 / (7e6 * CAST(seas.n_dow AS DOUBLE)) AS residual
    FROM tr
    LEFT JOIN seas ON seas.event_type = tr.event_type AND seas.dow = tr.dow
"""


# Mirror of events_stl_residual_anomaly: the STL oracle as a CTE,
# quantile_cont for the exact medians (the verified percentile pairing),
# identical per-row robust-z expression.
ORACLES["events_stl_residual_anomaly"] = f"""
    WITH stl AS MATERIALIZED ({ORACLES["events_stl_decompose"]}),
    d AS (SELECT * FROM stl WHERE residual IS NOT NULL),
    med AS (
      SELECT event_type, quantile_cont(residual, 0.5) AS med
      FROM d GROUP BY 1
    ),
    dev AS (
      SELECT d.event_type, d.day, d.value, d.residual, med.med,
             abs(d.residual - med.med) AS adev
      FROM d JOIN med ON med.event_type = d.event_type
    ),
    mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY 1
    )
    SELECT dev.event_type, dev.day, dev.value, dev.residual,
           CASE WHEN mad.mad > 0
                THEN dev.adev / (1.4826 * mad.mad) END AS robust_z
    FROM dev JOIN mad ON mad.event_type = dev.event_type
    WHERE CASE WHEN mad.mad > 0
               THEN dev.adev / (1.4826 * mad.mad) END > {STL_ANOM_Z}
"""


# Mirror of part_affinity_triples: same distinct (order, part) base,
# frequent pairs, Apriori-pruned candidate triples, support filter.
ORACLES["part_affinity_triples"] = f"""
    WITH op AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS okey, l_partkey AS p FROM lineitem
    ),
    pairs AS MATERIALIZED (
      SELECT a.p AS pa, b.p AS pb, count(1) AS n_ab
      FROM op a JOIN op b ON a.okey = b.okey AND a.p < b.p
      GROUP BY 1, 2 HAVING count(1) >= {AFFINITY_MIN_BOTH}
    ),
    po AS (
      SELECT a.okey, a.p AS pa, b.p AS pb
      FROM op a JOIN op b ON a.okey = b.okey AND a.p < b.p
      WHERE EXISTS (SELECT 1 FROM pairs f WHERE f.pa = a.p AND f.pb = b.p)
    ),
    cand AS (
      SELECT po.pa, po.pb, c.p AS pc
      FROM po JOIN op c ON c.okey = po.okey AND c.p > po.pb
      WHERE EXISTS (SELECT 1 FROM pairs f WHERE f.pa = po.pa AND f.pb = c.p)
        AND EXISTS (SELECT 1 FROM pairs f WHERE f.pa = po.pb AND f.pb = c.p)
    ),
    tri AS (
      SELECT pa, pb, pc, count(1) AS n_abc
      FROM cand GROUP BY 1, 2, 3 HAVING count(1) >= {AFFINITY_MIN_BOTH}
    )
    SELECT tri.pa AS part_a, tri.pb AS part_b, tri.pc AS part_c,
           tri.n_abc, ab.n_ab, ac.n_ab AS n_ac, bc.n_ab AS n_bc,
           CAST(tri.n_abc AS DOUBLE) / CAST(ab.n_ab AS DOUBLE) AS conf_ab_c
    FROM tri
    JOIN pairs ab ON ab.pa = tri.pa AND ab.pb = tri.pb
    JOIN pairs ac ON ac.pa = tri.pa AND ac.pb = tri.pc
    JOIN pairs bc ON bc.pa = tri.pb AND bc.pb = tri.pc
"""
