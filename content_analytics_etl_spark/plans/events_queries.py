"""Event-stream analytics, batch form (SURVEY.md §7 Phase 3).

The reference's only notion of time is its file-per-day layout (S3);
a real engine needs first-class event-time operators. These are the
batch-executable (and therefore DuckDB-oracle-checkable) versions of the
streaming queries in ``streaming/`` — identical window semantics, so the
oracle that validates these validates the streaming logic too.

Scale notes: tumbling/sliding windows are plain hash aggregations keyed
by (window, type) — no global state. Sessionization partitions by
user_id (the natural shuffle key) and uses lag+cumsum, one window pass,
no per-user driver loops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..frames import local_frame
from ..functions.hashing import loglog_reg_rho
from ..operators.prefix_sum import distributed_prefix_sum, ieee_bucket_asc
from ..sources.writers import write_parquet_partitioned
from ..index_store import materialize_once, source_fingerprint
from ._util import dec, dsum, rank_limited, t

SESSION_GAP_SECONDS = 1800  # 30 min


def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event type."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 1-hour length, 15-minute slide (each event lands
    in exactly 4 windows)."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "n_events",
            "total_value",
        )
    )


def events_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity), batch form:
    lag → new-session flag → running sum = session number → aggregate.
    One shuffle on user_id; the same semantics as
    ``streaming.session_windows`` (F.session_window) in streaming mode."""
    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.withColumn(
        "new_sess",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                (F.col("ts").cast("double") - F.lag("ts").over(w).cast("double"))
                > SESSION_GAP_SECONDS
            ),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_no",
        F.sum("new_sess").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return sessions.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "total_value"),
    )


def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON prop extraction (get_json_object) + per-type stats over the
    extracted value."""
    e = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum("k").alias("sum_k"),
        )
    )


def events_type_hourly_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day × event-type activity matrix (explicit pivot values)."""
    e = t(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    wide = (
        e.withColumn("hour_of_day", F.hour("ts"))
        .groupBy("hour_of_day")
        .pivot("event_type", types)
        .count()
        .na.fill(0, subset=types)
    )
    return wide.select(
        "hour_of_day",
        *[F.col(c).alias(f"n_{c}") for c in types],
    )


def events_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based distinct counting next to the exact answer. At
    100 TB ``approx_count_distinct`` (HyperLogLog++, mergeable partial
    sketches, O(1) state) replaces the exact expand-distinct shuffle;
    here the exact count rides along and the sketch is asserted within
    5% of it — the oracle checks the exact column and the bound (HLL
    internals differ per engine, so the raw estimate itself is not
    cross-engine comparable)."""
    e = t(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", 0.02).alias("_approx"),
    )
    err_ok = (
        F.abs(F.col("_approx") - F.col("exact_users"))
        / F.col("exact_users").cast("double")
        <= 0.05
    )
    return agg.select("event_type", "exact_users", err_ok.alias("approx_within_5pct"))


def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of value per event type (the
    sort-based exact form; ``approx_percentile`` is the sketch
    replacement at scale, same call shape)."""
    e = t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("p50"),
        F.percentile("value", 0.95).alias("p95"),
    )


def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outliers by median absolute deviation — the
    non-parametric twin of events_zscore_outliers (mean/stddev moments
    are themselves dragged by the outliers they hunt; median/MAD are
    50%-breakdown robust). Flags events with
    |value − med| / (1.4826·MAD) > 3.5 per event type.

    Two exact percentile aggregations (the same Spark `percentile` ↔
    DuckDB `quantile_cont` pairing events_value_percentiles verified
    hash-exact), each producing a 5-row relation broadcast back onto
    the stream; scoring is per-row IEEE arithmetic. At scale the exact
    percentiles swap for approx_percentile sketches (same call shape —
    see events_approx_percentile_bound for the accuracy audit)."""
    e = t(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(F.percentile("value", 0.5).alias("med"))
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(F.percentile("adev", 0.5).alias("mad"))
    z = F.col("adev") / (F.lit(1.4826) * F.col("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(z > 3.5)
        .select("event_id", "event_type", "value", "med", "mad", z.alias("robust_z"))
    )


def events_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing 1-hour stats per user — a RANGE frame over
    event time (vs the ROWS frames elsewhere): every event sees the
    count/value-sum of its user's events in (ts − 1 h, ts]. One shuffle
    on user_id + one ordered frame scan, the standard 'rolling feature'
    shape for training-data pipelines."""
    e = t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)  # µs, inclusive both ends
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("trailing_n"),
        F.sum(dec("value")).over(w).cast("double").alias("trailing_value"),
    )


def events_daily_from_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style cascaded rollup: daily per-type stats computed
    FROM the hourly rollup (sum-of-sums, min-of-mins, count-of-counts) —
    the continuous-aggregate pattern where a materialized fine-grain
    rollup answers every coarser grain without rescanning raw events.
    At 100 TB the hourly table is ~5 orders of magnitude smaller than
    raw; correctness rests on aggregate decomposability, which this
    query's oracle (direct daily over raw) proves exactly."""
    e = t(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("value")).alias("sv"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    )
    return (
        hourly.groupBy(F.date_trunc("day", "hour").alias("day"), "event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("sv").cast("double").alias("total_value"),
            F.min("mn").alias("min_value"),
            F.max("mx").alias("max_value"),
        )
    )


PRUNE_START, PRUNE_END = "2024-01-10", "2024-01-12"


def _partitioned_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """Date-partitioned ``events``, a derived layout (``index_store``).
    This is the Phase-2 layout the engine replaces the reference's
    filename arithmetic with — the partition column is a real hive-style
    directory key, so Catalyst prunes out-of-range days at planning
    time."""
    return materialize_once(
        spark,
        "events_by_date",
        sf_dir,
        source_fingerprint(sf_dir, "events"),
        lambda tmp: write_parquet_partitioned(
            t(spark, sf_dir, "events").withColumn("date", F.to_date("ts")),
            tmp,
            "date",
        ),
    )


def events_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-bounded daily rollup over the partitioned layout: the
    ``between`` on the partition column shows up as PartitionFilters in
    the physical plan (asserted in tests/test_partitioned_layout.py for
    this exact query), so 3 of 30 day-directories are read — the I/O
    contract that matters most at 100 TB, where a date-bounded query
    must never scan the other 97% of the table."""
    src = _partitioned_events_dir(spark, sf_dir)
    return (
        spark.read.parquet(src)
        .filter(F.col("date").between(PRUNE_START, PRUNE_END))
        .groupBy("date", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
    )


def events_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton curve) layout audit — the multi-dimensional
    clustering key behind Delta/Iceberg ``OPTIMIZE ZORDER BY``: at
    100 TB, files sorted by the interleaved key give min/max-based scan
    pruning on BOTH dimensions at once, where a plain sort prunes only
    its leading column. Each event maps to an 8-bit (user, value)
    cell, the 16-bit Morton key interleaves the bits, and rows are
    grouped into the 16 static top-4-bit key ranges — the per-range
    min/max spans this returns are exactly the file-skipping statistics
    a writer sorted by ``z`` would publish (each range covers a 64-wide
    span of both dimensions, not the full domain).

    Static key-prefix ranges, not ``ntile``: the bucket id is pure
    per-row arithmetic, so the whole query is one scan + one hash
    aggregation — no global sort, no single-partition exchange."""
    e = t(spark, sf_dir, "events")
    du = (F.col("user_id") % 256).cast("int")
    dv = F.greatest(
        F.lit(0), F.least(F.lit(255), F.floor(F.col("value") / 2).cast("int"))
    )
    d = e.select(du.alias("du"), dv.alias("dv"))
    z = None
    for i in range(8):
        ubit = F.shiftleft(F.shiftright(F.col("du"), i).bitwiseAND(1), 2 * i + 1)
        vbit = F.shiftleft(F.shiftright(F.col("dv"), i).bitwiseAND(1), 2 * i)
        z = ubit + vbit if z is None else z + ubit + vbit
    return (
        d.withColumn("z", z)
        .groupBy(F.shiftright(F.col("z"), 12).alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("du").alias("min_u"),
            F.max("du").alias("max_u"),
            F.min("dv").alias("min_v"),
            F.max("dv").alias("max_v"),
        )
    )


PATH_LEN = 8  # first N events define a user's path signature
TOP_PATHS = 20


def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis: the 20 most common early user journeys, where a
    journey is the '>'-joined sequence of a user's first 8 event types
    in (ts, event_id) order. One shuffle to assemble per-user sequences
    (collect_list bounded by per-user event counts; the slice caps the
    downstream key at 8 types), one agg over path strings, then an
    EXPLICIT ``orderBy().limit(k)`` — compiled to
    TakeOrderedAndProject (per-partition top-k, k-row merge) — with the
    rank window running over the already-limited k rows. VERDICT r4 #3:
    the previous ``row_number ≤ k`` form relied on Spark's unasserted
    window-group-limit rewrite; this form is scale-safe by construction
    and plan-shape-tested (tests/test_plan_shapes.py).

    Determinism: sort_array on (ts, event_id, event_type) structs is a
    total order because (ts, event_id) is unique, mirroring the SQL
    ``list(... ORDER BY ts, event_id)`` exactly."""
    e = t(spark, sf_dir, "events")
    per = e.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ).alias("seq")
    )
    path = F.array_join(
        F.transform(F.slice("seq", 1, PATH_LEN), lambda x: x["event_type"]),
        ">",
    )
    cnt = (
        per.select(path.alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    topk = cnt.orderBy(F.col("n_users").desc(), "path").limit(TOP_PATHS)
    return rank_limited(
        topk, [-F.col("n_users"), F.col("path")], ["path", "n_users"]
    )


SKETCH_M = 64  # registers
RHO_CAP = 55  # ρ when the 54-bit suffix is all zeros
LOGLOG_ALPHA = 0.39701  # Durand-Flajolet asymptotic constant


def day_registers(events: DataFrame) -> DataFrame:
    """Per-(day, register) LogLog partials — the mergeable sketch state
    shared by the batch rollup below and the streaming twin
    (``streaming/sketch.py: sketch_registers``)."""
    r, rho = loglog_reg_rho("user_id", m=SKETCH_M, cap=RHO_CAP)
    return (
        events.select(
            F.date_trunc("day", "ts").alias("day"),
            r.alias("r"),
            rho.alias("rho"),
        )
        .groupBy("day", "r")
        .agg(F.max("rho").alias("mx"))
    )


def events_distinct_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketch AS DATA — the pre-aggregation
    pattern behind every 100 TB "distinct users per day, and for any
    ad-hoc day range" dashboard. ``events_approx_distinct`` uses the
    engine's opaque HLL++; this builds a PORTABLE Durand-Flajolet
    LogLog register table (m=64) from the repo's md5 hash, so partials
    are plain (key, register, max-ρ) rows any engine can merge with
    MAX — the daily sketches roll up to the all-days estimate without
    rescanning events, exactly how a warehouse materializes per-day
    sketch partials once and serves arbitrary ranges.

    ρ is pure integer bit arithmetic (bit_count of the isolated lowest
    set bit minus one — no transcendental), and the one float step, the
    2^mean estimator, is rounded to 6 dp like ``doc_lm_perplexity``'s
    2^H so both engines agree bit-for-bit. The exact per-day distinct
    rides along to expose the sketch's error; estimate accuracy itself
    is LogLog's ±1.3/√m (≈16%), not a correctness property."""
    e = t(spark, sf_dir, "events")
    day_regs = day_registers(e)
    est = F.round(
        F.lit(LOGLOG_ALPHA * SKETCH_M)
        * F.pow(F.lit(2.0), F.col("s").cast("double") / F.lit(float(SKETCH_M))),
        6,
    )
    per_day = (
        day_regs.groupBy("day")
        .agg(F.sum("mx").alias("s"))
        .join(e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
            F.countDistinct("user_id").alias("exact_users")), "day")
        .select("day", est.alias("est_users"), "exact_users")
    )
    # all-days row: merge the DAILY register tables (max per register),
    # never rescanning events — the rollup property under test
    total = (
        day_regs.groupBy("r")
        .agg(F.max("mx").alias("mx"))
        .agg(F.sum("mx").alias("s"))
        .crossJoin(F.broadcast(e.agg(F.countDistinct("user_id").alias("exact_users"))))
        .select(
            F.lit(None).cast("timestamp").alias("day"),
            est.alias("est_users"),
            "exact_users",
        )
    )
    return per_day.unionByName(total)


QSKETCH_BINS = 64
QSKETCH_WIDTH = 8.0  # covers value ∈ [0, 512); last bin absorbs the tail
QSKETCH_QS = (0.5, 0.9, 0.99)


def qsketch_bin() -> Column:
    """Fixed-width histogram bin of ``value`` (last bin absorbs the
    tail) — shared by the batch rollup and the streaming twin
    (``streaming/sketch.py: quantile_sketch_bins``)."""
    return F.least(
        F.lit(QSKETCH_BINS - 1),
        F.floor(F.col("value") / F.lit(QSKETCH_WIDTH)),
    ).cast("int")


def qsketch_day_bins(events: DataFrame) -> DataFrame:
    """Per-(day, bin) histogram partials — the mergeable sketch state
    (vector addition) shared by the batch rollup and the streaming
    twin."""
    return (
        events.select(
            F.date_trunc("day", "ts").alias("day"), qsketch_bin().alias("bin")
        )
        .groupBy("day", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def events_quantile_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch — the 100 TB percentile pattern: each
    partition (here: each day) reduces to a fixed 64-bin histogram, the
    per-partition sketches MERGE by vector addition (an ordinary keyed
    sum — associative, so rollup order and partitioning are free), and
    quantiles invert from the merged sketch with a guaranteed
    ±bin-width bound. Per q: the covering bin, its [lo, hi) value
    bounds (the true percentile provably lies inside), and the exact
    mass at-or-below it.

    Every frame after the first aggregation is bounded by the BIN
    COUNT, not the data: the cumulative mass is a 64×64 bounded
    self-join (never a corpus-wide window), the inversion is a 3-row
    quantile table against 64 rows. This is what
    ``events_value_percentiles``' exact sort-based form trades away at
    scale; the sketch costs one keyed agg regardless of data size."""
    e = t(spark, sf_dir, "events")
    daily = qsketch_day_bins(e)
    bins = daily.groupBy("bin").agg(F.sum("c").alias("c"))
    a, b = bins.alias("a"), bins.alias("b")
    cum = (
        a.join(F.broadcast(b), F.col("b.bin") <= F.col("a.bin"))
        .groupBy(F.col("a.bin").alias("bin"))
        .agg(F.sum("b.c").alias("cum"))
    )
    tot = bins.agg(F.sum("c").alias("total_rows"))
    qs = local_frame(spark, [(q,) for q in QSKETCH_QS], "q double")
    target = F.ceil(F.col("q") * F.col("total_rows").cast("double")).cast(
        "bigint"
    )
    picked = (
        qs.crossJoin(F.broadcast(tot))
        .join(F.broadcast(cum), F.col("cum") >= target)
        .groupBy("q", "total_rows")
        .agg(F.min("bin").alias("bin"))
    )
    return (
        picked.join(F.broadcast(cum), "bin")
        .select(
            "q",
            "bin",
            (F.col("bin").cast("double") * QSKETCH_WIDTH).alias("est_lo"),
            ((F.col("bin") + 1).cast("double") * QSKETCH_WIDTH).alias(
                "est_hi"
            ),
            F.col("cum").alias("n_at_or_below"),
            "total_rows",
        )
    )


SKEW_PCTS = (0.5, 0.9, 0.99)


def events_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit over ``events.user_id`` — the diagnostic a
    100 TB pipeline runs BEFORE choosing salt factors / AQE skew
    thresholds for a user-keyed join: per-key row counts summarized as
    exact count percentiles (p50/p90/p99 of the key-count distribution),
    the hottest key's share, and the Gini coefficient of rows over keys
    (0 = uniform, →1 = one key owns the table).

    Exact, not sampled: one groupBy on the key, then the distributed
    prefix-sum operator ranks keys by count ASCENDING (row-local
    IEEE-binade buckets since r15 — no boundary pass), giving the
    global rank every statistic needs. Gini comes from integer arithmetic
    (2·Σ rank·cnt − (n+1)·Σcnt) / (n·Σcnt) — exact BIGINTs until one
    final double division, so the number is partitioning-independent.
    The only driver-side data are the operator's O(#buckets) offsets
    and two 1-row aggregates (allowlisted broadcasts)."""
    # r15: the key-count aggregate is referenced once now that the
    # ieee bucket needs no boundary pass — persist dropped
    c = t(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    ranked, total_rows = distributed_prefix_sum(
        spark,
        c,
        pid=ieee_bucket_asc("cnt"),
        order=[F.col("cnt").asc(), F.col("user_id")],
        value_col="cnt",
        cum_col="_cum",
        rank_col="rnk",
    )
    stats = ranked.agg(
        F.max("rnk").alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
        F.sum(F.col("rnk") * F.col("cnt")).alias("_a"),
    )
    j = ranked.crossJoin(F.broadcast(stats))
    pct_cols = []
    for p in SKEW_PCTS:
        r = F.ceil(F.lit(p) * F.col("n_keys").cast("double"))
        pct_cols.append(
            F.max(F.when(F.col("rnk") == r, F.col("cnt"))).alias(
                f"p{int(p * 100)}_cnt"
            )
        )
    tot = F.lit(int(total_rows)).cast("bigint")
    return j.groupBy().agg(
        F.max("n_keys").alias("n_keys"),
        tot.alias("total_rows"),
        F.max("max_cnt").alias("max_cnt"),
        *pct_cols,
        (F.max("max_cnt").cast("double") / tot.cast("double")).alias(
            "top1_share"
        ),
        (
            (
                2 * F.max("_a") - (F.max("n_keys") + 1) * tot
            ).cast("double")
            / (F.max("n_keys") * tot).cast("double")
        ).alias("gini"),
    )


def events_sketch_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch SET ALGEBRA over the portable LogLog partials — the
    companion to ``events_distinct_sketch_rollup``: per ordered
    event-type pair, the union estimate via register max-merge and the
    intersection estimate via inclusion–exclusion
    (est_a + est_b − est_union), with the exact numbers riding along to
    expose the sketch error (intersection error compounds — that is the
    audit's point, same posture as the CMS/MinHash/recall audits).

    Scale shape: ONE linear pass over events builds the per-(type,
    register) partials (|types|·64 rows); every set operation after
    that is algebra on sketch state, never a rescan. The pair frame is
    the |types|² self-join of a dimension-sized relation (bounded
    metadata cardinality — allowlisted); at 100 TB you'd persist the
    partials next to the fact table and serve any ad-hoc pair."""
    e = t(spark, sf_dir, "events")
    r, rho = loglog_reg_rho("user_id", m=SKETCH_M, cap=RHO_CAP)
    type_regs = (
        e.select(F.col("event_type").alias("et"), r.alias("r"), rho.alias("rho"))
        .groupBy("et", "r")
        .agg(F.max("rho").alias("mx"))
    )

    def est(s):
        return F.round(
            F.lit(LOGLOG_ALPHA * SKETCH_M)
            * F.pow(F.lit(2.0), s.cast("double") / F.lit(float(SKETCH_M))),
            6,
        )

    sums = type_regs.groupBy("et").agg(F.sum("mx").alias("s"))
    types = type_regs.select("et").distinct()
    pairs = (
        types.alias("ta")
        .join(
            F.broadcast(types.alias("tb")),
            F.col("ta.et") < F.col("tb.et"),
        )
        .select(F.col("ta.et").alias("et_a"), F.col("tb.et").alias("et_b"))
    )
    union_regs = (
        pairs.join(
            type_regs,
            (F.col("et") == F.col("et_a")) | (F.col("et") == F.col("et_b")),
        )
        .groupBy("et_a", "et_b", "r")
        .agg(F.max("mx").alias("mx"))
    )
    s_union = union_regs.groupBy("et_a", "et_b").agg(F.sum("mx").alias("su"))

    tu = e.select("event_type", "user_id").distinct()
    exact_int = (
        tu.alias("ua")
        .join(
            tu.alias("ub"),
            (F.col("ua.user_id") == F.col("ub.user_id"))
            & (F.col("ua.event_type") < F.col("ub.event_type")),
        )
        .groupBy(
            F.col("ua.event_type").alias("et_a"),
            F.col("ub.event_type").alias("et_b"),
        )
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    exact_n = tu.groupBy(F.col("event_type").alias("et")).agg(
        F.count(F.lit(1)).alias("n")
    )
    sa = sums.select(F.col("et").alias("et_a"), F.col("s").alias("s_a"))
    sb = sums.select(F.col("et").alias("et_b"), F.col("s").alias("s_b"))
    na = exact_n.select(F.col("et").alias("et_a"), F.col("n").alias("n_a"))
    nb = exact_n.select(F.col("et").alias("et_b"), F.col("n").alias("n_b"))
    est_a, est_b, est_u = est(F.col("s_a")), est(F.col("s_b")), est(F.col("su"))
    return (
        s_union.join(sa, "et_a")
        .join(sb, "et_b")
        .join(na, "et_a")
        .join(nb, "et_b")
        .join(exact_int, ["et_a", "et_b"], "left")
        .select(
            "et_a",
            "et_b",
            est_a.alias("est_a"),
            est_b.alias("est_b"),
            est_u.alias("est_union"),
            (est_a + est_b - est_u).alias("est_intersection"),
            F.coalesce("exact_intersection", F.lit(0)).alias(
                "exact_intersection"
            ),
            (
                F.col("n_a") + F.col("n_b")
                - F.coalesce("exact_intersection", F.lit(0))
            ).alias("exact_union"),
        )
    )


QUERIES = {
    "events_sketch_set_ops": events_sketch_set_ops,
    "events_key_skew_profile": events_key_skew_profile,
    "events_quantile_sketch_rollup": events_quantile_sketch_rollup,
    "events_partition_pruned": events_partition_pruned,
    "events_zorder_layout": events_zorder_layout,
    "events_tumbling": events_tumbling,
    "events_trailing_window": events_trailing_window,
    "events_daily_from_hourly": events_daily_from_hourly,
    "events_sliding": events_sliding,
    "events_session": events_session,
    "events_json_props": events_json_props,
    "events_type_hourly_pivot": events_type_hourly_pivot,
    "events_approx_distinct": events_approx_distinct,
    "events_value_percentiles": events_value_percentiles,
    "events_mad_outliers": events_mad_outliers,
    "events_top_paths": events_top_paths,
    "events_distinct_sketch_rollup": events_distinct_sketch_rollup,
}

_Z_SQL = " + ".join(
    f"(((du >> {i}) & 1) << {2 * i + 1}) + (((dv >> {i}) & 1) << {2 * i})"
    for i in range(8)
)

ORACLES = {
    # Mirror of events_key_skew_profile: exact per-key counts, global
    # ascending rank, integer Gini numerator, one final double division.
    "events_key_skew_profile": """
        WITH c AS (
          SELECT user_id, count(1) AS cnt FROM events GROUP BY 1
        ),
        r AS (
          SELECT cnt, row_number() OVER (ORDER BY cnt, user_id) AS rnk
          FROM c
        ),
        s AS (
          SELECT max(rnk) AS n_keys,
                 CAST(sum(cnt) AS BIGINT) AS total_rows,
                 max(cnt) AS max_cnt,
                 sum(rnk * cnt) AS a
          FROM r
        )
        SELECT max(s.n_keys) AS n_keys,
               max(s.total_rows) AS total_rows,
               max(s.max_cnt) AS max_cnt,
               max(CASE WHEN r.rnk = CAST(ceil(0.5 * CAST(s.n_keys AS DOUBLE)) AS BIGINT)
                        THEN r.cnt END) AS p50_cnt,
               max(CASE WHEN r.rnk = CAST(ceil(0.9 * CAST(s.n_keys AS DOUBLE)) AS BIGINT)
                        THEN r.cnt END) AS p90_cnt,
               max(CASE WHEN r.rnk = CAST(ceil(0.99 * CAST(s.n_keys AS DOUBLE)) AS BIGINT)
                        THEN r.cnt END) AS p99_cnt,
               CAST(max(s.max_cnt) AS DOUBLE)
                 / CAST(max(s.total_rows) AS DOUBLE) AS top1_share,
               CAST(2 * max(s.a) - (max(s.n_keys) + 1) * max(s.total_rows)
                    AS DOUBLE)
                 / CAST(max(s.n_keys) * max(s.total_rows) AS DOUBLE) AS gini
        FROM r CROSS JOIN s
    """,
    # Mirror of events_quantile_sketch_rollup: same fixed bins, same
    # per-day → merged rollup, same 64×64 cumulative self-join + 3-row
    # inversion. Integer masses; the only doubles are bin-edge products.
    "events_quantile_sketch_rollup": f"""
        WITH daily AS (
          SELECT date_trunc('day', ts) AS day,
                 CAST(least({QSKETCH_BINS - 1},
                            floor(value / {QSKETCH_WIDTH})) AS INT) AS bin,
                 count(1) AS c
          FROM events GROUP BY 1, 2
        ),
        bins AS (SELECT bin, sum(c) AS c FROM daily GROUP BY 1),
        cum AS (
          SELECT a.bin, CAST(sum(b.c) AS BIGINT) AS cum
          FROM bins a JOIN bins b ON b.bin <= a.bin GROUP BY 1
        ),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS total_rows FROM bins),
        qs AS (SELECT CAST(unnest(ARRAY{list(QSKETCH_QS)}) AS DOUBLE) AS q),
        picked AS (
          SELECT q, total_rows, min(bin) AS bin
          FROM qs CROSS JOIN tot
          JOIN cum ON cum.cum >= CAST(ceil(q * CAST(total_rows AS DOUBLE))
                                      AS BIGINT)
          GROUP BY 1, 2
        )
        SELECT q, p.bin,
               CAST(p.bin AS DOUBLE) * {QSKETCH_WIDTH} AS est_lo,
               CAST(p.bin + 1 AS DOUBLE) * {QSKETCH_WIDTH} AS est_hi,
               c.cum AS n_at_or_below,
               p.total_rows
        FROM picked p JOIN cum c ON p.bin = c.bin
    """,
    # Same bit interleave as the Spark plan (integer shifts are exact in
    # both engines); floor-then-cast keeps DuckDB's rounding double→int
    # cast out of the key derivation.
    "events_zorder_layout": f"""
        WITH d AS (
          SELECT CAST(user_id % 256 AS INTEGER) AS du,
                 greatest(0, least(255, CAST(floor(value / 2) AS INTEGER))) AS dv
          FROM events
        ),
        z AS (SELECT du, dv, {_Z_SQL} AS z FROM d)
        SELECT CAST(z >> 12 AS INTEGER) AS zbucket,
               count(1) AS n_events,
               min(du) AS min_u, max(du) AS max_u,
               min(dv) AS min_v, max(dv) AS max_v
        FROM z GROUP BY 1
    """,
    "events_partition_pruned": f"""
        SELECT CAST(ts AS DATE) AS date, event_type,
               count(1) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        FROM events
        WHERE CAST(ts AS DATE) BETWEEN '{PRUNE_START}' AND '{PRUNE_END}'
        GROUP BY 1, 2
    """,
    "events_tumbling": """
        SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP) AS window_start,
               CAST(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS TIMESTAMP)
                 AS window_end,
               event_type,
               count(1) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        FROM events GROUP BY 1, 2, 3
    """,
    "events_sliding": """
        SELECT CAST(time_bucket(INTERVAL '15 minutes', ts)
                    - k * INTERVAL '15 minutes' AS TIMESTAMP) AS window_start,
               count(1) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) offsets(k)
        GROUP BY 1
    """,
    "events_session": """
        WITH flagged AS (
          SELECT user_id, event_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                      THEN 1 ELSE 0 END AS new_sess
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        numbered AS (
          SELECT user_id, ts, value,
                 CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS session_no
          FROM flagged
        )
        SELECT user_id, session_no,
               min(ts) AS session_start,
               max(ts) AS session_end,
               count(1) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        FROM numbered GROUP BY 1, 2
    """,
    "events_json_props": """
        SELECT event_type,
               count(1) AS n,
               min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
               max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
                 AS sum_k
        FROM events GROUP BY 1
    """,
    "events_daily_from_hourly": """
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               event_type,
               count(1) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
               min(value) AS min_value,
               max(value) AS max_value
        FROM events GROUP BY 1, 2
    """,
    "events_trailing_window": """
        SELECT event_id, user_id, ts,
               count(1) OVER w AS trailing_n,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
                 AS trailing_value
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
    "events_approx_distinct": """
        SELECT event_type,
               count(DISTINCT user_id) AS exact_users,
               TRUE AS approx_within_5pct
        FROM events GROUP BY 1
    """,
    "events_value_percentiles": """
        SELECT event_type,
               quantile_cont(value, 0.5) AS p50,
               quantile_cont(value, 0.95) AS p95
        FROM events GROUP BY 1
    """,
    "events_mad_outliers": """
        WITH med AS (
          SELECT event_type, quantile_cont(value, 0.5) AS med
          FROM events GROUP BY 1
        ),
        dev AS (
          SELECT e.event_id, e.event_type, e.value, m.med,
                 abs(e.value - m.med) AS adev
          FROM events e JOIN med m USING (event_type)
        ),
        mad AS (
          SELECT event_type, quantile_cont(adev, 0.5) AS mad
          FROM dev GROUP BY 1
        )
        SELECT d.event_id, d.event_type, d.value, d.med, m.mad,
               d.adev / (1.4826 * m.mad) AS robust_z
        FROM dev d JOIN mad m USING (event_type)
        WHERE d.adev / (1.4826 * m.mad) > 3.5
    """,
    "events_type_hourly_pivot": """
        SELECT hour(ts) AS hour_of_day,
               count(1) FILTER (event_type = 'click') AS n_click,
               count(1) FILTER (event_type = 'view') AS n_view,
               count(1) FILTER (event_type = 'purchase') AS n_purchase,
               count(1) FILTER (event_type = 'signup') AS n_signup,
               count(1) FILTER (event_type = 'error') AS n_error
        FROM events GROUP BY 1
    """,
    # Mirror of events_top_paths: list(... ORDER BY ts, event_id) is the
    # same total order sort_array imposes on (ts, event_id, type) structs.
    "events_top_paths": f"""
        WITH per AS (
          SELECT user_id, list(event_type ORDER BY ts, event_id) AS seq
          FROM events GROUP BY 1
        ),
        p AS (
          SELECT array_to_string(seq[1:{PATH_LEN}], '>') AS path FROM per
        ),
        c AS (SELECT path, count(1) AS n_users FROM p GROUP BY 1)
        SELECT path, n_users, rank FROM (
          SELECT *, row_number() OVER (ORDER BY n_users DESC, path) AS rank
          FROM c)
        WHERE rank <= {TOP_PATHS}
    """,
    # Mirror of events_distinct_sketch_rollup: identical md5-derived
    # 60-bit hash, pure-integer rho (bit_count of isolated lowest set
    # bit minus one), register MAX merge, and the 6 dp-rounded 2^mean
    # estimator.
    "events_distinct_sketch_rollup": f"""
        WITH ev AS (
          SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, user_id,
                 CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                      AS BIGINT) AS h
          FROM events
        ),
        rows_ AS (
          SELECT day, user_id, h & {SKETCH_M - 1} AS r,
                 CASE WHEN (h >> 6) = 0 THEN {RHO_CAP}
                      ELSE bit_count(((h >> 6) & -(h >> 6)) - 1) + 1
                 END AS rho
          FROM ev
        ),
        day_regs AS (
          SELECT day, r, max(rho) AS mx FROM rows_ GROUP BY 1, 2
        ),
        per_day AS (
          SELECT d.day,
                 round({LOGLOG_ALPHA} * {SKETCH_M}
                       * pow(2.0, CAST(d.s AS DOUBLE) / {SKETCH_M}.0),
                       6) AS est_users,
                 x.exact_users
          FROM (SELECT day, CAST(sum(mx) AS BIGINT) AS s
                FROM day_regs GROUP BY 1) d
          JOIN (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                       count(DISTINCT user_id) AS exact_users
                FROM events GROUP BY 1) x USING (day)
        ),
        total AS (
          SELECT CAST(NULL AS TIMESTAMP) AS day,
                 round({LOGLOG_ALPHA} * {SKETCH_M}
                       * pow(2.0, CAST(t.s AS DOUBLE) / {SKETCH_M}.0),
                       6) AS est_users,
                 (SELECT count(DISTINCT user_id) FROM events) AS exact_users
          FROM (SELECT CAST(sum(mx) AS BIGINT) AS s
                FROM (SELECT r, max(mx) AS mx FROM day_regs GROUP BY 1)) t
        )
        SELECT * FROM per_day UNION ALL SELECT * FROM total
    """,
}

# Mirror of events_sketch_set_ops: same register construction as the
# rollup oracle, pair algebra in plain SQL, inclusion-exclusion from
# the identically-rounded per-side estimates.
_EST = (
    "round({LOGLOG_ALPHA} * {SKETCH_M} "
    "* pow(2.0, CAST({{s}} AS DOUBLE) / {SKETCH_M}.0), 6)"
).format(LOGLOG_ALPHA=LOGLOG_ALPHA, SKETCH_M=SKETCH_M)
ORACLES["events_sketch_set_ops"] = f"""
    WITH ev AS (
      SELECT event_type AS et, user_id,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h
      FROM events
    ),
    rows_ AS (
      SELECT et, h & {SKETCH_M - 1} AS r,
             CASE WHEN (h >> 6) = 0 THEN {RHO_CAP}
                  ELSE bit_count(((h >> 6) & -(h >> 6)) - 1) + 1
             END AS rho
      FROM ev
    ),
    tregs AS (SELECT et, r, max(rho) AS mx FROM rows_ GROUP BY 1, 2),
    sums AS (SELECT et, CAST(sum(mx) AS BIGINT) AS s FROM tregs GROUP BY 1),
    pairs AS (
      SELECT ta.et AS et_a, tb.et AS et_b
      FROM (SELECT DISTINCT et FROM tregs) ta
      JOIN (SELECT DISTINCT et FROM tregs) tb ON ta.et < tb.et
    ),
    su AS (
      SELECT et_a, et_b, CAST(sum(mx) AS BIGINT) AS su
      FROM (
        SELECT p.et_a, p.et_b, g.r, max(g.mx) AS mx
        FROM pairs p JOIN tregs g ON g.et = p.et_a OR g.et = p.et_b
        GROUP BY 1, 2, 3
      ) GROUP BY 1, 2
    ),
    tu AS (SELECT DISTINCT event_type AS et, user_id FROM events),
    xi AS (
      SELECT a.et AS et_a, b.et AS et_b, count(1) AS exact_intersection
      FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.et < b.et
      GROUP BY 1, 2
    ),
    xn AS (SELECT et, count(1) AS n FROM tu GROUP BY 1)
    SELECT s.et_a, s.et_b,
           {_EST.format(s="sa.s")} AS est_a,
           {_EST.format(s="sb.s")} AS est_b,
           {_EST.format(s="s.su")} AS est_union,
           {_EST.format(s="sa.s")} + {_EST.format(s="sb.s")}
             - {_EST.format(s="s.su")} AS est_intersection,
           COALESCE(xi.exact_intersection, 0) AS exact_intersection,
           na.n + nb.n - COALESCE(xi.exact_intersection, 0) AS exact_union
    FROM su s
    JOIN sums sa ON sa.et = s.et_a
    JOIN sums sb ON sb.et = s.et_b
    JOIN xn na ON na.et = s.et_a
    JOIN xn nb ON nb.et = s.et_b
    LEFT JOIN xi ON xi.et_a = s.et_a AND xi.et_b = s.et_b
"""
