"""End-to-end corpus curation manifest (BASELINE extension, integration
showcase): the full pre-training curation pipeline — quality gates →
exact dedup → near-dup clustering with representative selection →
benchmark decontamination → train/val/test split — composed into ONE
query producing the per-document manifest a data recipe ships.

Every stage is an already-oracle-verified registered query; this module
proves they COMPOSE (the joins line up, the flags interact correctly,
and the whole thing still hash-matches an independently composed DuckDB
oracle). Plan shape: five branch pipelines joined on doc_id — each
branch is the linear-shuffle design verified per-query, and the final
joins are doc_id equi-joins AQE sizes at runtime. At 100 TB each branch
would be materialized incrementally; the manifest join shape is
unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import session_materialized
from ..frames import local_frame
from ..functions.hashing import DUCKDB_HASH64, portable_hash64
from ..index_store import source_fingerprint
from ._util import rank_limited, t
from .dedup_queries import (
    ORACLES as D_ORACLES,
    dedup_decontaminate,
    dedup_exact_flags,
    dedup_keep_best,
)
from pyspark.sql import Window as W

from ..functions.text_metrics import tokens
from ..operators.prefix_sum import (
    distributed_prefix_sum,
    ieee_bucket_asc,
    ieee_bucket_desc,
)
from .text_queries import (
    ORACLES as T_ORACLES,
    PACK_CONTEXT,
    _TOKS_SQL,
    doc_quality,
    doc_quality_gates,
    doc_split_assign,
)


# Session-scoped materialized manifest: the manifest is the junction of
# five expensive branch pipelines, and BOTH registered queries below (the
# manifest itself and the funnel rollup) need it — without sharing, one
# bench/sweep pass executes the entire curation pipeline twice and
# re-persists identical intermediates (the CacheManager "already cached"
# noise in BENCH_r06's tail; VERDICT r6 #4). Keyed by application id +
# source content fingerprint, so a new session or regenerated testdata
# recomputes; at 100 TB this is exactly the "materialize each branch
# incrementally" posture — the manifest is written once per corpus
# snapshot and every report reads the materialization.
def _manifest_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = f"curation_manifest:{source_fingerprint(sf_dir, 'documents')}"
    return session_materialized(
        spark, key, lambda: _manifest_plan(spark, sf_dir)
    )


def corpus_curation_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document curation verdict: gate pass, exact-dup flag, near-dup
    cluster + representative flag, contamination flag, split assignment,
    and the final keep decision (pass gates AND canonical AND cluster
    representative AND not contaminated). Documents in no near-dup
    cluster are their own singleton cluster and kept by default.
    Served from the session's materialized manifest (one execution per
    corpus snapshot, shared with the funnel rollup)."""
    return _manifest_materialized(spark, sf_dir)


def _manifest_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    gates = doc_quality_gates(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("pass_gates")
    )
    exact = dedup_exact_flags(spark, sf_dir).select(
        "doc_id", F.col("is_duplicate").alias("is_exact_dup")
    )
    kb = dedup_keep_best(spark, sf_dir).select(
        "doc_id", "cluster_id", F.col("keep").alias("neardup_keep")
    )
    dc = dedup_decontaminate(spark, sf_dir).select(
        "doc_id", F.lit(True).alias("contaminated")
    )
    sp = doc_split_assign(spark, sf_dir).select("doc_id", "split")
    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    m = (
        d.join(gates, "doc_id")
        .join(exact, "doc_id")
        .join(kb, "doc_id", "left")
        .join(dc, "doc_id", "left")
        .join(sp, "doc_id")
    )
    neardup_keep = F.coalesce(F.col("neardup_keep"), F.lit(True))
    contaminated = F.coalesce(F.col("contaminated"), F.lit(False))
    final = (
        F.col("pass_gates")
        & ~F.col("is_exact_dup")
        & neardup_keep
        & ~contaminated
    )
    return m.select(
        "doc_id",
        "source",
        "pass_gates",
        "is_exact_dup",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        neardup_keep.alias("neardup_keep"),
        contaminated.alias("contaminated"),
        "split",
        final.alias("final_keep"),
    )


def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation funnel report — per (source, split): how many docs
    entered, how many failed each stage, and what survives. This is the
    rollup a data-recipe review actually reads; one hash aggregation
    over the session's materialized manifest (the expensive branches run
    once per corpus snapshot, shared with the manifest query)."""
    m = _manifest_materialized(spark, sf_dir)
    return m.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(~F.col("pass_gates"), 1).otherwise(0))
        .cast("int")
        .alias("n_failed_gates"),
        F.sum(F.when(F.col("is_exact_dup"), 1).otherwise(0))
        .cast("int")
        .alias("n_exact_dups"),
        F.sum(F.when(~F.col("neardup_keep"), 1).otherwise(0))
        .cast("int")
        .alias("n_neardup_dropped"),
        F.sum(F.when(F.col("contaminated"), 1).otherwise(0))
        .cast("int")
        .alias("n_contaminated"),
        F.sum(F.when(F.col("final_keep"), 1).otherwise(0))
        .cast("int")
        .alias("n_kept"),
    )


def corpus_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRAINING-assembly counterpart of the curation manifest: what
    the trainer actually consumes per (source, split) — document and
    token counts, the number of ``PACK_CONTEXT``-token packed sequences
    (the same contiguous greedy packer as ``doc_pack_sequences``, but
    partitioned by (source, split): bins never mix shards or splits),
    the packing fill ratio, and each source's token share WITHIN its
    split (the number a data-mix review compares against the recipe).

    Composition showcase like ``corpus_curation_manifest``: split
    assignment (stable salted-hash buckets) × tokenizer × packing
    window, joined per document, rolled up per cell. All integer
    arithmetic until two final double divisions; the within-split share
    normalizer is a window SUM of BIGINT over the tiny aggregated cell
    table, partitioned by split — keyed, exact, nothing global."""
    sp = doc_split_assign(spark, sf_dir).select("doc_id", "split")
    base = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "source", F.size(tokens("text")).alias("n_tokens"))
        .join(sp, "doc_id")
    )
    w = (
        W.partitionBy("source", "split")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    packed = base.withColumn("cum", F.sum("n_tokens").over(w)).withColumn(
        "bin_id",
        F.floor(
            (F.col("cum") - F.col("n_tokens")) / F.lit(float(PACK_CONTEXT))
        ).cast("int"),
    )
    per = packed.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        (F.max("bin_id") + 1).cast("bigint").alias("n_sequences"),
    )
    fill = F.col("n_tokens").cast("double") / (
        F.col("n_sequences") * PACK_CONTEXT
    ).cast("double")
    share = F.col("n_tokens").cast("double") / F.sum("n_tokens").over(
        W.partitionBy("split")
    ).cast("double")
    return per.select(
        "source",
        "split",
        "n_docs",
        "n_tokens",
        "n_sequences",
        fill.alias("fill_ratio"),
        share.alias("split_token_share"),
    )


TOKEN_BUDGET_PER_SOURCE = 800  # tokens the recipe allots to each source
BUDGET_QUALITY_PARTS = 8  # quality buckets per source for the prefix sum


def corpus_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-greedy token-budget selection — the data-mix primitive
    'take the best documents from each source until its token budget is
    spent': documents are ordered quality-first within their source and
    admitted while the tokens consumed BEFORE them stay under
    ``TOKEN_BUDGET_PER_SOURCE`` (the admitting document may overshoot —
    greedy truncation semantics, like sequence packing).

    Scale shape: the within-source running token total uses
    ``operators/prefix_sum.py`` with a composite value-derived pid
    (source index × quality bucket — the ``doc_perplexity_buckets``
    per-group pattern), NEVER a per-source window, which would pin one
    task per source while sources are few and huge at 100 TB. The two
    driver collects are O(#sources) control-plane; per-source prefix
    offsets broadcast back."""
    dq = doc_quality(spark, sf_dir).select("doc_id", "n_tokens", "quality_score")
    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    scored = (
        d.join(dq, "doc_id")
        .withColumn("ntl", F.col("n_tokens").cast("bigint"))
        .persist()  # feeds the quantile pass, source totals, and cumsum
    )
    srcs = sorted(r["source"] for r in scored.select("source").distinct().collect())
    totals = {
        r["source"]: r["tot"]
        for r in scored.groupBy("source").agg(F.sum("ntl").alias("tot")).collect()
    }
    six = None
    for i, s in enumerate(srcs):
        cond = F.col("source") == s
        six = F.when(cond, i) if six is None else six.when(cond, i)
    # r15: row-local IEEE-binade bucket replaces the per-invocation
    # quality-quantile boundary pass (guide §1.2 step 1); the 2^42
    # stride dominates the full ieee pid range incl. its sentinel, so
    # the composite stays monotone in (source, quality desc)
    ranked, _ = distributed_prefix_sum(
        spark,
        scored,
        pid=six.cast("long") * F.lit(1 << 42) + ieee_bucket_desc("quality_score"),
        order=[F.col("source"), F.col("quality_score").desc(), F.col("doc_id")],
        value_col="ntl",
        cum_col="cum_global",
    )
    off_rows, off = [], 0
    for s in srcs:
        off_rows.append((s, off))
        off += totals[s]
    offs = local_frame(spark, off_rows, "source string, src_off long")
    scored.unpersist()
    cum = F.col("cum_global") - F.col("src_off")
    return (
        ranked.join(F.broadcast(offs), "source")
        .withColumn("cum_tokens", cum)
        .filter(F.col("cum_tokens") - F.col("ntl") < TOKEN_BUDGET_PER_SOURCE)
        .select("doc_id", "source", "n_tokens", "quality_score", "cum_tokens")
    )


SYS_SAMPLE_K = 200
SYS_DOC_PARTS = 16


def corpus_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-proportional-to-size SYSTEMATIC sample (Madow 1949)
    — the deterministic replacement for weighted random sampling when a
    training mix must be reproducible: lay every document's char count
    end to end along the (source, doc_id) order (implicit
    stratification by source), then take ``SYS_SAMPLE_K`` picks at the
    midpoints of equal-width strides, pick i landing at integer
    position ((2i+1)·T) // (2K) of the cumulative weight line. A
    document is picked with multiplicity ∝ its weight; no RNG, integer
    arithmetic end to end, same output on any partitioning.

    Scale shape: the cumulative line is the two-pass distributed prefix
    sum (pid = source index × doc-id quantile bucket — the
    token-budget-sample composite, O(#sources) collects); the K pick
    points are computed from the returned grand total and broadcast as
    a K-row frame into one interval-containment join (each pick matches
    exactly one document since intervals tile [0, T)). Point count is
    the only fan-out; no corpus-wide window, no quadratic form."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("bigint").alias("wc")
    )
    srcs = sorted(r["source"] for r in d.select("source").distinct().collect())
    six = None
    for i, s in enumerate(srcs):
        cond = F.col("source") == s
        six = F.when(cond, i) if six is None else six.when(cond, i)
    # r15: same ieee-bucket swap as corpus_token_budget_sample
    lined, total = distributed_prefix_sum(
        spark,
        d,
        pid=six.cast("long") * F.lit(1 << 42) + ieee_bucket_asc("doc_id"),
        order=[F.col("source"), F.col("doc_id")],
        value_col="wc",
        cum_col="cum",
    )
    k = SYS_SAMPLE_K
    pts = local_frame(
        spark,
        [(i, ((2 * i + 1) * int(total)) // (2 * k)) for i in range(k)],
        "pick_idx int, point long",
    )
    return (
        lined.join(
            F.broadcast(pts),
            (F.col("point") >= F.col("cum") - F.col("wc"))
            & (F.col("point") < F.col("cum")),
        )
        .select(
            "pick_idx",
            "point",
            "doc_id",
            "source",
            F.col("wc").alias("weight_chars"),
        )
    )


SHUFFLE_SHARDS = 16
SHUFFLE_SEED = "epoch-0"


def corpus_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle — the data-ordering step between a
    curated corpus and a training job: every document gets a seeded
    pseudo-random sort key (portable 60-bit md5 hash of
    ``SHUFFLE_SEED | doc_id``), a shard assignment (key mod
    ``SHUFFLE_SHARDS``), and its position within the shard. A new seed
    reshuffles the whole corpus reproducibly; the same seed replays the
    exact order after a failure — which is why training pipelines hash
    rather than ``rand()``.

    One scan + one window partitioned by shard. The shard count IS the
    parallelism: at 100 TB you size SHUFFLE_SHARDS to the trainer's
    file count (hundreds-thousands), so per-shard windows stay bounded
    and the write is one file per shard, already in read order."""
    d = t(spark, sf_dir, "documents")
    key = portable_hash64(F.col("doc_id").cast("string"), seed=SHUFFLE_SEED)
    keyed = d.select("doc_id", key.alias("shuffle_key")).withColumn(
        "shard", F.pmod(F.col("shuffle_key"), F.lit(SHUFFLE_SHARDS)).cast("int")
    )
    w = W.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return keyed.select(
        "doc_id",
        "shard",
        "shuffle_key",
        F.row_number().over(w).alias("pos"),
    )


SAMPLING_ALPHA = 0.5  # temperature T = 1/α = 2 (sqrt scaling)
PRIORITY_SAMPLE_K = 100


def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source sampling weights — the multilingual /
    multi-source mixing rule (XLM-R / mT5 style): sample source s with
    probability ∝ (token share)^α instead of the raw share, so tail
    sources are upweighted without letting any single head source
    dominate. α = ``SAMPLING_ALPHA`` = 0.5, i.e. sqrt scaling — chosen
    deliberately because sqrt is IEEE-754 correctly rounded in BOTH
    engines (an arbitrary pow(x, α) is not), so the weights are
    bit-identical cross-engine without a grid trick on the transform
    itself.

    Determinism of the NORMALIZER (the one cross-row double reduction):
    each sqrt is snapped to the 9 dp grid and summed as exact BIGINT
    nano-units (floor(x·10⁹ + 0.5) — the PERF-29 fixed-point pattern),
    so Σ√n is order-free; every share/boost is then per-row IEEE
    division over identical operands.

    Scale shape: one map-side-combined aggregation to |sources| rows;
    the totals ride back as a 1-row broadcast."""
    d = t(spark, sf_dir, "documents")
    per = (
        d.select("source", F.size(tokens("text")).alias("n_toks"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
        )
        .withColumn(
            "w9",
            F.floor(
                F.round(F.sqrt(F.col("n_tokens").cast("double")), 9)
                * F.lit(1e9)
                + F.lit(0.5)
            ).cast("bigint"),
        )
    )
    tot = per.agg(
        F.sum("n_tokens").alias("_tot"), F.sum("w9").alias("_wtot")
    )
    raw = F.col("n_tokens").cast("double") / F.col("_tot").cast("double")
    temp = F.col("w9").cast("double") / F.col("_wtot").cast("double")
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        raw.alias("raw_share"),
        temp.alias("temp_share"),
        (temp / raw).alias("boost"),
    )


def corpus_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via Efraimidis-Spirakis
    exponential priority keys (A-ES): document i gets key u_i^(1/w_i)
    with u_i uniform and w_i its weight; the top-k keys ARE a weighted
    sample without replacement — the distributed one-pass form of
    weighted reservoir sampling (the sequential reservoir is inherently
    serial; the top-k of independent per-row keys is the same
    distribution and embarrassingly parallel).

    Determinism: u_i derives from the portable 60-bit md5 hash of the
    doc_id (seeded), and keys are COMPARED in log space —
    log2(u)/w = (grid-snapped log2(hash) − 60)/w — a strictly monotone
    transform of u^(1/w), so the top-k set is identical and every
    arithmetic step is reproducible cross-engine (9 dp-grid log2 of a
    shared integer, then one IEEE division by the integer weight).
    Weight = n_chars (floor 1), the sample-by-content-volume policy.

    Scale shape: per-row key computation inside the scan projection +
    TakeOrderedAndProject (per-partition top-k, k-row merge — never a
    global sort); the k-row rank comes from the house ``rank_limited``
    array trick, no window."""
    d = t(spark, sf_dir, "documents")
    h = F.greatest(
        portable_hash64(F.col("doc_id").cast("string"), seed="ares"),
        F.lit(1),
    )
    w = F.greatest(F.col("n_chars"), F.lit(1))
    key = (F.round(F.log2(h.cast("double")), 9) - F.lit(60.0)) / w.cast(
        "double"
    )
    scored = d.select(
        "doc_id", "source", "n_chars", key.alias("priority_key")
    )
    topk = scored.orderBy(F.col("priority_key").desc(), "doc_id").limit(
        PRIORITY_SAMPLE_K
    )
    return rank_limited(
        topk,
        [(-F.col("priority_key")).alias("_nk"), F.col("doc_id")],
        ["doc_id", "source", "n_chars", "priority_key"],
    )


def corpus_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-calibration cross-tab — the agreement audit you run
    BEFORE wiring a model-based filter into the keep decision: the
    corpus broken down by all 2³ combinations of the three independent
    quality signals (Gopher-style heuristic gates, the hashed linear
    classifier, DSIR target-likeness), with counts and corpus shares.
    High gates∧¬classifier mass means the cheap model disagrees with
    the heuristics and needs threshold work; near-empty cells tell you
    a signal is redundant.

    Scale shape: three already-verified per-doc pipelines joined on
    doc_id (AQE sizes the equi-joins), one 8-row aggregation, one 1-row
    corpus-count broadcast for the shares (allowlisted)."""
    from .selection_queries import doc_dsir_importance, doc_quality_classifier
    from .text_queries import doc_quality_gates

    g = doc_quality_gates(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("gates_keep")
    )
    c = doc_quality_classifier(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("classifier_keep")
    )
    s = doc_dsir_importance(spark, sf_dir).select(
        "doc_id", F.col("selected").alias("dsir_selected")
    )
    cells = (
        g.join(c, "doc_id")
        .join(s, "doc_id")
        .groupBy("gates_keep", "classifier_keep", "dsir_selected")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    total = t(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("total_docs")
    )
    return cells.crossJoin(F.broadcast(total)).select(
        "gates_keep",
        "classifier_keep",
        "dsir_selected",
        "n_docs",
        (
            F.col("n_docs").cast("double") / F.col("total_docs").cast("double")
        ).alias("share"),
    )


CAL_DECILES = 9  # interior decile thresholds (0.1 .. 0.9)


def corpus_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration curve for the model-based quality filter — the table
    you read before picking the classifier's keep threshold: documents
    bucketed into score DECILES (percentile thresholds, never a global
    ntile sort), and per decile the Gopher-gate pass rate. A monotone
    curve says the cheap hashed classifier ranks quality the way the
    heuristics do; a flat one says its score is noise at that range.
    Completes the calibration family: corpus_quality_report is the
    3-signal agreement cross-tab, this is the threshold-response curve
    for one signal.

    Scale shape: the per-doc score/gate pipelines join on doc_id; the
    9 interior decile thresholds ride in as a 1-row exact-percentile
    broadcast (the customer_rfm_segments binning pattern — the verified
    percentile ↔ quantile_cont pairing, array form) and the decile
    index is a per-row fold over that 9-element array; one 10-row
    aggregation. Mean score per decile is a fixed-point BIGINT sum
    (scores are exact rationals; the 1e-9 grid keeps the mean
    order-free)."""
    from .selection_queries import doc_quality_classifier

    sc = doc_quality_classifier(spark, sf_dir).select("doc_id", "score")
    g = doc_quality_gates(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("gates_keep")
    )
    thr = sc.agg(
        F.percentile(
            "score",
            F.array(*[F.lit((i + 1) / 10.0) for i in range(CAL_DECILES)]),
        ).alias("q")
    )
    j = sc.join(g, "doc_id").crossJoin(F.broadcast(thr))
    decile = F.lit(1) + F.aggregate(
        "q",
        F.lit(0),
        lambda acc, x: acc + F.when(F.col("score") > x, 1).otherwise(0),
    )
    s9 = F.floor(F.col("score") * F.lit(1e9) + F.lit(0.5)).cast("bigint")
    return (
        j.select(
            decile.alias("decile"),
            F.col("gates_keep").cast("int").alias("gk"),
            s9.alias("s9"),
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("gk").cast("bigint").alias("n_pass_gates"),
            (
                F.sum("gk").cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("gates_pass_rate"),
            (
                F.sum("s9").cast("double")
                / F.lit(1e9)
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_score"),
        )
    )


QUERIES = {
    "corpus_quality_calibration": corpus_quality_calibration,
    "corpus_temperature_mix": corpus_temperature_mix,
    "corpus_priority_sample": corpus_priority_sample,
    "corpus_epoch_shuffle": corpus_epoch_shuffle,
    "corpus_quality_report": corpus_quality_report,
    "corpus_curation_manifest": corpus_curation_manifest,
    "corpus_curation_funnel": corpus_curation_funnel,
    "corpus_training_manifest": corpus_training_manifest,
    "corpus_token_budget_sample": corpus_token_budget_sample,
    "corpus_systematic_sample": corpus_systematic_sample,
}

ORACLES = {
    # Composed from the SAME per-stage oracles the individual queries
    # are verified against (nested WITHs are scoped per sub-select).
    "corpus_curation_manifest": f"""
        WITH g AS MATERIALIZED ({T_ORACLES["doc_quality_gates"]}),
        ex AS ({D_ORACLES["dedup_exact_flags"]}),
        kb AS MATERIALIZED ({D_ORACLES["dedup_keep_best"]}),
        dc AS ({D_ORACLES["dedup_decontaminate"]}),
        sp AS ({T_ORACLES["doc_split_assign"]})
        SELECT d.doc_id, d.source,
               g.keep AS pass_gates,
               ex.is_duplicate AS is_exact_dup,
               coalesce(kb.cluster_id, d.doc_id) AS cluster_id,
               coalesce(kb.keep, TRUE) AS neardup_keep,
               (dc.doc_id IS NOT NULL) AS contaminated,
               sp.split,
               (g.keep AND NOT ex.is_duplicate AND coalesce(kb.keep, TRUE)
                AND dc.doc_id IS NULL) AS final_keep
        FROM documents d
        JOIN g ON g.doc_id = d.doc_id
        JOIN ex ON ex.doc_id = d.doc_id
        LEFT JOIN kb ON kb.doc_id = d.doc_id
        LEFT JOIN dc ON dc.doc_id = d.doc_id
        JOIN sp ON sp.doc_id = d.doc_id
    """,
}

ORACLES["corpus_curation_funnel"] = f"""
    WITH manifest AS MATERIALIZED ({ORACLES["corpus_curation_manifest"]})
    SELECT source, split,
           count(1) AS n_docs,
           CAST(SUM(CASE WHEN NOT pass_gates THEN 1 ELSE 0 END) AS INT)
             AS n_failed_gates,
           CAST(SUM(CASE WHEN is_exact_dup THEN 1 ELSE 0 END) AS INT)
             AS n_exact_dups,
           CAST(SUM(CASE WHEN NOT neardup_keep THEN 1 ELSE 0 END) AS INT)
             AS n_neardup_dropped,
           CAST(SUM(CASE WHEN contaminated THEN 1 ELSE 0 END) AS INT)
             AS n_contaminated,
           CAST(SUM(CASE WHEN final_keep THEN 1 ELSE 0 END) AS INT) AS n_kept
    FROM manifest GROUP BY source, split
"""

# Mirror of corpus_training_manifest: the split CTE is doc_split_assign's
# oracle, packing is the same per-(source, split) cumulative window and
# float division, shares are integer-window-normalized.
ORACLES["corpus_training_manifest"] = f"""
    WITH sp AS ({T_ORACLES["doc_split_assign"]}),
    base AS (
      SELECT d.doc_id, d.source, sp.split, len({_TOKS_SQL}) AS n_tokens
      FROM documents d JOIN sp ON d.doc_id = sp.doc_id
    ),
    packed AS (
      SELECT *, SUM(n_tokens) OVER (
               PARTITION BY source, split ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM base
    ),
    b2 AS (
      SELECT *, CAST(floor((cum - n_tokens) / {PACK_CONTEXT}.0) AS INT)
                  AS bin_id
      FROM packed
    ),
    per AS (
      SELECT source, split, count(1) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
             CAST(max(bin_id) + 1 AS BIGINT) AS n_sequences
      FROM b2 GROUP BY 1, 2
    )
    SELECT source, split, n_docs, n_tokens, n_sequences,
           CAST(n_tokens AS DOUBLE)
             / CAST(n_sequences * {PACK_CONTEXT} AS DOUBLE) AS fill_ratio,
           CAST(n_tokens AS DOUBLE)
             / CAST(SUM(n_tokens) OVER (PARTITION BY split) AS DOUBLE)
             AS split_token_share
    FROM per
"""

# Mirror of corpus_token_budget_sample: quality from doc_quality's own
# oracle; the within-source running total is a plain partitioned window
# here (the oracle is single-node — the distributed prefix sum is the
# Spark-side scale shape, not different semantics).
ORACLES["corpus_token_budget_sample"] = f"""
    WITH dq AS ({T_ORACLES["doc_quality"]}),
    j AS (
      SELECT d.doc_id, d.source, q.n_tokens, q.quality_score
      FROM documents d JOIN dq q ON d.doc_id = q.doc_id
    ),
    c AS (
      SELECT *, CAST(SUM(n_tokens) OVER (
               PARTITION BY source
               ORDER BY quality_score DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_tokens
      FROM j
    )
    SELECT doc_id, source, n_tokens, quality_score, cum_tokens
    FROM c
    WHERE cum_tokens - n_tokens < {TOKEN_BUDGET_PER_SOURCE}
"""

# Mirror of corpus_systematic_sample: the single-threaded oracle may
# use a plain running-sum window; pick points via generate_series with
# the same integer midpoint formula (DuckDB // is floor division on
# BIGINTs, matching python's // on non-negative operands).
ORACLES["corpus_systematic_sample"] = f"""
    WITH lined AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS wc,
             CAST(SUM(CAST(n_chars AS BIGINT)) OVER (
               ORDER BY source, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum
      FROM documents
    ),
    tot AS (SELECT CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS t
            FROM documents),
    pts AS (
      SELECT CAST(i AS INT) AS pick_idx,
             CAST(((2 * i + 1) * (SELECT t FROM tot)) // (2 * {SYS_SAMPLE_K})
                  AS BIGINT) AS point
      FROM generate_series(0, {SYS_SAMPLE_K - 1}) AS g(i)
    )
    SELECT p.pick_idx, p.point, l.doc_id, l.source, l.wc AS weight_chars
    FROM pts p JOIN lined l
      ON p.point >= l.cum - l.wc AND p.point < l.cum
"""

# Mirror of corpus_epoch_shuffle: same portable md5-derived 60-bit key
# (seeded), same shard mod, row_number within shard by (key, doc_id).
_SHUF_KEY = DUCKDB_HASH64.format(
    expr=f"'{SHUFFLE_SEED}|' || CAST(doc_id AS VARCHAR)"
)
ORACLES["corpus_epoch_shuffle"] = f"""
    SELECT doc_id, shard, shuffle_key,
           CAST(row_number() OVER (
             PARTITION BY shard ORDER BY shuffle_key, doc_id
           ) AS INT) AS pos
    FROM (
      SELECT doc_id, {_SHUF_KEY} AS shuffle_key,
             CAST({_SHUF_KEY} % {SHUFFLE_SHARDS} AS INT) AS shard
      FROM documents
    )
"""

# Mirror of corpus_quality_report: composed from the same per-stage
# oracles the three signals are individually verified against.
from .selection_queries import ORACLES as S_ORACLES  # noqa: E402

ORACLES["corpus_quality_report"] = f"""
    WITH g AS MATERIALIZED ({T_ORACLES["doc_quality_gates"]}),
    c AS MATERIALIZED ({S_ORACLES["doc_quality_classifier"]}),
    s AS MATERIALIZED ({S_ORACLES["doc_dsir_importance"]}),
    cells AS (
      SELECT g.keep AS gates_keep, c.keep AS classifier_keep,
             s.selected AS dsir_selected, count(1) AS n_docs
      FROM g
      JOIN c ON g.doc_id = c.doc_id
      JOIN s ON g.doc_id = s.doc_id
      GROUP BY 1, 2, 3
    ),
    tot AS (SELECT count(1) AS total_docs FROM documents)
    SELECT gates_keep, classifier_keep, dsir_selected, n_docs,
           CAST(n_docs AS DOUBLE) / CAST(total_docs AS DOUBLE) AS share
    FROM cells CROSS JOIN tot
"""

# Mirror of corpus_temperature_mix: sqrt is IEEE-correctly-rounded in
# both engines; each sqrt snaps to the 9 dp grid and the normalizer sums
# exact BIGINT nano-units, so shares divide identical integers.
ORACLES["corpus_temperature_mix"] = f"""
    WITH per AS (
      SELECT source, count(1) AS n_docs,
             CAST(sum(len({_TOKS_SQL})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1
    ),
    w AS (
      SELECT *,
             CAST(floor(round(sqrt(CAST(n_tokens AS DOUBLE)), 9) * 1e9 + 0.5)
                  AS BIGINT) AS w9
      FROM per
    ),
    tot AS (
      SELECT CAST(sum(n_tokens) AS BIGINT) AS _tot,
             CAST(sum(w9) AS BIGINT) AS _wtot
      FROM w
    )
    SELECT source, n_docs, n_tokens,
           CAST(n_tokens AS DOUBLE) / CAST(_tot AS DOUBLE) AS raw_share,
           CAST(w9 AS DOUBLE) / CAST(_wtot AS DOUBLE) AS temp_share,
           (CAST(w9 AS DOUBLE) / CAST(_wtot AS DOUBLE))
             / (CAST(n_tokens AS DOUBLE) / CAST(_tot AS DOUBLE)) AS boost
    FROM w CROSS JOIN tot
"""

_ARES_HASH = DUCKDB_HASH64.format(expr="'ares|' || CAST(doc_id AS VARCHAR)")
# Mirror of corpus_priority_sample: same seeded hash, same log-space
# Efraimidis-Spirakis key, row_number top-k (ties broken by doc_id on
# both sides).
ORACLES["corpus_priority_sample"] = f"""
    WITH k AS (
      SELECT doc_id, source, n_chars,
             (round(log2(CAST(GREATEST({_ARES_HASH}, 1) AS DOUBLE)), 9) - 60.0)
               / CAST(GREATEST(n_chars, 1) AS DOUBLE) AS priority_key
      FROM documents
    )
    SELECT doc_id, source, n_chars, priority_key, CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (ORDER BY priority_key DESC, doc_id) AS rank
      FROM k
    ) WHERE rank <= {PRIORITY_SAMPLE_K}
"""

# Mirror of corpus_quality_calibration: same per-doc score/gate oracles,
# quantile_cont array thresholds, list_filter decile fold, fixed-point
# mean.
ORACLES["corpus_quality_calibration"] = f"""
    WITH sc AS MATERIALIZED ({S_ORACLES["doc_quality_classifier"]}),
    g AS MATERIALIZED ({T_ORACLES["doc_quality_gates"]}),
    thr AS (
      SELECT quantile_cont(score,
               [{", ".join(str((i + 1) / 10.0) for i in range(CAL_DECILES))}])
             AS q
      FROM sc
    ),
    j AS (
      SELECT CAST(1 + len(list_filter(thr.q, x -> sc.score > x)) AS INT)
               AS decile,
             CASE WHEN g.keep THEN 1 ELSE 0 END AS gk,
             CAST(floor(sc.score * 1000000000.0 + 0.5) AS BIGINT) AS s9
      FROM sc JOIN g ON g.doc_id = sc.doc_id CROSS JOIN thr
    )
    SELECT decile, count(1) AS n_docs,
           CAST(sum(gk) AS BIGINT) AS n_pass_gates,
           CAST(sum(gk) AS DOUBLE) / CAST(count(1) AS DOUBLE)
             AS gates_pass_rate,
           CAST(CAST(sum(s9) AS BIGINT) AS DOUBLE) / 1000000000.0
             / CAST(count(1) AS DOUBLE) AS mean_score
    FROM j GROUP BY 1
"""
