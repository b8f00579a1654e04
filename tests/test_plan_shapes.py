"""Plan-shape regression guard: the number of shuffle Exchanges in each
key query's pre-AQE physical plan, pinned at sf0.001. Every extra shuffle
at 100 TB is a full pass of the fact data over the network, so a refactor
that silently adds one is a scale regression even when results stay
correct — exactly the class the correctness gate cannot see.

``shuffle_count`` walks the plan tree and counts each exchange once: a
cached relation's build plan once however many scans read it, a reused
exchange not again, subqueries included. The plan text is no measure: it
prints an executed AQE plan twice and a cached build once per scan.

The assertion is one-sided (``<=``): FEWER shuffles than recorded is an
improvement (update the baseline); more fails. Broadcast-exchange counts
are not asserted — AQE converting a shuffle join to broadcast is a
runtime win, not a regression.
"""

from __future__ import annotations

import re

import pytest

from content_analytics_etl_spark.plans.registry import all_queries

# query -> max shuffle-Exchange count (recorded from the current plans)
MAX_SHUFFLES = {
    # one groupBy builds the category sums and the row count (was the
    # pivot, the count branch and their join: 3); orders joins broadcast
    # at sf0.001
    "flagship_profile": 1,
    "tpch_q1_pricing_summary": 1,
    "tpch_q21_waiting_suppliers": 3,
    "events_session": 1,
    "events_asof_join": 1,
    "events_range_join": 0,
    "doc_tfidf_top_terms": 4,
    # each count includes, once, the build of the relation the query
    # reads from the session cache or persists: the _minhash_sig16
    # producer, the 60-bit signature relation feeding both band
    # self-join sides, and the per-doc ranked array shared by the
    # prefix and verify consumers (PERF 57)
    "dedup_minhash_lsh": 6,
    "dedup_simhash": 4,
    "dedup_ngram_jaccard_prefix": 6,
    # the persisted band + payload relation feeds both sides of the
    # band-key join and is counted once
    "sim_neardup_pairs": 6,
    # a rollup of sim_range_search's cached hits: the persisted band
    # relation's 3 (hyperplane_band_rows: posexplode spread, per-(id,
    # plane) and per-(id, band) aggregations) counted once, the
    # candidate distinct and the rollup's groupBy
    "sim_semantic_decontaminate": 5,
    # 2 serving-side + the session-materialized PQ code table's one-time
    # argmin shuffle (PERF 52), counted once in its cached build. The
    # plan text counted 4: that build printed twice, under the AQE final
    # and initial plans
    "sim_ann_pq_adc": 3,
    "doc_ngram_scrub": 3,  # r4: per-doc covered-array agg replaced the 3×-exploded distinct
    "doc_winnow": 1,
    "doc_chunk": 0,
    "token_cms_heavy_hitters": 4,
    "multimodal_decode": 0,
    "multimodal_frame_decode": 0,
    "doc_pack_sequences": 1,
    "doc_quality_classifier": 0,  # margin folds inside the scan projection
    # --- round-8b additions. Producer-backed queries (kcore, negatives,
    # the ANN paths, band tuning) are not pinned: no walk count has been
    # recorded for them.
    # prefix-sum rank + probe join + verify; the plan text counted 10,
    # repeating the prefix sum's persisted build
    "dedup_sorted_neighborhood": 3,
    "doc_duplicated_spans": 6,
    # the plan text counted 4, repeating the prefix sum's persisted build
    "corpus_systematic_sample": 1,
    # the two LM queries' counts include the builds of the shared
    # _lm_token_counts/_lm_bigram_counts producers; doc_sparse_cosine_topk's
    # includes its weight relation, persisted for 3 consumers
    "doc_kneser_ney_perplexity": 8,
    "doc_domain_surprisal": 9,
    "doc_sparse_cosine_topk": 11,
    # r9: 8 → 10 — the label join became FULL OUTER (one-sided labels
    # must appear; ADVICE r8), which Spark cannot broadcast, so both
    # sides exchange on label. Both are #labels-row constant-size
    # relations post-aggregation; the added shuffles carry ~10 rows.
    "embedding_drift_monitor": 10,
    "warehouse_csv_roundtrip": 1,
    # cell pre-agg + per-file rollup; the 2nd shuffle carries ≤256×256
    # cell rows, not the corpus (PERF 45)
    "lineitem_zorder_layout": 2,
}

_EXCHANGE = re.compile(
    r"Exchange (hashpartitioning|rangepartitioning|RoundRobin)"
)


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def shuffle_count(df) -> int:
    """Shuffle exchanges in ``df``'s pre-AQE physical plan, each counted
    once. Walks the plan tree over py4j rather than the plan text, which
    prints an executed AQE plan twice (final and initial) and a cached
    relation's build plan once per scan that reads it:

    - ``AdaptiveSparkPlanExec`` is followed into its ``initialPlan``;
    - a query stage into its ``plan``, an ``InMemoryTableScanExec`` into
      its relation's ``cachedPlan``, each distinct cached build once;
    - a ``ReusedExchangeExec`` is a leaf, so its exchange counts only
      where it was first planned;
    - subqueries are walked like children.
    """
    jvm = df.sparkSession._jvm
    seen_builds: set[int] = set()

    def walk(node) -> int:
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            return walk(node.initialPlan())
        if kind.endswith("QueryStageExec"):
            return walk(node.plan())
        n = 0
        if kind == "InMemoryTableScanExec":
            build = node.relation().cachedPlan()
            key = jvm.java.lang.System.identityHashCode(build)
            if key not in seen_builds:
                seen_builds.add(key)
                n += walk(build)
        elif kind == "ShuffleExchangeExec" and _EXCHANGE.match(
            node.simpleString(100)
        ):
            n += 1
        for child in _seq(node.children()) + _seq(node.subqueries()):
            n += walk(child)
        return n

    return walk(df._jdf.queryExecution().executedPlan())


@pytest.mark.parametrize("name", sorted(MAX_SHUFFLES))
def test_shuffle_count_does_not_regress(spark, sf_dir, name):
    df = all_queries()[name](spark, sf_dir)
    n = shuffle_count(df)
    assert n <= MAX_SHUFFLES[name], (
        f"{name}: {n} shuffle exchanges (recorded max {MAX_SHUFFLES[name]}) — "
        "a new shuffle is a scale regression; if intentional, update the "
        "baseline with a PERF.md note"
    )


# Top-k queries that MUST compile to TakeOrderedAndProject (per-partition
# top-k + k-row merge), never a full-relation single-partition Window sort.
# VERDICT r4 #3: these previously relied on Spark's silent window-group-limit
# rewrite of ``row_number ≤ k``; the explicit orderBy().limit(k) idiom plus
# this assertion pins the shape against refactors.
TOPK_PINNED = [
    "token_pmi_cooccurrence",
    "events_top_paths",
    # r9 additions: both are orderBy().limit() top-ks over data-sized
    # relations (priority keys / vocab) — the rank must stay the
    # per-partition top-k + k-row merge, never a global sort
    "corpus_priority_sample",
    "vocab_zipf_fit",
]


@pytest.mark.parametrize("name", TOPK_PINNED)
def test_topk_compiles_to_take_ordered(spark, sf_dir, name):
    from tools.audit_plans import single_partition_violations

    df = all_queries()[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, (
        f"{name}: top-k lost its TakeOrderedAndProject — the rank window "
        "would sort the full relation on one task"
    )
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    fplan = df._jdf.queryExecution().explainString(mode)
    assert single_partition_violations(fplan) == []


class TestShuffleCounter:
    """``shuffle_count`` must count a shuffle once however often the plan
    text repeats it, and still see a shuffle added on top."""

    def test_counts_cached_build_once_and_sees_added_shuffle(self, spark):
        from pyspark.sql import functions as F

        base = (
            spark.range(1000)
            .groupBy((F.col("id") % 10).alias("k"))
            .agg(F.count(F.lit(1)).alias("n"))
            .persist()
        )
        joined = None
        try:
            base.count()
            joined = (
                base.alias("a")
                .join(F.broadcast(base.alias("b")), "k")
                .persist()
            )
            joined.count()
            text = joined._jdf.queryExecution().executedPlan().toString()
            assert len(_EXCHANGE.findall(text)) > 1
            assert shuffle_count(joined) == 1
            assert shuffle_count(joined.repartition(3, "k")) == 2
        finally:
            if joined is not None:
                joined.unpersist()
            base.unpersist()


class TestSinglePartitionAudit:
    """The audit tool's single-partition check must actually fire
    (round-3 verdict: both branches of the old check fell through to
    ``pass``, so a repartition(1) plan went unflagged)."""

    @staticmethod
    def _formatted(df):
        mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        return df._jdf.queryExecution().explainString(mode)

    def test_flags_seeded_repartition_1(self, spark):
        from tools.audit_plans import single_partition_violations

        bad = spark.range(1000).repartition(1).selectExpr("id * 2 AS x")
        probs = single_partition_violations(self._formatted(bad))
        assert probs and "repartition(1)" in probs[0]

    def test_flags_non_aggregated_single_partition_funnel(self, spark):
        from tools.audit_plans import single_partition_violations

        # coalesce-free global sort-merge into one partition via a
        # window over an empty partitionBy is the classic accidental
        # funnel: every row through one task
        from pyspark.sql import Window, functions as F

        bad = spark.range(1000).withColumn(
            "rn", F.row_number().over(Window.orderBy("id"))
        )
        probs = single_partition_violations(self._formatted(bad))
        assert probs, "empty-partitionBy window funnel must be flagged"

    def test_flags_keyed_aggregate_funnel(self, spark):
        """VERDICT r4 #2 negative test: a KEYED group-by under a
        single-partition exchange is a |keys|-row funnel that grows with
        the data — the old any-HashAggregate exemption let it pass (how
        part_revenue_abc's full per-part sort+window went unflagged)."""
        from pyspark.sql import Window, functions as F

        from tools.audit_plans import single_partition_violations

        bad = (
            spark.range(1000)
            .groupBy((F.col("id") % 100).alias("k"))
            .agg(F.sum("id").alias("s"))
            .withColumn("cum", F.sum("s").over(Window.orderBy("k")))
        )
        probs = single_partition_violations(self._formatted(bad))
        assert probs, "keyed-aggregate global-window funnel must be flagged"

    def test_allows_rank_over_explicit_topk(self, spark):
        """rank window over an orderBy().limit(k) — bounded at k rows."""
        from pyspark.sql import Window, functions as F

        from tools.audit_plans import single_partition_violations

        top = (
            spark.range(1000)
            .orderBy("id")
            .limit(5)
            .withColumn("rank", F.row_number().over(Window.orderBy("id")))
        )
        assert single_partition_violations(self._formatted(top)) == []

    def test_allows_global_aggregate_and_limit(self, spark):
        from pyspark.sql import functions as F

        from tools.audit_plans import single_partition_violations

        agg = spark.range(1000).agg(F.sum("id").alias("s"))
        assert single_partition_violations(self._formatted(agg)) == []
        lim = spark.range(1000).orderBy("id").limit(5)
        assert single_partition_violations(self._formatted(lim)) == []
