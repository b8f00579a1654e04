"""Round-12 additions: the clustered (SemDeDup-posture) near-dup pair
finder — the measured head-to-head alternative to the hyperplane LSH
(VERDICT r11 #1)."""

from __future__ import annotations

import pyspark.sql.functions as F


def test_clus_assign_emits_probe_rows_per_vector(spark, sf001_dir):
    """Every vector gets exactly min(CLUS_PROBE, k) cell assignments,
    and every assigned cid is a valid centroid id (< k)."""
    from content_analytics_etl_spark.functions.vectors import (
        l2_norm,
        to_double_array,
    )
    from content_analytics_etl_spark.plans._util import t
    from content_analytics_etl_spark.plans.similarity_queries import (
        CLUS_PROBE,
        _clus_assign,
        _clus_params_rel,
    )

    e = (
        t(spark, sf001_dir, "embeddings")
        .select("vec_id", to_double_array("embedding").alias("v"))
        .withColumn("nrm", l2_norm(F.col("v")))
    )
    k = _clus_params_rel(e).collect()[0]["k"]
    asg = _clus_assign(e, _clus_params_rel(e))
    per_vec = asg.groupBy("vec_id").count().collect()
    want = min(CLUS_PROBE, k)
    assert per_vec and all(r["count"] == want for r in per_vec)
    assert asg.filter((F.col("cid") < 0) | (F.col("cid") >= k)).count() == 0


def test_clustered_pairs_subset_of_exact_on_cap(spark, sf001_dir):
    """Candidate filtering can only LOSE pairs: under the EXACT_CAP
    subpopulation, every clustered pair must appear in the exhaustive
    scan's result (same threshold), i.e. recall_cap ≤ 1 by set
    containment, not just by count ratio."""
    from content_analytics_etl_spark.plans.similarity_queries import (
        EXACT_CAP,
        sim_neardup_clustered,
        sim_neardup_exact,
    )

    clus = {
        (r["vec_a"], r["vec_b"])
        for r in sim_neardup_clustered(spark, sf001_dir)
        .filter((F.col("vec_a") < EXACT_CAP) & (F.col("vec_b") < EXACT_CAP))
        .collect()
    }
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in sim_neardup_exact(spark, sf001_dir).collect()
    }
    assert clus <= exact
    assert clus, "clustered path must find at least one pair at sf0.001"


def test_clustered_audit_consistent_with_query(spark, sf001_dir):
    """The one-row audit's counts must agree with the query it audits
    and with the exact diagnostic — no drift between the counted and
    the served relations."""
    from content_analytics_etl_spark.plans.similarity_queries import (
        sim_neardup_clustered,
        sim_neardup_clustered_audit,
        sim_neardup_exact,
    )

    row = sim_neardup_clustered_audit(spark, sf001_dir).collect()[0]
    n_pairs = sim_neardup_clustered(spark, sf001_dir).count()
    n_exact = sim_neardup_exact(spark, sf001_dir).count()
    assert row["n_pairs"] == n_pairs
    assert row["n_exact_cap"] == n_exact
    assert row["n_candidates"] >= row["n_pairs"]
    if row["n_exact_cap"]:
        assert 0.0 <= row["recall_cap"] <= 1.0


def test_range_recall_audit_consistent(spark, sf001_dir):
    """Radius-search audit invariants: hits ⊆ exact truth (the
    candidate filter can only lose pairs), so 0 ≤ recall ≤ 1, and the
    hit count must equal the registered range-search query's row
    count — no drift between the counted and the served relations."""
    from content_analytics_etl_spark.plans.similarity_queries import (
        sim_range_recall_audit,
        sim_range_search,
    )

    row = sim_range_recall_audit(spark, sf001_dir).collect()[0]
    n_hits = sim_range_search(spark, sf001_dir).count()
    assert row["n_hits"] == n_hits
    assert row["n_exact"] >= row["n_hits"]
    if row["n_exact"]:
        assert 0.0 <= row["recall"] <= 1.0


def test_decontaminate_agrees_with_range_search(spark, sf001_dir):
    """The per-train contamination flags are a rollup of the hit-level
    radius view, so a (train, eval) hit appears in BOTH views or
    NEITHER: flagged docs always have hits, every hit's train doc is
    flagged, and each flag counts its train doc's hits."""
    from content_analytics_etl_spark.plans.similarity_queries import (
        SEMDECON_COSINE,
        sim_range_search,
        sim_semantic_decontaminate,
    )

    flags = {
        r["train_id"]: r["n_eval_hits"]
        for r in sim_semantic_decontaminate(spark, sf001_dir).collect()
    }
    hits = [
        r
        for r in sim_range_search(spark, sf001_dir).collect()
        if r["cosine"] >= SEMDECON_COSINE
    ]
    by_train: dict = {}
    for r in hits:
        by_train[r["cand_id"]] = by_train.get(r["cand_id"], 0) + 1
    assert by_train == flags
