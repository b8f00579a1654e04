"""Contracts for the iterative k-means operator (operators/kmeans.py):
Lloyd monotonicity, bit-determinism across runs and partitionings, and
complete assignment."""

from __future__ import annotations

from pyspark.sql import functions as F

from content_analytics_etl_spark.functions.vectors import to_double_array
from content_analytics_etl_spark.operators.kmeans import kmeans_fit
from content_analytics_etl_spark.sources.readers import load_table
from vector_refs import _centroid_df, assign_clusters

K = 4
ITERS = 3


def _corpus(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("v")
    )


def test_kmeans_sse_monotone_and_complete(spark, sf_dir):
    e = _corpus(spark, sf_dir)
    n = e.count()
    model = kmeans_fit(e, k=K, iters=ITERS)
    # Lloyd: each assign+update pair can only lower total SSE
    assert all(
        a >= b - 1e-9 for a, b in zip(model.sse_history, model.sse_history[1:])
    )
    assigned = assign_clusters(e, _centroid_df(spark, model.centroids))
    assert assigned.count() == n  # every vector lands in exactly one cluster
    assert assigned.select("cid").distinct().count() <= K


def test_kmeans_bit_deterministic_across_partitionings(spark, sf_dir):
    """Decimal-exact centroid sums ⇒ identical bits regardless of
    parallelism — the same invariance contract as the oracle-checked
    queries, asserted here by re-running under a different partition
    count."""
    e = _corpus(spark, sf_dir)
    m1 = kmeans_fit(e, k=K, iters=ITERS)
    m2 = kmeans_fit(e.repartition(3), k=K, iters=ITERS)
    assert m1.sse_history == m2.sse_history
    assert m1.centroids == m2.centroids


def test_pq_train_matches_python_lloyd_step(spark):
    """One PQ Lloyd step: assignment (argmin, ties to lowest k) and the
    1e-9-grid fixed-point centroid means must match a from-scratch
    python recompute; empty centroids keep their old components."""
    import math
    from collections import defaultdict

    import duckdb

    from content_analytics_etl_spark.plans.similarity_queries import (
        PQ_KS,
        PQ_M,
        PQ_SUB_DIM,
        embedding_pq_train,
    )

    sf = "/root/testdata/sf0.001"
    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{sf}/embeddings.parquet'"
    ).fetchall()
    subs = {
        (vid, m): [float(x) for x in emb[m * PQ_SUB_DIM : (m + 1) * PQ_SUB_DIM]]
        for vid, emb in rows
        for m in range(PQ_M)
    }
    cb = {
        (m, k): subs[(k, m)] for k in range(1, PQ_KS + 1) for m in range(PQ_M)
    }
    n = defaultdict(int)
    s = defaultdict(int)
    for (vid, m), sv in subs.items():
        best = None
        for k in range(1, PQ_KS + 1):
            d2 = 0.0
            for x, y in zip(sv, cb[(m, k)]):
                d2 += (x - y) * (x - y)
            if best is None or (d2, k) < best:
                best = (d2, k)
        k = best[1]
        n[(m, k)] += 1
        for i, x in enumerate(sv):
            s[(m, k, i)] += math.floor(x * 1000000000.0 + 0.5)
    want = {}
    for (m, k), cv in cb.items():
        for i, old in enumerate(cv):
            cnt = n[(m, k)]
            new = (
                old
                if cnt == 0
                else float(s[(m, k, i)]) / (float(cnt) * 1000000000.0)
            )
            want[(m, k, i)] = (cnt, old, new)
    got = {
        (r["m"], r["k"], r["dim_idx"]): (
            r["n_assigned"],
            r["old_comp"],
            r["new_comp"],
        )
        for r in embedding_pq_train(spark, sf).collect()
    }
    assert got == want
    assert any(v[0] > 0 for v in want.values())
