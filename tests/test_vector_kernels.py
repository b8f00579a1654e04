"""The shared NumPy scoring core (``functions/vectors.py``: ``fold_dot``,
``fold_d2``, ``select_topn``) and the loud preconditions of the Arrow
kernels built on it: a score with no defined rank raises instead of
being ranked where one engine would put it, and a kernel's scores are
the fold expressions' doubles."""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from content_analytics_etl_spark.functions.vectors import (
    dot_product,
    fold_d2,
    fold_dot,
    l2_norm,
    select_topn,
)
from content_analytics_etl_spark.operators.similarity import cell_cosine_pairs


def test_folds_match_python_left_fold():
    """Bit-equal (not approx) to a one-operation-at-a-time Python fold,
    for the pairwise matrix and for per-row self dots."""
    rng = np.random.default_rng(9)
    X = rng.uniform(-1, 1, (5, 13))
    C = rng.uniform(-1, 1, (4, 13))
    dots = fold_dot(X[:, None], C)
    d2 = fold_d2(X[:, None], C)
    assert dots.shape == d2.shape == (5, 4)
    for i, x in enumerate(X):
        for j, c in enumerate(C):
            acc = acc2 = 0.0
            for a, b in zip(x, c):
                acc = acc + a * b
                t = a - b
                acc2 = acc2 + t * t
            assert dots[i, j] == acc and d2[i, j] == acc2
        acc = 0.0
        for a in x:
            acc = acc + a * a
        assert fold_dot(X, X)[i] == acc


def test_select_topn_stable_ties_and_nan():
    s = np.array([[2.0, 1.0, 1.0, 0.5], [3.0, 3.0, 3.0, 3.0]])
    assert select_topn(s, 3).tolist() == [[3, 1, 2], [0, 1, 2]]
    assert select_topn(s, 1).tolist() == [[3], [0]]
    assert select_topn(s, 9).tolist() == [[3, 1, 2, 0], [0, 1, 2, 3]]
    for n in (1, 2):
        with pytest.raises(ValueError, match="NaN score"):
            select_topn(np.array([[1.0, np.nan, 0.0]]), n)


def test_cosine_rank_assign_zero_norm_raises(spark):
    """A zero vector, or a zero centroid, has a NaN cosine: the DuckDB
    oracle's DESC ranks it first and a NaN-last sort ranks it last, so
    the assignment must fail rather than return rows."""
    from content_analytics_etl_spark.operators.similarity import (
        cosine_rank_assign,
    )

    cents = [
        {"cell": 1, "cv": [1.0, 0.0], "cn": 1.0},
        {"cell": 2, "cv": [0.0, 1.0], "cn": 1.0},
    ]
    zero_vec = spark.createDataFrame(
        [(1, [0.0, 0.0], 0.0), (2, [1.0, 0.0], 1.0)],
        "vec_id long, v array<double>, nrm double",
    )
    with pytest.raises(Exception, match="NaN score"):
        cosine_rank_assign(zero_vec, cents, 2, lambda i, c: c >= 1).collect()
    zero_cent = cents + [{"cell": 3, "cv": [0.0, 0.0], "cn": 0.0}]
    with pytest.raises(Exception, match="NaN score"):
        cosine_rank_assign(
            zero_vec.filter("vec_id = 2"), zero_cent, 1, lambda i, c: c >= 1
        ).collect()


def test_d2_argmin_nan_component_raises(spark):
    """A NaN component makes every d2 of its row NaN; an argmin would
    pick the first centroid and return a row."""
    from content_analytics_etl_spark.operators.kmeans import d2_argmin_assign

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [float("nan"), 1.0])],
        "vec_id long, v array<double>",
    )
    with pytest.raises(Exception, match="NaN score"):
        d2_argmin_assign(corpus, [(0, [0.0, 0.0]), (1, [1.0, 1.0])]).collect()


def _cells(spark, rows):
    """(cid, vec_id, v, nrm) index rows, the norm from the fold expression."""
    return spark.createDataFrame(
        rows, "cid int, vec_id long, v array<double>"
    ).withColumn("nrm", l2_norm(F.col("v")))


def _hof_pairs(m, threshold):
    """The cid self-join with the interpreted fold cosine that
    ``cell_cosine_pairs`` replaces."""
    av = m.select(
        "cid", F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na_")
    )
    bv = m.select(
        "cid", F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb_")
    )
    cos = dot_product(F.col("va"), F.col("vb")) / (F.col("na_") * F.col("nb_"))
    return (
        av.join(bv, "cid")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


# cos(EDGE_A, EDGE_B) is exactly 0.45 as a double, norms included
EDGE_A, EDGE_B = [1.0, 0.0], [0.45, 0.8930285549745876]


def _edge_cells(spark):
    return _cells(
        spark,
        [
            (1, 1, EDGE_A),
            (1, 2, EDGE_B),
            (1, 3, [1.0, 0.01]),  # (1, 3) is a pair of cells 1 and 2
            (1, 4, [-1.0, 0.0]),
            (2, 3, [1.0, 0.01]),
            (2, 1, EDGE_A),
            (2, 5, [0.3, 0.9]),
            (3, 6, [0.2, 0.7]),  # a one-row cell
        ],
    )


@pytest.mark.parametrize("threshold", [0.45, 1.1])  # 1.1: an empty result
def test_cell_cosine_pairs_matches_fold_expression(spark, threshold):
    """Row for row and bit for bit, duplicates included: the kernel
    emits a pair once per cell it shares, as the self-join did."""
    m = _edge_cells(spark)
    want_df = _hof_pairs(m, threshold)
    got_df = cell_cosine_pairs(m, threshold)
    assert [(f.name, f.dataType) for f in got_df.schema] == [
        (f.name, f.dataType) for f in want_df.schema
    ]
    want = sorted(map(tuple, want_df.collect()))
    got = sorted(map(tuple, got_df.collect()))
    assert got == want
    if threshold == 0.45:
        assert (1, 2, 0.45) in got  # the boundary is kept
        assert [r[:2] for r in got].count((1, 3)) == 2
        assert not any(6 in r[:2] for r in got)
    else:
        assert got == []


def test_cell_cosine_pairs_fold_parity_random(spark):
    """Every pair of three random cells (threshold -2 keeps them all):
    the kernel's cosines are the fold expression's doubles."""
    rng = np.random.default_rng(14)
    rows = [
        (int(c), int(i), [float(x) for x in rng.uniform(-1, 1, 13)])
        for i, c in enumerate(rng.integers(0, 3, 40))
    ]
    m = _cells(spark, rows)
    want = sorted(map(tuple, _hof_pairs(m, -2.0).collect()))
    got = sorted(map(tuple, cell_cosine_pairs(m, -2.0).collect()))
    assert len(got) > 100 and got == want


@pytest.mark.parametrize(
    "vec, match",
    [([0.0, 0.0], "zero-norm"), ([float("nan"), 1.0], "NaN cosine")],
)
def test_cell_cosine_pairs_undefined_cosine_raises(spark, vec, match):
    """Under ANSI mode Spark raised DIVIDE_BY_ZERO on a zero-norm pair,
    and it emitted a NaN cosine as a pair (its >= orders NaN above
    0.45); the kernel raises on both."""
    m = _cells(spark, [(1, 1, [1.0, 0.0]), (1, 2, vec), (2, 3, [0.5, 0.5])])
    with pytest.raises(Exception, match=match):
        cell_cosine_pairs(m, 0.45).collect()


def test_neardup_clustered_scores_in_one_grouped_kernel(spark, sf001_dir):
    """The warm pair scan reads the persisted index into one grouped
    Arrow kernel: no interpreted fold cosine is left in its plan."""
    from content_analytics_etl_spark.plans.similarity_queries import sim_neardup_clustered

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = sim_neardup_clustered(spark, sf001_dir)._jdf.queryExecution().explainString(mode)
    assert not re.search(r"\b(zip_with|aggregate)\(", plan), plan
    assert len(re.findall(r"^\(\d+\) FlatMapGroupsInPandas", plan, re.MULTILINE)) == 1, plan
