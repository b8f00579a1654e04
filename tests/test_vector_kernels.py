"""The shared NumPy scoring core (``functions/vectors.py``: ``fold_dot``,
``fold_d2``, ``select_topn``) and the loud preconditions of the Arrow
kernels built on it: a score with no defined rank raises instead of
being ranked where one engine would put it."""

from __future__ import annotations

import numpy as np
import pytest

from content_analytics_etl_spark.functions.vectors import (
    fold_d2,
    fold_dot,
    select_topn,
)


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
