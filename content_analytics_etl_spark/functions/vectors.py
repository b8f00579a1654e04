"""Vector math over ``array<float>`` embedding columns.

Built-in higher-order functions only (``zip_with`` + ``aggregate`` fold):
JVM-side, no Python crossing, and the left-to-right fold makes the double
accumulation bit-deterministic — the same value every run and the same
value DuckDB's sequential list_sum produces (verified).

The NumPy twins (``fold_dot``, ``fold_d2``, ``select_topn``) are the one
scoring core of every Arrow kernel (operators/similarity.py,
operators/kmeans.py, the power iteration): they accumulate in the same
left-to-right order, one rounded operation at a time, so a kernel's
scores are bit-identical to the fold expressions and to the DuckDB
oracles. A BLAS matmul is not (it reassociates the adds).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "to_double_array",
    "dot_product",
    "l2_norm",
    "cosine_similarity",
    "fold_dot",
    "fold_d2",
    "select_topn",
]


def to_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot_product(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as a left fold (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot_product(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))


def fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """NumPy twin of :func:`dot_product`: Σ_d a[..., d]·b[..., d] over the
    last axis, the leading axes broadcast (``fold_dot(X[:, None], C)`` is
    the rows × centroids matrix, ``fold_dot(X, X)`` the per-row squared
    norm). Each dimension is one multiply and one add, each rounded —
    NumPy does not fuse multiply-add — so every element is the JVM fold's
    and DuckDB's list_sum's exact IEEE sequence."""
    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    for d in range(a.shape[-1]):
        acc += a[..., d] * b[..., d]
    return acc


def fold_d2(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Σ_d (a[..., d] − b[..., d])² as the same left fold: one subtract,
    one multiply and one add per dimension — the
    ``aggregate(zip_with(a, b, (x, y) -> (x − y) * (x − y)))`` sequence."""
    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    for d in range(a.shape[-1]):
        t = a[..., d] - b[..., d]
        acc += t * t
    return acc


def select_topn(scores: np.ndarray, n: int) -> np.ndarray:
    """Column indices of the ``n`` smallest scores of each row, ascending,
    as a (rows, min(n, cols)) array. The order is stable: equal scores
    go to the lower column, so over an id-sorted candidate matrix ties
    resolve to the lowest id — the oracles' ``ORDER BY score, id``.
    A NaN score raises ``ValueError``: it has no agreed rank — the
    oracles sort a NaN cosine first under ``DESC``, while an ascending
    sort of the negated cosine puts it last."""
    if np.isnan(scores).any():
        raise ValueError(
            "NaN score: a NaN vector component, or a zero-norm vector or "
            "centroid under cosine, has no defined rank"
        )
    if n == 1:  # argmin returns the first minimum: the stable order's head
        return np.argmin(scores, axis=1)[:, None]
    return np.argsort(scores, axis=1, kind="stable")[:, :n]
