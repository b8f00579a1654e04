"""K-means (Lloyd) over ``array<double>`` embedding columns — the
iterative-algorithm operator behind IVF coarse quantization
(plans/similarity_queries.py seeds its cells with corpus vectors; this
is the trainer that would replace that seed at production quality).

Spark-first shape, per iteration (ONE job, ONE k-group shuffle):

1. **Assign** — the centroids live on the driver between iterations and
   ride into the row-local Arrow kernel ``d2_argmin_assign``: a pure
   map, no crossJoin row multiplication, no corpus-wide window shuffle.
   d2 = ``(|v|² − 2·v·c) + |c|²`` from the exact dot-product folds, ties
   → lowest cid — the arithmetic and tie rule of the fold expressions
   and the oracles.
2. **Update + SSE, fused** — ``posexplode`` to the (cluster, dim)
   decimal-exact mean grid as before, with the per-cluster SSE decimal
   partial riding in the pos=0 cell — one job per iteration instead of
   the old assign/update/SSE three. Decimal sums make the centroids
   bit-identical run to run (double Σ is order-dependent; see
   plans/_util.py policy).
3. **Collect** — the k-row centroid+SSE aggregate (a few KB at any
   corpus scale) is collected to the driver and handed to the next
   iteration's assign kernel. This is the one legitimate driver
   materialization in the engine: centroids are O(k·dim) by definition,
   independent of corpus size, and collecting them truncates the
   lineage so iteration N's plan doesn't embed iterations 1…N−1.

Empty clusters keep their previous centroid (no NaNs, stable k).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.vectors import fold_dot, select_topn
from .similarity import map_chunks

__all__ = [
    "KMeansModel",
    "kmeans_fit",
    "assign_clusters_literal",
    "d2_argmin_assign",
]

_DEC = "decimal(28,12)"


@dataclass
class KMeansModel:
    centroids: list[list[float]]  # k × dim
    sse_history: list[float]  # total SSE after each iteration


def d2_argmin_assign(
    corpus: DataFrame,
    cent_pairs: list[tuple[int, list[float]]],
    *,
    id_col: str = "vec_id",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Nearest-centroid assignment as a row-local Arrow kernel. The
    k×dim centroid matrix rides in as a task closure (the
    kmeans-centroid collect policy: O(k·dim) index metadata, never
    corpus data); each Arrow batch computes its own argmin — no row
    multiplication, no exchange, one pass.

    BIT-IDENTICAL to both HOF forms and the oracles: every dot is
    ``fold_dot``, combined as ``(v·v − 2·(v·c)) + c·c`` in the exact
    expression order, and ties resolve to the LOWEST cid because the
    centroid matrix is cid-sorted and ``select_topn`` is stable — the
    lexicographic struct-min / row_number (d2 ASC, cid ASC) rule. A
    NaN component gives a NaN d2, which raises. Parity with both HOF
    forms (tests/vector_refs.py) is pinned in tests/test_round15_ops.py.

    ``cent_pairs``: (cid, centroid) pairs, any order, cids need not be
    contiguous. ``corpus`` needs (id_col, v[, *passthrough]); output is
    (id_col[, *passthrough], cid int, d2 double), same row count."""
    cent_sorted = sorted((int(c), [float(x) for x in cv]) for c, cv in cent_pairs)
    cids = np.asarray([c for c, _ in cent_sorted], dtype=np.int32)
    cmat = np.asarray([cv for _, cv in cent_sorted], dtype=np.float64)
    dcc = fold_dot(cmat, cmat)

    def assign(ch):
        X = np.stack(ch["v"].to_numpy())
        d2 = (fold_dot(X, X)[:, None] - 2.0 * fold_dot(X[:, None], cmat)) + dcc
        idx = select_topn(d2, 1)[:, 0]
        out = {c: ch[c] for c in (id_col, *passthrough)}
        out["cid"] = cids[idx]
        out["d2"] = d2[np.arange(len(idx)), idx]
        return out

    return map_chunks(
        corpus,
        [id_col, "v", *passthrough],
        [
            id_col,
            *passthrough,
            T.StructField("cid", T.IntegerType(), False),
            T.StructField("d2", T.DoubleType(), False),
        ],
        assign,
    )


def assign_clusters_literal(
    corpus: DataFrame, centroids: list[list[float]]
) -> DataFrame:
    """Nearest-centroid assignment with driver-resident centroids —
    since r15 a thin wrapper over the :func:`d2_argmin_assign` Arrow
    kernel (cid = list index), keeping the (vec_id, v, cid, d2) output
    contract."""
    return d2_argmin_assign(
        corpus, list(enumerate(centroids)), passthrough=("v",)
    ).select("vec_id", "v", "cid", "d2")


def kmeans_fit(
    corpus: DataFrame, *, k: int, iters: int = 5
) -> KMeansModel:
    """Lloyd iterations over ``corpus`` (vec_id, v: array<double>).
    Init = the k lowest-vec_id vectors (deterministic). Returns the
    final centroids and the per-iteration total SSE (decimal-exact, so
    the history is reproducible bit-for-bit)."""
    import decimal

    corpus = corpus.persist()  # scanned once per iteration
    init = (
        corpus.orderBy("vec_id")
        .limit(k)
        .select("v")
        .collect()
    )
    centroids = [list(r["v"]) for r in init]
    sse_history: list[float] = []
    for _ in range(iters):
        assigned = assign_clusters_literal(corpus, centroids)
        # fused update + SSE in ONE job: the per-(cid, pos) decimal mean
        # grid as before, with the per-cluster SSE partial riding along
        # in the pos=0 cell (sum of an all-NULL column elsewhere) — no
        # second SSE pass, no persisted intermediate. (A 64-column wide
        # agg was tried instead of posexplode and rejected: per-iteration
        # ANALYSIS of the 65-aggregate plan cost ~2 s and its first
        # codegen ~20 s — the small-plan explode grid wins on the driver,
        # not the executor.)
        per_dim = (
            assigned.select("cid", "d2", F.posexplode("v").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(
                (F.sum(F.col("x").cast(_DEC)).cast("double") / F.count(F.lit(1)))
                .alias("m"),
                F.sum(
                    F.when(F.col("pos") == 0, F.col("d2")).cast(_DEC)
                ).alias("sd2"),
            )
        )
        rows = (
            per_dim.groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s.getField("m"),
                ).alias("cv"),
                F.max("sd2").alias("sd2"),  # the pos=0 cell is the only non-null
            )
            .collect()
        )
        for r in rows:
            centroids[r["cid"]] = list(r["cv"])
        # total SSE: sum the per-cluster decimal partials EXACTLY, then
        # one correctly-rounded cast — bit-identical to the old single
        # decimal Σ over all rows cast to double
        with decimal.localcontext() as ctx:
            ctx.prec = 60
            sse_history.append(float(sum(r["sd2"] for r in rows)))
    corpus.unpersist()
    return KMeansModel(centroids=centroids, sse_history=sse_history)
