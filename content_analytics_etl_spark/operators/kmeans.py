"""K-means (Lloyd) over ``array<double>`` embedding columns — the
iterative-algorithm operator behind IVF coarse quantization
(plans/similarity_queries.py seeds its cells with corpus vectors; this
is the trainer that would replace that seed at production quality).

Spark-first shape, per iteration (ONE job, ONE k-group shuffle):

1. **Assign** — the centroids live on the driver between iterations, so
   the nearest-centroid step inlines them as LITERAL arrays and takes
   ``array_min`` over the k (d2, cid) structs ROW-LOCALLY: a pure map,
   no crossJoin row multiplication, no corpus-wide window shuffle.
   d2 = ``|v|² − 2·v·c + |c|²`` from fold-based dot products, ties →
   lowest cid — identical arithmetic and tie rule to the relational
   ``assign_clusters`` (which stays for DataFrame-valued centroids).
2. **Update + SSE, fused** — ``posexplode`` to the (cluster, dim)
   decimal-exact mean grid as before, with the per-cluster SSE decimal
   partial riding in the pos=0 cell — one job per iteration instead of
   the old assign/update/SSE three. Decimal sums make the centroids
   bit-identical run to run (double Σ is order-dependent; see
   plans/_util.py policy).
3. **Collect** — the k-row centroid+SSE aggregate (a few KB at any
   corpus scale) is collected to the driver and re-inlined as literals
   for the next iteration. This is the one legitimate driver
   materialization in the engine: centroids are O(k·dim) by definition,
   independent of corpus size, and collecting them truncates the
   lineage so iteration N's plan doesn't embed iterations 1…N−1.

Empty clusters keep their previous centroid (no NaNs, stable k).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..frames import local_frame
from ..functions.vectors import dot_product

__all__ = [
    "KMeansModel",
    "kmeans_fit",
    "assign_clusters",
    "assign_clusters_literal",
    "assign_clusters_literal_hof",
    "d2_argmin_assign",
]

_DEC = "decimal(28,12)"


@dataclass
class KMeansModel:
    centroids: list[list[float]]  # k × dim
    sse_history: list[float]  # total SSE after each iteration


def _centroid_df(spark: SparkSession, centroids: list[list[float]]) -> DataFrame:
    schema = T.StructType(
        [
            T.StructField("cid", T.IntegerType()),
            T.StructField("cv", T.ArrayType(T.DoubleType())),
        ]
    )
    return local_frame(
        spark, [(i, [float(x) for x in c]) for i, c in enumerate(centroids)], schema
    )


def assign_clusters(corpus: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast the k-row centroid
    relation, rank-1 window on squared L2 (ties → lowest cid).
    ``corpus`` needs columns (vec_id, v: array<double>)."""
    d2 = (
        dot_product(F.col("v"), F.col("v"))
        - 2.0 * dot_product(F.col("v"), F.col("cv"))
        + dot_product(F.col("cv"), F.col("cv"))
    )
    ranked = (
        corpus.crossJoin(F.broadcast(cent))
        .select("vec_id", "v", "cid", d2.alias("d2"))
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("vec_id").orderBy(F.col("d2").asc(), F.col("cid"))
            ),
        )
    )
    return ranked.filter(F.col("rk") == 1).select("vec_id", "v", "cid", "d2")


def d2_argmin_assign(
    corpus: DataFrame,
    cent_pairs: list[tuple[int, list[float]]],
    *,
    id_col: str = "vec_id",
    passthrough: tuple[str, ...] = (),
    chunk_rows: int = 8192,
) -> DataFrame:
    """Nearest-centroid assignment as a row-local Arrow kernel — the
    r15 optimization (guide §4.2) replacing the per-row interpreted HOF
    chains (``assign_clusters_literal``'s transform/array_min pool and
    ``assign_clusters``'s broadcast crossJoin × rank-1 window, which
    additionally paid a full corpus-wide partitionBy(vec_id) exchange).
    The k×dim centroid matrix rides in as a task closure (the
    kmeans-centroid collect policy: O(k·dim) index metadata, never
    corpus data); each Arrow batch computes its own argmin — no row
    multiplication, no exchange, one pass.

    BIT-IDENTICAL to both HOF forms and the oracles: d2 accumulates
    dimension-by-dimension with the ``dot_product`` left-fold IEEE
    sequence (one multiply, one add per step — numpy does not fuse),
    combined as ``(v·v − 2·(v·c)) + c·c`` in the exact expression
    order, and ties resolve to the LOWEST cid because the centroid
    matrix is cid-sorted and ``np.argmin`` returns the first minimum —
    the lexicographic struct-min / row_number (d2 ASC, cid ASC) rule.
    Parity is pinned in tests/test_round15_ops.py and (transitively)
    tests/test_kmeans.py's model-vs-assign_clusters contract.

    ``cent_pairs``: (cid, centroid) pairs, any order, cids need not be
    contiguous. ``corpus`` needs (id_col, v[, *passthrough]); output is
    (id_col[, *passthrough], cid int, d2 double), same row count."""
    import numpy as np
    import pandas as pd

    cent_sorted = sorted((int(c), [float(x) for x in cv]) for c, cv in cent_pairs)
    cids = np.asarray([c for c, _ in cent_sorted], dtype=np.int32)
    cmat = np.asarray([cv for _, cv in cent_sorted], dtype=np.float64)
    k, dim = cmat.shape
    # c·c per centroid: the same left fold, vectorized across centroids
    dcc = np.zeros(k, dtype=np.float64)
    for d in range(dim):
        dcc += cmat[:, d] * cmat[:, d]

    in_fields = {f.name: f for f in corpus.schema.fields}
    out_schema = T.StructType(
        [in_fields[id_col]]
        + [in_fields[c] for c in passthrough]
        + [
            T.StructField("cid", T.IntegerType(), False),
            T.StructField("d2", T.DoubleType(), False),
        ]
    )
    out_cols = [id_col, *passthrough, "cid", "d2"]

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for start in range(0, len(pdf), chunk_rows):
                ch = pdf.iloc[start : start + chunk_rows]
                X = np.stack(ch["v"].to_numpy())
                n = X.shape[0]
                dv = np.zeros(n, dtype=np.float64)
                dvc = np.zeros((n, k), dtype=np.float64)
                for d in range(dim):
                    xd = X[:, d]
                    dv += xd * xd
                    dvc += xd[:, None] * cmat[:, d]
                d2 = (dv[:, None] - 2.0 * dvc) + dcc[None, :]
                idx = np.argmin(d2, axis=1)  # first min -> lowest cid
                data = {id_col: ch[id_col]}
                for c in passthrough:
                    data[c] = ch[c]
                data["cid"] = cids[idx]
                data["d2"] = d2[np.arange(n), idx]
                yield pd.DataFrame(data)[out_cols]

    in_cols = [id_col, "v"]
    in_cols += [c for c in passthrough if c not in in_cols]
    return corpus.select(*in_cols).mapInPandas(assign, schema=out_schema)


def assign_clusters_literal(
    corpus: DataFrame, centroids: list[list[float]]
) -> DataFrame:
    """Nearest-centroid assignment with driver-resident centroids —
    since r15 a thin wrapper over the :func:`d2_argmin_assign` Arrow
    kernel (cid = list index), keeping the (vec_id, v, cid, d2) output
    contract. The former HOF form is retained as
    :func:`assign_clusters_literal_hof` — the parity reference the
    kernel is pinned against."""
    return d2_argmin_assign(
        corpus, list(enumerate(centroids)), passthrough=("v",)
    ).select("vec_id", "v", "cid", "d2")


def assign_clusters_literal_hof(
    corpus: DataFrame, centroids: list[list[float]]
) -> DataFrame:
    """Nearest-centroid assignment with DRIVER-RESIDENT centroids:
    the k×dim matrix rides in as ONE broadcast row (array of (cid, cv)
    structs — plan DATA, deliberately not inlined literals: literal
    centroids change the generated code each Lloyd iteration and every
    iteration pays a fresh Janino compile, measured 3.6 → 8.0 s on the
    full trainer). d2 per centroid is computed row-locally inside a
    ``transform`` lambda and the winner is ``array_min`` over the k
    (d2, cid) structs — lexicographic struct order gives (d2 ASC,
    cid ASC), the same tie rule as ``assign_clusters``'s window. No
    row multiplication (the crossJoin build side is exactly 1 row),
    no corpus shuffle. Same (vec_id, v, cid, d2) output."""
    spark = corpus.sparkSession
    mat_type = T.ArrayType(
        T.StructType(
            [
                T.StructField("cid", T.IntegerType()),
                T.StructField("cv", T.ArrayType(T.DoubleType())),
            ]
        )
    )
    mat = local_frame(
        spark,
        [([(i, [float(x) for x in c]) for i, c in enumerate(centroids)],)],
        T.StructType([T.StructField("cmat", mat_type)]),
    )

    def _cand(c):
        # same operation ORDER as assign_clusters: (v·v − 2·v·c) + c·c
        d2 = (
            dot_product(F.col("v"), F.col("v"))
            - 2.0 * dot_product(F.col("v"), c["cv"])
            + dot_product(c["cv"], c["cv"])
        )
        return F.struct(d2.alias("d2"), c["cid"].alias("cid"))

    best = F.array_min(F.transform(F.col("cmat"), _cand))
    return corpus.crossJoin(F.broadcast(mat)).select(
        "vec_id", "v", best.getField("cid").alias("cid"),
        best.getField("d2").alias("d2"),
    )


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
