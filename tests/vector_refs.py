"""Parity references for the Arrow scoring kernels: the fold-expression
and higher-order-function forms the kernels replaced, which only tests
compare against: ``assign_clusters`` (+ ``_centroid_df``) and
``assign_clusters_literal_hof`` for ``d2_argmin_assign``,
``_ivf_coarse_assign_hof`` for ``cosine_rank_assign``, and
``_clus_assign_broadcast`` for ``_clus_assign``'s cogroup kernel."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from content_analytics_etl_spark.frames import local_frame
from content_analytics_etl_spark.functions.vectors import dot_product
from content_analytics_etl_spark.plans.similarity_queries import (
    CLUS_CELL_SPILL,
    CLUS_PROBE,
    CLUS_SUPER_PROBE,
    _query_side,
)


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


def _ivf_coarse_assign_hof(e: DataFrame, params: DataFrame) -> DataFrame:
    """The r13 row-local HOF reference implementation of the coarse
    assignment (broadcast collect_list matrix + transform/array_sort/
    slice) — kept as the parity pin for ``cosine_rank_assign``'s
    vectorized fold + stable-argsort tie rule, the same role
    ``_clus_assign_broadcast`` plays for the cogroup kernel."""
    cent = (
        e.crossJoin(F.broadcast(params.select("cells")))
        .filter(F.col("vec_id").between(1, F.col("cells")))
        .select(
            F.col("vec_id").cast("int").alias("cell"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cn"),
        )
    )
    cmat = cent.agg(
        F.collect_list(F.struct("cell", "cv", "cn")).alias("cmat")
    ).crossJoin(params.select("nprobe"))

    def _cand(c):
        # negated cosine so lexicographic ASC struct order equals the
        # oracle's (cs DESC, cell ASC); cell is unique so the cv field
        # never participates in the comparison.
        negcs = -(
            dot_product(F.col("v"), c["cv"]) / (F.col("nrm") * c["cn"])
        )
        return F.struct(
            negcs.alias("negcs"),
            c["cell"].alias("cell"),
            c["cv"].alias("cv"),
        )

    return (
        e.crossJoin(F.broadcast(cmat))
        .select(
            "vec_id",
            "v",
            "nrm",
            F.posexplode(
                F.slice(
                    F.array_sort(F.transform(F.col("cmat"), _cand)),
                    1,
                    F.col("nprobe"),
                )
            ),
        )
        .select(
            "vec_id",
            "v",
            "nrm",
            F.col("col.cell").alias("cell"),
            F.col("col.cv").alias("cv"),
            (F.col("pos") + 1).cast("int").alias("crank"),
        )
        .filter((F.col("crank") == 1) | _query_side())
    )


def _clus_assign_broadcast(e: DataFrame, params: DataFrame) -> DataFrame:
    """(vec_id, cid) rows, ≤ CLUS_PROBE per vector — the round-13
    broadcast/HOF form of the two-level quantizer, kept as the PARITY
    REFERENCE for the production cogroup path (``_clus_assign`` in
    plans/similarity_queries.py;
    ``tests/test_round14_ops.py`` pins row-set equality).  Not in any
    registered query's plan: its grouped-cell broadcast is the shape
    whose 33 MB bound forced the r13 CLUS_K_CAP, and its per-row HOF
    struct pools are the measured 1601-s-at-600k build constant
    (VERDICT r13 #1/#4) — both replaced by the sid-equi-join Arrow
    kernel.  Semantics (identical to the production path and the
    oracle): rank the s super-centroids (the s lowest-vec_id vectors),
    keep the CLUS_SUPER_PROBE nearest, then rank ONLY the cells owned
    by those supers (cell centroids = the k lowest-vec_id vectors,
    each owned by its rank-≤CLUS_CELL_SPILL nearest supers) and keep
    the CLUS_PROBE nearest — (d2, id) lexicographic tie order, Lloyd's
    deterministic init at both levels, the ``kmeans_assign`` contract."""
    sup = (
        e.crossJoin(F.broadcast(params))
        .filter(F.col("vec_id") < F.col("s"))
        .select(
            F.col("vec_id").cast("int").alias("sid"),
            F.col("v").alias("sv"),
            dot_product(F.col("v"), F.col("v")).alias("sn2"),
        )
    )
    smat = sup.agg(F.collect_list(F.struct("sid", "sv", "sn2")).alias("smat"))
    cent = (
        e.crossJoin(F.broadcast(params))
        .filter(F.col("vec_id") < F.col("k"))
        .select(
            F.col("vec_id").cast("int").alias("cid"),
            F.col("v").alias("cv"),
            dot_product(F.col("v"), F.col("v")).alias("cn2"),
        )
    )

    def _sup_cand(base_n2, base_v):
        # same operation ORDER as assign_clusters: (v·v − 2·v·s) + s·s
        def inner(t):
            d2 = base_n2 - 2.0 * dot_product(base_v, t["sv"]) + t["sn2"]
            return F.struct(d2.alias("d2"), t["sid"].alias("sid"))

        return inner

    # cell → owning supers: rank-≤CLUS_CELL_SPILL against the broadcast
    # super matrix, row-local (k rows, s dots each).  R > 1 is spilled
    # assignment (ScaNN's SOAR): boundary cells are visible from both
    # adjacent supers, recovering the pairs whose two members probe
    # different super sets.
    owned = (
        cent.crossJoin(F.broadcast(smat))
        .select(
            "cid",
            "cv",
            "cn2",
            F.explode(
                F.slice(
                    F.array_sort(
                        F.transform(
                            F.col("smat"),
                            _sup_cand(F.col("cn2"), F.col("cv")),
                        )
                    ),
                    1,
                    CLUS_CELL_SPILL,
                )
            ).alias("o"),
        )
        .select("cid", "cv", "cn2", F.col("o.sid").alias("sid"))
    )
    # one broadcast row carrying BOTH matrices: the super list and the
    # super-grouped cells (33 MB at the k cap — CLUS_K_CAP's bound)
    gmat = owned.groupBy("sid").agg(
        F.collect_list(F.struct("cid", "cv", "cn2")).alias("cells")
    )
    mats = smat.crossJoin(
        gmat.agg(F.collect_list(F.struct("sid", "cells")).alias("gmat"))
    )

    def _cell_cand(c):
        d2 = F.col("n2") - 2.0 * dot_product(F.col("v"), c["cv"]) + c["cn2"]
        return F.struct(d2.alias("d2"), c["cid"].alias("cid"))

    return (
        e.select(
            "vec_id", "v", dot_product(F.col("v"), F.col("v")).alias("n2")
        )
        .crossJoin(F.broadcast(mats))
        .withColumn(
            "psids",
            F.transform(
                F.slice(
                    F.array_sort(
                        F.transform(
                            F.col("smat"),
                            _sup_cand(F.col("n2"), F.col("v")),
                        )
                    ),
                    1,
                    CLUS_SUPER_PROBE,
                ),
                lambda t: t["sid"],
            ),
        )
        .select(
            "vec_id",
            F.explode(
                # With CLUS_CELL_SPILL > 1 a cell owned by two probed
                # supers appears twice in the flattened pool (its
                # (d2, cid) structs are bit-identical — same fold).
                # Each cid appears ≤ R times, so every one of the top-p
                # DISTINCT cells lies within the top R·p entries of the
                # sorted multiset: sort, slice R·p, THEN dedup — the
                # O(n²) array_distinct runs over R·p structs instead of
                # the whole p1·R·k/s pool (measured 3× on the whole
                # assignment, PERF.md round 13).
                F.slice(
                    F.array_distinct(
                        F.slice(
                            F.array_sort(
                                F.transform(
                                    F.flatten(
                                        F.transform(
                                            F.filter(
                                                F.col("gmat"),
                                                lambda g: F.array_contains(
                                                    F.col("psids"), g["sid"]
                                                ),
                                            ),
                                            lambda g: g["cells"],
                                        )
                                    ),
                                    _cell_cand,
                                )
                            ),
                            1,
                            CLUS_CELL_SPILL * CLUS_PROBE,
                        )
                    ),
                    1,
                    CLUS_PROBE,
                )
            ).alias("s"),
        )
        .select("vec_id", F.col("s.cid").alias("cid"))
    )
