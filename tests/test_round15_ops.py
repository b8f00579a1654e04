"""Round-15 (optimization round 2) pins.

Robustness fixes from ADVICE r14 (both low):
- ``pq_argmin_codes`` must DROP input rows whose ``m`` has no codebook
  entry (the old broadcast inner join's semantics) instead of emitting
  uninitialized garbage codes;
- ``cosine_rank_assign`` must return an empty frame for an empty
  centroid relation (the old HOF chain's behavior) instead of crashing
  on a 1-D ``np.asarray([])`` inside the Arrow worker.

Plus parity/plan pins for this round's optimizations (added alongside
each change).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_pq_argmin_drops_unknown_m(spark):
    """Inner-join semantics: a sub-vector whose m is absent from the
    codebook produces NO output row (ADVICE r14)."""
    from content_analytics_etl_spark.operators.similarity import (
        pq_argmin_codes,
    )

    cb_rows = [
        {"m": 0, "k": 1, "cv": [0.0, 0.0]},
        {"m": 0, "k": 2, "cv": [5.0, 5.0]},
    ]
    sub = spark.createDataFrame(
        [
            (10, 0, [0.1, 0.1]),
            (10, 7, [4.0, 4.0]),  # m=7: no codebook entry -> dropped
            (11, 0, [5.0, 5.0]),
        ],
        "vec_id long, m int, subv array<double>",
    )
    got = {
        (r["vec_id"], r["m"], r["k"])
        for r in pq_argmin_codes(sub, cb_rows).collect()
    }
    assert got == {(10, 0, 1), (11, 0, 2)}


def test_pq_argmin_empty_codebook(spark):
    """Degenerate codebook (no vec_id in [1, PQ_KS]): every row drops,
    like the old inner join — not garbage codes."""
    from content_analytics_etl_spark.operators.similarity import (
        pq_argmin_codes,
    )

    sub = spark.createDataFrame(
        [(10, 0, [0.1, 0.1])], "vec_id long, m int, subv array<double>"
    )
    assert pq_argmin_codes(sub, []).count() == 0


def test_cosine_rank_assign_empty_centroids(spark):
    """Empty centroid relation -> empty result with the declared schema
    (the HOF chain's behavior), not an IndexError in the kernel."""
    from content_analytics_etl_spark.operators.similarity import (
        cosine_rank_assign,
    )

    e = spark.createDataFrame(
        [(1, [1.0, 0.0], 1.0)], "vec_id long, v array<double>, nrm double"
    )
    out = cosine_rank_assign(e, [], 4, lambda ids, cranks: cranks == 1)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "vec_id", "v", "nrm", "cell", "cv", "crank",
    ]


def test_d2_argmin_assign_parity(spark, sf001_dir):
    """The Arrow argmin kernel reproduces the HOF struct-pool
    (assign_clusters_literal_hof) AND the window chain
    (assign_clusters) bit-for-bit on real data: same winner cid, same
    winner d2 doubles."""
    from content_analytics_etl_spark.functions.vectors import to_double_array
    from content_analytics_etl_spark.operators.kmeans import d2_argmin_assign
    from content_analytics_etl_spark.plans._util import t
    from vector_refs import (
        _centroid_df,
        assign_clusters,
        assign_clusters_literal_hof,
    )

    e = t(spark, sf001_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("v")
    )
    cents = [list(r["v"]) for r in e.orderBy("vec_id").limit(8).collect()]
    want = {
        (r["vec_id"], r["cid"], r["d2"])
        for r in assign_clusters_literal_hof(e, cents).collect()
    }
    want_w = {
        (r["vec_id"], r["cid"], r["d2"])
        for r in assign_clusters(e, _centroid_df(spark, cents)).collect()
    }
    got = {
        (r["vec_id"], r["cid"], r["d2"])
        for r in d2_argmin_assign(e, list(enumerate(cents))).collect()
    }
    assert got == want == want_w
    assert got  # non-vacuous


def test_d2_argmin_tie_order_and_passthrough(spark):
    """Bit-equal d2 ties resolve to the LOWEST cid (the array_min
    lexicographic-struct / row_number rule); passthrough columns and
    non-contiguous cids survive."""
    from content_analytics_etl_spark.operators.kmeans import d2_argmin_assign

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0], "a"), (2, [9.0, 9.0], "b")],
        "vec_id long, v array<double>, tag string",
    )
    # cid 7 duplicates cid 3 exactly -> ties must pick cid 3
    cents = [(7, [1.0, 0.0]), (3, [1.0, 0.0]), (5, [9.0, 9.0])]
    got = {
        (r["vec_id"], r["cid"], r["d2"], r["tag"])
        for r in d2_argmin_assign(
            corpus, cents, passthrough=("tag",)
        ).collect()
    }
    assert got == {(1, 3, 0.0, "a"), (2, 5, 0.0, "b")}

def test_ieee_bucket_monotone_and_ranges(spark):
    """ieee_bucket_asc is monotone non-decreasing over adversarial
    doubles (binade boundaries, 1-ulp neighbors, uniform ints), equal
    values share a bucket, non-positives land in one sentinel bucket
    below every positive bucket — evaluated through the REAL Spark
    expression, not a Python model."""
    import numpy as np

    from content_analytics_etl_spark.operators.prefix_sum import (
        _IEEE_SENTINEL,
        ieee_bucket_asc,
        ieee_bucket_desc,
    )

    rng = np.random.default_rng(7)
    vals = (
        list(rng.uniform(1e-9, 1e9, 2000))
        + [2.0**k for k in range(-200, 200, 7)]
        + [2.0**k * (1 - 2**-52) for k in range(-200, 200, 7)]
        + [2.0**k * (1 + 2**-52) for k in range(-200, 200, 7)]
        + [float(v) for v in range(1, 500)]
        + [0.0, -1.0, -1e300]
    )
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    rows = (
        df.select("x", ieee_bucket_asc("x").alias("p"),
                  ieee_bucket_desc("x").alias("pd"))
        .collect()
    )
    rows.sort(key=lambda r: r["x"])
    ps = [r["p"] for r in rows]
    assert all(a <= b for a, b in zip(ps, ps[1:]))
    pds = [r["pd"] for r in rows]
    assert all(a >= b for a, b in zip(pds, pds[1:]))
    by_val = {}
    for r in rows:
        by_val.setdefault(r["x"], set()).add(r["p"])
    assert all(len(s) == 1 for s in by_val.values())
    neg = [r["p"] for r in rows if r["x"] <= 0]
    pos = [r["p"] for r in rows if r["x"] > 0]
    assert set(neg) == {_IEEE_SENTINEL} and min(pos) > _IEEE_SENTINEL


def quantile_bucket_desc(
    df, col: str, num_buckets: int, rel_err: float = 0.001
):
    """Descending-order bucket id for ``col`` from one driver-side
    ``approxQuantile`` pass, its boundaries embedded as literals: pid 0
    holds the largest values, and equal values share a bucket (pid =
    count of boundaries strictly greater). The reference pid the ieee
    bucket is checked against."""
    probs = [i / num_buckets for i in range(1, num_buckets)]
    bounds = df.stat.approxQuantile(col, probs, rel_err)
    barr = F.array(*[F.lit(float(b)) for b in sorted(bounds, reverse=True)])
    return F.size(F.filter(barr, lambda b: b > F.col(col)))


def test_prefix_sum_ieee_pid_parity(spark):
    """distributed_prefix_sum yields IDENTICAL (cum, rank) under the
    ieee pid and a quantile pid — the rank/cum contract is
    pid-invariant for any monotone pid."""
    import numpy as np

    from content_analytics_etl_spark.operators.prefix_sum import (
        distributed_prefix_sum,
        ieee_bucket_desc,
    )

    rng = np.random.default_rng(11)
    df = spark.createDataFrame(
        [(int(i), float(v), int(v * 10) + 1)
         for i, v in enumerate(rng.lognormal(3, 2, 500))],
        "id long, score double, w long",
    ).persist()
    order = [F.col("score").desc(), F.col("id")]
    a, ta = distributed_prefix_sum(
        spark, df, pid=ieee_bucket_desc("score"), order=order,
        value_col="w", cum_col="cum", rank_col="rank",
    )
    b, tb = distributed_prefix_sum(
        spark, df, pid=quantile_bucket_desc(df, "score", 16), order=order,
        value_col="w", cum_col="cum", rank_col="rank",
    )
    assert ta == tb
    ra = {(r["id"], r["cum"], r["rank"]) for r in a.collect()}
    rb = {(r["id"], r["cum"], r["rank"]) for r in b.collect()}
    assert ra == rb and len(ra) == 500
    df.unpersist()


def test_negative_samples_fold_matches_window(spark):
    """The r15 groupBy(node) array fold in graph_negative_samples
    reproduces the old dedup-aggregate + keep-window rows exactly,
    including duplicate-partner collapse to the earliest proposal and
    the NEG_KEEP cut."""
    from pyspark.sql import Window as W

    NEG_KEEP = 3
    surv = spark.createDataFrame(
        [
            # node 1: dup partner 20 at pi 2 and 5 -> keep pi 2; 4 partners
            (1, 20, 2), (1, 20, 5), (1, 30, 0), (1, 40, 6), (1, 50, 7),
            # node 2: single survivor
            (2, 99, 3),
        ],
        "node long, neg_id long, proposal_idx int",
    )
    dedup = surv.groupBy("node", "neg_id").agg(
        F.min("proposal_idx").alias("proposal_idx")
    )
    wk = W.partitionBy("node").orderBy("proposal_idx")
    want = {
        tuple(r)
        for r in dedup.withColumn(
            "keep_rank", F.row_number().over(wk).cast("int")
        )
        .filter(F.col("keep_rank") <= NEG_KEEP)
        .select("node", "neg_id", "proposal_idx", "keep_rank")
        .collect()
    }
    grouped = surv.groupBy("node").agg(
        F.array_sort(
            F.collect_list(F.struct("proposal_idx", "neg_id"))
        ).alias("s")
    )
    first_seen = F.filter(
        F.col("s"),
        lambda x, i: ~F.exists(
            F.slice(F.col("s"), 1, i), lambda a: a["neg_id"] == x["neg_id"]
        ),
    )
    got = {
        tuple(r)
        for r in grouped.select(
            "node", F.slice(first_seen, 1, NEG_KEEP).alias("kept")
        )
        .select("node", F.posexplode("kept").alias("i", "k"))
        .select(
            "node",
            F.col("k.neg_id").alias("neg_id"),
            F.col("k.proposal_idx").alias("proposal_idx"),
            (F.col("i") + 1).cast("int").alias("keep_rank"),
        )
        .collect()
    }
    assert got == want
    # non-vacuous: node 1's dup partner collapsed to pi 2 (rank 2 after
    # partner 30@pi 0), and the 4th-ranked partner (50@pi 7) was cut
    assert (1, 30, 0, 1) in got and (1, 20, 2, 2) in got
    assert all(not (r[0] == 1 and r[1] == 50) for r in got)
