"""Round-14 operator tests.

1. The production two-level assignment (``_clus_assign`` — uncapped
   sid-equi-join + Arrow cogroup kernel, VERDICT r13 #1/#4) is pinned
   row-set-equal to the round-13 broadcast/HOF reference
   (``_clus_assign_broadcast``) — the bit-exactness claim of
   ``exact_d2_topn_cogroup``'s dimension-at-a-time fold.
2. The kernel itself is unit-pinned against a pure-python left fold,
   including the (d2, rid) tie rule.
3. The ADVICE r13 NaN precondition: no zero-norm embeddings anywhere in
   the test corpora (a NaN cosine would rank differently across
   engines; documented at ``_ivf_coarse_assign``).
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from content_analytics_etl_spark.functions.vectors import (
    l2_norm,
    to_double_array,
)
from content_analytics_etl_spark.plans._util import t


def _e(spark, sf_dir):
    return (
        t(spark, sf_dir, "embeddings")
        .select("vec_id", to_double_array("embedding").alias("v"))
        .withColumn("nrm", l2_norm(F.col("v")))
    )


def _parity(spark, sf_dir):
    from content_analytics_etl_spark.plans.similarity_queries import (
        _clus_assign,
        _clus_params_rel,
    )
    from vector_refs import _clus_assign_broadcast

    e = _e(spark, sf_dir)
    got = {
        (r["vec_id"], r["cid"])
        for r in _clus_assign(e, _clus_params_rel(e)).collect()
    }
    want = {
        (r["vec_id"], r["cid"])
        for r in _clus_assign_broadcast(e, _clus_params_rel(e)).collect()
    }
    assert got == want
    assert got  # non-vacuous


def test_cogroup_assignment_parity_small(spark, sf001_dir):
    """sf0.01: s ≤ CLUS_SUPER_PROBE — the no-op-pruning regime."""
    _parity(spark, sf001_dir)


def test_cogroup_assignment_parity_pruned(spark):
    """scratch sf1 (20k vectors, s = 29 > p1 = 12): REAL super pruning,
    real multi-group cogroups, salt g > 1 — the regime where a tie or
    fold divergence between the numpy kernel and the HOF chain would
    actually surface."""
    sf_dir = ".scratch/sf1"
    if not os.path.isdir(sf_dir):
        pytest.skip("scratch sf1 corpus not generated (tools/gen_testdata.py)")
    _parity(spark, sf_dir)


def test_cogroup_kernel_exact_fold_and_tie_order(spark):
    """Unit-pin ``exact_d2_topn_cogroup`` against a pure-python
    left-fold: d2 values bit-equal (not approx), ties on IDENTICAL
    right vectors resolve to the smaller rid, and ≤ n rows per left
    row even when n > |right|."""
    from content_analytics_etl_spark.operators.similarity import (
        exact_d2_topn_cogroup,
    )

    dim = 7
    rng = np.random.default_rng(14)
    lvecs = rng.uniform(-1, 1, (5, dim))
    rvecs = rng.uniform(-1, 1, (3, dim))
    rvecs = np.vstack([rvecs, rvecs[1]])  # rid 3 duplicates rid 1

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    left = spark.createDataFrame(
        [
            (0, int(i), [float(x) for x in v], float(fold_dot(v, v)))
            for i, v in enumerate(lvecs)
        ],
        "gid int, id long, v array<double>, n2 double",
    )
    right = spark.createDataFrame(
        [
            (0, int(i), [float(x) for x in v], float(fold_dot(v, v)))
            for i, v in enumerate(rvecs)
        ],
        "gid int, rid int, rv array<double>, rn2 double",
    )
    got = {
        (r["id"], r["rid"]): r["d2"]
        for r in exact_d2_topn_cogroup(left, right, 3).collect()
    }
    for i, lv in enumerate(lvecs):
        d2s = sorted(
            (
                (fold_dot(lv, lv) - 2.0 * fold_dot(lv, rv)) + fold_dot(rv, rv),
                j,
            )
            for j, rv in enumerate(rvecs)
        )
        want = d2s[:3]
        assert {(i, j) for _, j in want} == {k for k in got if k[0] == i}
        for d2, j in want:
            assert got[(i, j)] == d2  # bit-equal, not approx
        # rid 1 == rid 3 vectorwise: whichever qualifies, rid 1 ranks
        # first (stable argsort over the rid-sorted matrix)
        ranked = [j for _, j in d2s]
        assert ranked.index(1) < ranked.index(3)
    # n > |right|: every left row emits exactly |right| rows
    got_all = exact_d2_topn_cogroup(left, right, 99).collect()
    assert len(got_all) == len(lvecs) * len(rvecs)


def test_no_zero_norm_embeddings():
    """ADVICE r13: the negated-cosine struct sorts assume no zero-norm
    vectors (NaN would rank last in Spark ASC but first in DuckDB
    DESC).  Pin the precondition corpus-wide, generator included."""
    import duckdb

    dirs = sorted(glob.glob("/root/testdata/sf*")) + sorted(
        glob.glob(".scratch/sf*")
    )
    assert dirs
    for d in dirs:
        path = os.path.join(d, "embeddings.parquet")
        if not os.path.exists(path):
            continue
        (n_zero,) = duckdb.sql(
            "SELECT count(*) FROM read_parquet('"
            + path
            + (
                "/**/*.parquet" if os.path.isdir(path) else ""
            )
            + "') WHERE list_sum(list_transform(embedding, x -> x * x)) <= 0"
        ).fetchone()
        assert n_zero == 0, f"zero-norm embedding in {d}"


def test_clus_index_persisted_bucketed_scan(spark, sf001_dir):
    """VERDICT r13 #3: the clustered near-dup index is a durable
    cid-bucketed warehouse table; the pair scan READS it (no rebuild)
    and groups it by cid with no exchange — the only Exchange left in
    the whole plan is the final distinct's."""
    from content_analytics_etl_spark.plans.similarity_queries import (
        _clus_assigned,
        sim_neardup_clustered,
    )

    first = {
        (r["vec_id"], r["cid"])
        for r in _clus_assigned(spark, sf001_dir)
        .select("vec_id", "cid")
        .collect()
    }
    # exactly one snapshot for THIS corpus directory; other corpora's
    # indexes (built by earlier tests in the same session) coexist by
    # design — the prune is per (logical, corpus-dir scope)
    import hashlib

    scope = hashlib.md5(sf001_dir.encode()).hexdigest()[:6]
    names = [
        tb.name
        for tb in spark.catalog.listTables()
        if tb.name.startswith(f"idx_clus_assigned_{scope}_")
    ]
    assert len(names) == 1
    # round-trip: a second call serves the SAME on-disk table,
    # content-identical
    again = {
        (r["vec_id"], r["cid"])
        for r in _clus_assigned(spark, sf001_dir)
        .select("vec_id", "cid")
        .collect()
    }
    assert again == first and first
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = (
        sim_neardup_clustered(spark, sf001_dir)
        ._jdf.queryExecution()
        .explainString(mode)
    )
    assert names[0] in plan  # the scan reads the persisted table
    assert "FlatMapCoGroupsInPandas" not in plan  # ...not a rebuild
    # bucketed scan: exactly one Exchange — the final distinct's
    # (hashpartitioning on the pair columns); the per-cid pair kernel
    # reads co-located buckets
    import re as _re

    exchanges = _re.findall(r"^\(\d+\) Exchange", plan, _re.MULTILINE)
    assert len(exchanges) == 1, plan


def test_ivfpq_codes_persisted(spark, sf001_dir):
    """The residual-PQ code table round-trips through its bucketed
    warehouse table: second read serves the same table, same rows."""
    from content_analytics_etl_spark.plans.similarity_queries import (
        _ivfpq_code_table,
    )

    rows = {
        tuple(r) for r in _ivfpq_code_table(spark, sf001_dir).collect()
    }
    import hashlib

    scope = hashlib.md5(sf001_dir.encode()).hexdigest()[:6]
    names = [
        tb.name
        for tb in spark.catalog.listTables()
        if tb.name.startswith(f"idx_ann_ivfpq_codes_{scope}_")
    ]
    assert len(names) == 1
    again = {
        tuple(r) for r in _ivfpq_code_table(spark, sf001_dir).collect()
    }
    assert again == rows and rows


def test_pq_argmin_parity(spark, sf001_dir):
    """r14 OPTIMIZATION pin: the row-local Arrow argmin
    (``pq_argmin_codes``) reproduces the old broadcast-join +
    rank-window code assignment EXACTLY — same (vec_id, m) → k map —
    on a real corpus, where float near-ties would surface any fold or
    tie divergence."""
    from pyspark.sql import Window as W

    from content_analytics_etl_spark.operators.similarity import (
        pq_argmin_codes,
    )
    from content_analytics_etl_spark.plans.similarity_queries import (
        _pq_codebook,
        _pq_subvectors,
        _sq_l2,
    )

    sub = _pq_subvectors(spark, sf001_dir)
    cb = _pq_codebook(sub)
    old = {
        (r["vec_id"], r["m"], r["k"])
        for r in (
            sub.join(F.broadcast(cb), "m")
            .withColumn("d2", _sq_l2(F.col("subv"), F.col("cv")))
            .withColumn(
                "rk",
                F.row_number().over(
                    W.partitionBy("vec_id", "m").orderBy(
                        F.col("d2").asc(), F.col("k")
                    )
                ),
            )
            .filter(F.col("rk") == 1)
            .select("vec_id", "m", "k")
        ).collect()
    }
    new = {
        (r["vec_id"], r["m"], r["k"])
        for r in pq_argmin_codes(sub, cb.collect()).collect()
    }
    assert new == old
    assert new  # non-vacuous


def test_pq_argmin_tie_order_and_passthrough(spark):
    """Synthetic pin: bit-equal d2 ties resolve to the LOWEST k (the
    row_number (d2 ASC, k ASC) rule), and passthrough columns survive
    unchanged."""
    from content_analytics_etl_spark.operators.similarity import (
        pq_argmin_codes,
    )

    # codebook: k=2 duplicates k=1 exactly -> ties must pick k=1
    cb_rows = [
        {"m": 0, "k": 1, "cv": [1.0, 0.0]},
        {"m": 0, "k": 2, "cv": [1.0, 0.0]},
        {"m": 0, "k": 3, "cv": [9.0, 9.0]},
        {"m": 1, "k": 1, "cv": [0.0, 0.0]},
        {"m": 1, "k": 2, "cv": [5.0, 5.0]},
    ]
    sub = spark.createDataFrame(
        [
            (10, 0, [1.0, 0.0], "a"),
            (10, 1, [4.9, 4.9], "b"),
            (11, 0, [8.0, 8.5], "c"),
        ],
        "vec_id long, m int, subv array<double>, tag string",
    )
    got = {
        (r["vec_id"], r["m"], r["k"], r["tag"])
        for r in pq_argmin_codes(sub, cb_rows, passthrough=("tag",)).collect()
    }
    assert got == {(10, 0, 1, "a"), (10, 1, 2, "b"), (11, 0, 3, "c")}


def _ivf_parity(spark, sf_dir):
    from content_analytics_etl_spark.operators.similarity import (
        cosine_rank_assign,
    )
    from content_analytics_etl_spark.plans.similarity_queries import (
        QUERY_CAP,
        QUERY_MOD,
        _ivf_params_rel,
    )
    from vector_refs import _ivf_coarse_assign_hof

    e = _e(spark, sf_dir)
    params = _ivf_params_rel(e)
    want = {
        (r["vec_id"], r["cell"], r["crank"])
        for r in _ivf_coarse_assign_hof(e, params).collect()
    }
    prow = params.collect()[0]
    cent_rows = (
        e.filter(F.col("vec_id").between(1, int(prow["cells"])))
        .select(
            F.col("vec_id").cast("int").alias("cell"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cn"),
        )
        .collect()
    )

    def keep_mask(vec_ids, cranks):
        return (cranks == 1) | (
            ((vec_ids % QUERY_MOD) == 0) & (vec_ids < QUERY_CAP)
        )

    got = {
        (r["vec_id"], r["cell"], r["crank"])
        for r in cosine_rank_assign(
            e, cent_rows, int(prow["nprobe"]), keep_mask
        ).collect()
    }
    assert got == want
    assert got  # non-vacuous


def test_ivf_assign_kernel_parity_small(spark, sf001_dir):
    """sf0.01 (500 vectors, 22 cells): the vectorized cosine ranking
    reproduces the r13 HOF chain's (vec_id, cell, crank) rows exactly —
    fold arithmetic and the (cosine DESC, cell ASC) tie rule."""
    _ivf_parity(spark, sf001_dir)


def test_ivf_assign_kernel_parity_sf1(spark):
    """scratch sf1 (20k vectors, 141 cells, nprobe 40): the regime with
    real probe-depth pruning and dense near-ties."""
    sf_dir = ".scratch/sf1"
    if not os.path.isdir(sf_dir):
        pytest.skip("scratch sf1 corpus not generated (tools/gen_testdata.py)")
    _ivf_parity(spark, sf_dir)
