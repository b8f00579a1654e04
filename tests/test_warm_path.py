"""A repeated relational call does no cold work again: its generated
classes stay compiled, and relations built from driver-side rows run no
job and start no Python worker."""

from __future__ import annotations

from pyspark.sql import functions as F

from content_analytics_etl_spark.frames import local_frame
from content_analytics_etl_spark.operators.prefix_sum import (
    distributed_prefix_sum,
    ieee_bucket_desc,
)
from content_analytics_etl_spark.plans import all_queries

# the relational mix of the repository benchmark's star_relational workload
STAR_RELATIONAL = [
    "flagship_profile",
    "tpch_q1_pricing_summary",
    "tpch_q18_large_orders",
    "events_session",
    "part_revenue_abc",
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_warm_pass_compiles_no_class(spark, sf_dir):
    """The second pass over the mix finds every generated class in the
    codegen cache: no Janino compile."""
    qs = all_queries()
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = codegen.METRIC_COMPILATION_TIME()

    def run_pass():
        for name in STAR_RELATIONAL:
            qs[name](spark, sf_dir).collect()

    run_pass()
    before = compiles.getCount()
    run_pass()
    assert compiles.getCount() - before == 0


def test_local_frame_is_a_local_scan(spark):
    schema = "k int, v array<struct<a:int, b:array<double>>>, s string"
    rows = [(i, [(i, [float(i), 0.5])], str(i)) for i in range(50)]
    df = local_frame(spark, rows, schema)
    plan = _plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert [(r.k, [(e.a, e.b) for e in r.v], r.s) for r in df.collect()] == rows
    empty = local_frame(spark, [], schema)
    assert empty.schema == df.schema and empty.collect() == []


def test_prefix_sum_offsets_are_a_local_scan(spark):
    df = spark.range(200).select(
        "id", (F.col("id") % 17 + 1).cast("double").alias("x"),
        F.lit(1).cast("long").alias("w"),
    )
    out, _ = distributed_prefix_sum(
        spark, df, pid=ieee_bucket_desc("x"),
        order=[F.col("x").desc(), F.col("id")],
        value_col="w", cum_col="cum", rank_col="rank",
    )
    plan = _plan(out)
    # the cached result's plan text carries its lineage: the offsets scan
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    out.unpersist()


def _warm_job_count(spark, sf_dir, name: str) -> int:
    """Jobs of a second call of query ``name``, counted by job group."""
    fn = all_queries()[name]
    fn(spark, sf_dir).collect()
    sc = spark.sparkContext
    group = f"test-warm-{name}"
    sc.setJobGroup(group, f"warm {name}", False)
    try:
        fn(spark, sf_dir).collect()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_part_revenue_abc_job_count(spark, sf001_dir):
    """A warm call runs 7 jobs; with its prefix-sum offsets collected
    through an orderBy and built from a Python list it ran 11."""
    assert _warm_job_count(spark, sf001_dir, "part_revenue_abc") <= 7


def test_warm_embedding_pca_top2_job_count(spark, sf001_dir):
    """A warm call runs 16 jobs; with each power round's 64-row
    weight vector collected through an orderBy (a range-sampling job
    and a sort stage per round) it ran 28."""
    assert _warm_job_count(spark, sf001_dir, "embedding_pca_top2") <= 16
