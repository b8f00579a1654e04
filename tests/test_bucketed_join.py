"""Bucketing (SURVEY.md §7 scale discipline): pre-bucketing both sides
of a recurring join on the join key lets Catalyst plan a shuffle-free
sort-merge join — the co-located-join strategy for fact-fact joins that
repeat across a pipeline. Asserts the bucketed join plan contains NO
Exchange, while the plain-parquet plan does, and that results agree."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from content_analytics_etl_spark.sources.readers import load_table


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    for name, df, key in (("orders_b", o, "o_orderkey"), ("lineitem_b", li, "l_orderkey")):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.bucketBy(8, key)
            .sortBy(key)
            .mode("overwrite")
            .format("parquet")
            .option("path", f"{wh}/{name}")  # external table, outside the repo
            .saveAsTable(name)
        )
    return "orders_b", "lineitem_b"


def test_bucketed_join_has_no_exchange(spark, sf_dir, bucketed_tables):
    orders_b, lineitem_b = bucketed_tables
    joined = (
        spark.table(lineitem_b)
        .join(
            spark.table(orders_b).hint("merge"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    joined.collect()  # finalize the adaptive plan
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # the join itself is exchange-free: the only Exchange allowed is the
    # post-join aggregation shuffle
    join_part = plan.split("SortMergeJoin")[-1]
    assert "SortMergeJoin" in plan
    assert "Exchange" not in join_part

    plain = (
        load_table(spark, sf_dir, "lineitem")
        .join(
            load_table(spark, sf_dir, "orders").hint("merge"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plain_plan = plain._jdf.queryExecution().executedPlan().toString()
    assert plain_plan.count("Exchange") > plan.count("Exchange")

    assert {tuple(r) for r in joined.collect()} == {tuple(r) for r in plain.collect()}


def test_registered_bucketed_query_is_exchange_free(spark):
    """The registered join_bucketed query must plan the fact-fact join
    without any Exchange (bucket co-location doing its job)."""
    from content_analytics_etl_spark.plans.relational_queries import join_bucketed

    df = join_bucketed(spark, "/root/testdata/sf0.001")
    df.collect()  # finalize the adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan.split("SortMergeJoin")[-1]


def test_registered_bucketed_tables_reused_from_disk(spark, sf_dir):
    """The bucketed tables outlive the in-memory session catalog: once
    they are dropped from it (as a new session starts without them),
    join_bucketed re-registers the files on disk instead of rewriting
    them."""
    import os

    from content_analytics_etl_spark.plans.relational_queries import join_bucketed

    df = join_bucketed(spark, sf_dir)
    rows = sorted(map(tuple, df.collect()))
    files = {f: os.stat(f.removeprefix("file:")).st_mtime_ns for f in df.inputFiles()}
    tables = {os.path.basename(os.path.dirname(f)) for f in files}
    assert len(tables) == 2
    for name in tables:
        spark.sql(f"DROP TABLE {name}")

    again = join_bucketed(spark, sf_dir)
    assert sorted(map(tuple, again.collect())) == rows
    assert {
        f: os.stat(f.removeprefix("file:")).st_mtime_ns for f in again.inputFiles()
    } == files
