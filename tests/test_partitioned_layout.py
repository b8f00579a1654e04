"""Phase-2 layout (SURVEY.md §7): the reference selects date ranges by
driver-side filename arithmetic (ETL_full.py:17-30); the engine replaces
that with a date-partitioned parquet layout where a plain ``between``
filter prunes partitions inside Catalyst. This test writes the layout,
reads it back, and asserts (a) the physical plan carries the partition
filter and (b) pruning actually skipped the out-of-range files."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from content_analytics_etl_spark.sources.readers import load_table
from content_analytics_etl_spark.sources.writers import write_parquet_partitioned


@pytest.fixture(scope="module")
def partitioned_dir(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("events_by_date"))
    e = load_table(spark, sf_dir, "events").withColumn("date", F.to_date("ts"))
    write_parquet_partitioned(e, out, "date")
    return out


def test_partition_pruning_in_plan_and_rows(spark, sf_dir, partitioned_dir):
    df = (
        spark.read.parquet(partitioned_dir)
        .filter(F.col("date").between("2024-01-10", "2024-01-12"))
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "date" in plan.split("PartitionFilters")[1][:200]

    # pruning read 3 of ~30 daily partitions
    scanned = df.select(F.input_file_name()).distinct().count()
    total_days = spark.read.parquet(partitioned_dir).select("date").distinct().count()
    assert total_days >= 25
    assert scanned <= 2 * 3  # ≤ maxRecordsPerFile splits per day partition

    # row parity with the unpartitioned path
    expected = (
        load_table(spark, sf_dir, "events")
        .filter(F.to_date("ts").between("2024-01-10", "2024-01-12"))
        .count()
    )
    assert df.count() == expected


def test_registered_pruned_query_plan_and_oracle_shape(spark):
    """The registered events_partition_pruned query's physical plan must
    carry the partition filter (the end-to-end pruning contract)."""
    from content_analytics_etl_spark.plans.events_queries import (
        events_partition_pruned,
    )

    df = events_partition_pruned(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "date" in plan.split("PartitionFilters")[1][:200]
    rows = df.collect()
    assert rows  # 3 in-range days exist in the corpus
    assert {str(r["date"]) for r in rows} <= {
        "2024-01-10", "2024-01-11", "2024-01-12",
    }


def test_partitioned_events_dir_publishes_once_and_prunes(
    spark, sf_dir, monkeypatch
):
    """The date-partitioned events are a derived layout: written into a
    ``.tmp-`` dir and renamed into place, and publishing prunes the
    layout of a superseded content key."""
    import os
    import shutil

    from content_analytics_etl_spark import index_store
    from content_analytics_etl_spark.plans import events_queries

    live = index_store.layout_path(
        spark, "events_by_date", sf_dir, index_store.source_fingerprint(sf_dir, "events")
    )
    stale = index_store.layout_path(spark, "events_by_date", sf_dir, "deadbeef0000")
    shutil.rmtree(live, ignore_errors=True)
    os.makedirs(stale, exist_ok=True)
    open(os.path.join(stale, "_SUCCESS"), "w").close()
    written = []
    write = events_queries.write_parquet_partitioned

    def recording_write(df, path, *cols, **kw):
        written.append(path)
        write(df, path, *cols, **kw)

    monkeypatch.setattr(events_queries, "write_parquet_partitioned", recording_write)
    assert events_queries._partitioned_events_dir(spark, sf_dir) == live
    assert written and all(".tmp-" in p for p in written), written
    assert os.path.exists(os.path.join(live, "_SUCCESS"))
    assert not os.path.exists(stale), "superseded layout not pruned"
