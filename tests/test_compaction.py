"""compact_parquet contract (sources/writers.py): output file count is
ceil(on-disk bytes / target), rows survive losslessly, and the
registered warehouse_compact_roundtrip query reads the compacted layout."""

from __future__ import annotations

import glob
import math
import os

from content_analytics_etl_spark.plans.analytics_queries import (
    warehouse_compact_roundtrip,
)
from content_analytics_etl_spark.sources.writers import compact_parquet


def _parquet_files(path: str) -> list[str]:
    return glob.glob(os.path.join(path, "*.parquet"))


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in _parquet_files(path))


def test_compact_parquet_file_count_and_row_parity(spark, sf_dir, tmp_path):
    frag = str(tmp_path / "frag")
    out = str(tmp_path / "compact")
    src = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        "o_orderkey", "o_totalprice"
    )
    src.repartition(32).write.parquet(frag)
    assert len(_parquet_files(frag)) == 32

    target = 1 << 20  # 1 MiB
    n_files = compact_parquet(spark, frag, out, target_file_bytes=target)
    assert n_files == max(1, math.ceil(_dir_bytes(frag) / target))
    assert len(_parquet_files(out)) == n_files < 32

    # lossless: same keys, same total
    a = src.groupBy().sum("o_orderkey", "o_totalprice").collect()[0]
    b = (
        spark.read.parquet(out)
        .groupBy()
        .sum("o_orderkey", "o_totalprice")
        .collect()[0]
    )
    assert a[0] == b[0]
    assert abs(a[1] - b[1]) < 1e-6
    assert src.count() == spark.read.parquet(out).count()


def test_warehouse_compact_roundtrip_query(spark, sf_dir):
    rows = {r["o_orderstatus"]: r for r in warehouse_compact_roundtrip(spark, sf_dir).collect()}
    direct = {
        r["o_orderstatus"]: r
        for r in spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        .groupBy("o_orderstatus")
        .count()
        .collect()
    }
    assert set(rows) == set(direct)
    for status, r in rows.items():
        assert r["n_orders"] == direct[status]["count"]


def test_mv_refresh_snapshot_reused_and_equals_full(spark, sf_dir):
    """The MV snapshot materializes once (second call must not rewrite
    it), the refresh equals the full recompute row-for-row, and the
    delta scan carries the ts-cutoff filter down to the source scan."""
    import os
    import time

    from pyspark.sql import functions as F

    from content_analytics_etl_spark.index_store import (
        layout_path,
        source_fingerprint,
    )
    from content_analytics_etl_spark.plans.analytics_queries import (
        events_daily_mv_refresh,
    )

    got = {
        (r["day"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in events_daily_mv_refresh(spark, sf_dir).collect()
    }
    from content_analytics_etl_spark.plans.analytics_queries import MV_CUTOFF

    snap = layout_path(
        spark,
        "events_daily_mv",
        sf_dir,
        f"{source_fingerprint(sf_dir, 'events')}_{MV_CUTOFF}",
    )
    mtime = os.path.getmtime(os.path.join(snap, "_SUCCESS"))
    time.sleep(0.05)
    df = events_daily_mv_refresh(spark, sf_dir)
    again = {
        (r["day"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in df.collect()
    }
    assert os.path.getmtime(os.path.join(snap, "_SUCCESS")) == mtime
    assert again == got

    full = {
        (r["day"], r["event_type"]): (r["n"], r["sv"])
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sv"),
        )
        .collect()
    }
    assert got == full

    plan = df._jdf.queryExecution().executedPlan().toString()
    # the delta side's cutoff reaches the events scan as a pushed filter
    assert "GreaterThanOrEqual(ts,2024-01-21" in plan


def test_warehouse_orc_roundtrip_write_once_and_prune(spark, sf_dir):
    """The ORC materialization is a derived layout (``index_store``):
    the live fingerprint dir is written once (stable _SUCCESS mtime on a
    second call), stale-fingerprint dirs for the same source are
    pruned, and a concurrent writer's live ``.tmp-`` dir survives."""
    import time

    from content_analytics_etl_spark.index_store import (
        layout_path,
        source_fingerprint,
    )
    from content_analytics_etl_spark.plans.analytics_queries import (
        warehouse_orc_roundtrip,
    )

    stale = layout_path(spark, "orders_orc", sf_dir, "deadbeef0000")
    live_tmp = f"{stale}.tmp-99999"
    # force a (re)write so the prune branch runs even if a prior test
    # session already materialized the live dir
    key = source_fingerprint(sf_dir, "orders")
    live = layout_path(spark, "orders_orc", sf_dir, key)
    import shutil

    shutil.rmtree(live, ignore_errors=True)
    for d in (stale, live_tmp):
        os.makedirs(d, exist_ok=True)
        open(os.path.join(d, "_SUCCESS"), "w").close()

    got = {r["o_orderpriority"]: r for r in warehouse_orc_roundtrip(spark, sf_dir).collect()}
    assert not os.path.exists(stale), "stale-fingerprint ORC dir not pruned"
    assert os.path.exists(live_tmp), "concurrent writer's tmp dir was pruned"
    shutil.rmtree(live_tmp, ignore_errors=True)

    direct = {
        r["o_orderpriority"]: r
        for r in spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        .groupBy("o_orderpriority")
        .count()
        .collect()
    }
    assert set(got) == set(direct)
    for pri, r in got.items():
        assert r["n_orders"] == direct[pri]["count"]

    mtime = os.path.getmtime(os.path.join(live, "_SUCCESS"))
    time.sleep(0.05)
    warehouse_orc_roundtrip(spark, sf_dir).collect()
    assert os.path.getmtime(os.path.join(live, "_SUCCESS")) == mtime


def test_warehouse_json_roundtrip_write_once_and_lossless(spark, sf_dir):
    """JSON-lines materialization is a derived layout like the ORC one,
    and doubles survive the text round-trip bit-for-bit (shortest-repr
    write, nearest parse)."""
    import shutil
    import time

    from content_analytics_etl_spark.index_store import (
        layout_path,
        source_fingerprint,
    )
    from content_analytics_etl_spark.plans.analytics_queries import (
        warehouse_json_roundtrip,
    )

    stale = layout_path(spark, "customer_json", sf_dir, "deadbeef0000")
    key = source_fingerprint(sf_dir, "customer")
    live = layout_path(spark, "customer_json", sf_dir, key)
    shutil.rmtree(live, ignore_errors=True)
    os.makedirs(stale, exist_ok=True)
    open(os.path.join(stale, "_SUCCESS"), "w").close()

    got = {
        r["c_mktsegment"]: r
        for r in warehouse_json_roundtrip(spark, sf_dir).collect()
    }
    assert not os.path.exists(stale), "stale-fingerprint JSON dir not pruned"

    src = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    from pyspark.sql import functions as F

    direct = {
        r["c_mktsegment"]: r
        for r in src.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("c_acctbal").cast("decimal(18,6)"))
            .cast("double")
            .alias("total"),
        )
        .collect()
    }
    assert set(got) == set(direct)
    for seg, r in got.items():
        assert r["n_customers"] == direct[seg]["n"]
        assert r["total_acctbal"] == direct[seg]["total"], seg  # bit-exact

    mtime = os.path.getmtime(os.path.join(live, "_SUCCESS"))
    time.sleep(0.05)
    warehouse_json_roundtrip(spark, sf_dir).collect()
    assert os.path.getmtime(os.path.join(live, "_SUCCESS")) == mtime


def test_layouts_of_two_sources_coexist(spark, sf_dir, sf001_dir):
    """Publishing a layout prunes only its own source's stale content:
    the ORC round-trip of one corpus directory survives the build of
    another's."""
    import shutil

    from content_analytics_etl_spark.index_store import (
        layout_path,
        source_fingerprint,
    )
    from content_analytics_etl_spark.plans.analytics_queries import (
        warehouse_orc_roundtrip,
    )

    live = [
        layout_path(spark, "orders_orc", d, source_fingerprint(d, "orders"))
        for d in (sf_dir, sf001_dir)
    ]
    for d, path in zip((sf_dir, sf001_dir), live):
        shutil.rmtree(path, ignore_errors=True)  # force the build
        warehouse_orc_roundtrip(spark, d).collect()
    for path in live:
        assert os.path.exists(os.path.join(path, "_SUCCESS")), path
