"""Ranks of ``distributed_prefix_sum`` over IEEE-binade pids when the
order key holds NaN, NULL, zero and negative values, checked against a
single-threaded fold in Spark's sort order: ascending puts NULL first
and NaN last, descending puts NaN first and NULL last."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from content_analytics_etl_spark.frames import local_frame
from content_analytics_etl_spark.operators.prefix_sum import (
    distributed_prefix_sum,
    ieee_bucket_asc,
    ieee_bucket_desc,
)

NAN = float("nan")
XS = [3.5, NAN, None, 0.0, -2.0, 1e-300, 7.0, NAN, 3.5, None, 1e300, -0.0,
      float("inf"), 0.25, 7.0, NAN]


def _spark_key(x, desc: bool):
    """Sort key of Spark's default order: NaN above every double, NULL
    first ascending and last descending."""
    if x is None:
        return (1, 0.0) if desc else (-1, 0.0)
    if math.isnan(x):
        return (-1, 0.0) if desc else (1, 0.0)
    return (0, -x if desc else x)


@pytest.mark.parametrize("desc", [False, True], ids=["asc", "desc"])
def test_nan_keys_rank_in_spark_order(spark, desc):
    rows = [(i, x, i + 1) for i, x in enumerate(XS)]
    df = local_frame(spark, rows, "id long, x double, w long")
    key = F.col("x").desc() if desc else F.col("x")
    order = [key, F.col("id")]
    pid = ieee_bucket_desc("x") if desc else ieee_bucket_asc("x")

    want_ids = [r[0] for r in sorted(rows, key=lambda r: (_spark_key(r[1], desc), r[0]))]
    # the model of Spark's order is Spark's own order
    assert [r["id"] for r in df.orderBy(*order).collect()] == want_ids
    want, cum = {}, 0
    for rank, i in enumerate(want_ids, 1):
        cum += rows[i][2]
        want[i] = (cum, rank)

    out, total = distributed_prefix_sum(
        spark, df, pid=pid, order=order, value_col="w", cum_col="cum",
        rank_col="rank",
    )
    assert total == sum(r[2] for r in rows)
    assert {r["id"]: (r["cum"], r["rank"]) for r in out.collect()} == want


def test_null_pid_raises(spark):
    df = local_frame(spark, [(1, 1), (2, 2)], "id long, w long")
    with pytest.raises(ValueError, match="pid is NULL"):
        distributed_prefix_sum(
            spark, df, pid=F.when(F.col("id") > 1, F.col("id")),
            order=[F.col("id")], value_col="w", cum_col="cum",
        )
