"""Scan-parallel layout cache (PERF findings 35/36): single-file sources
whose row-group layout cannot feed the work they carry are served from a
size-adaptive multi-file copy, row-identically.  ``ways =
min(cores, ceil(rows / rows_per_task))`` — a flat cores-way split is
pure per-file overhead on MB-scale tables."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from content_analytics_etl_spark.index_store import layout_path
from content_analytics_etl_spark.session import get_spark
from content_analytics_etl_spark.sources.readers import (
    SCAN_LAYOUT_MIN_ROWS,
    SCAN_ROWS_PER_TASK,
    SCAN_ROWS_PER_TASK_DEFAULT,
    _scan_split,
    load_table,
)


@pytest.fixture(scope="module")
def spark():
    return get_spark("test-scan-layout")


@pytest.fixture(autouse=True)
def _remove_copies(spark, tmp_path):
    """The sources are temp files, but their copies go to the session
    warehouse: remove every copy of this test's source afterwards."""
    yield
    src = str(tmp_path / "customer.parquet")
    prefix = layout_path(spark, "scan_parallel_customer", src, "")
    root, base = os.path.split(prefix)
    for d in os.listdir(root) if os.path.isdir(root) else []:
        if d.startswith(base):
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)


def _scan_parallel_dir(spark, src, name):
    """``(dir, ways)`` of the copy ``load_table`` scans for ``src``."""
    split = _scan_split(spark, src, name)
    if split is None:
        return None
    key, ways = split
    return layout_path(spark, f"scan_parallel_{name}", src, key, f"_w{ways}"), ways


def _write_customer(dir_path, n):
    t = pa.table(
        {
            "c_custkey": pa.array(range(n), pa.int64()),
            "c_name": pa.array([f"c{i}" for i in range(n)]),
            "c_nationkey": pa.array([i % 25 for i in range(n)], pa.int32()),
            "c_acctbal": pa.array([float(i) for i in range(n)], pa.float64()),
            "c_mktsegment": pa.array(["s"] * n),
        }
    )
    pq.write_table(t, str(dir_path / "customer.parquet"))


def test_small_source_not_rewritten(spark, tmp_path):
    _write_customer(tmp_path, SCAN_LAYOUT_MIN_ROWS - 1)
    assert (
        _scan_parallel_dir(spark, str(tmp_path / "customer.parquet"), "customer")
        is None
    )


def test_under_one_task_of_rows_not_rewritten(spark, tmp_path):
    """MB-scale table whose rows fit in one task target: splitting it
    would be pure per-file overhead (the five doubled sf0.1 queries of
    PERF 36), so the source is scanned as-is."""
    _write_customer(tmp_path, SCAN_ROWS_PER_TASK_DEFAULT - 1)
    assert (
        _scan_parallel_dir(spark, str(tmp_path / "customer.parquet"), "customer")
        is None
    )


def test_large_single_rowgroup_source_rewritten_row_identical(spark, tmp_path):
    n = SCAN_ROWS_PER_TASK_DEFAULT * 2 + 500  # ceil -> 3 ways
    _write_customer(tmp_path, n)
    src = str(tmp_path / "customer.parquet")
    layout = _scan_parallel_dir(spark, src, "customer")
    assert layout is not None
    par, ways = layout
    assert "scan_parallel_customer_" in par
    assert ways == 3  # size-adaptive, NOT a flat cores-way split
    df = load_table(spark, str(tmp_path), "customer")
    # the derived copy exists, is multi-file at the adaptive width,
    # and carries identical rows
    parts = [f for f in os.listdir(par) if f.endswith(".parquet")]
    assert len(parts) == ways
    got = sorted(
        (r["c_custkey"], r["c_acctbal"]) for r in df.collect()
    )
    assert got == [(i, float(i)) for i in range(n)]
    # scans of the derived layout parallelize beyond one task
    assert df.rdd.getNumPartitions() > 1


def test_heavy_tables_split_at_lower_target():
    """documents/embeddings rows carry ~100x the scan-stage work
    (tokenize/decode/vector math), so their per-task row target is far
    lower than the scalar-table default."""
    assert SCAN_ROWS_PER_TASK["documents"] < SCAN_ROWS_PER_TASK_DEFAULT
    assert SCAN_ROWS_PER_TASK["embeddings"] < SCAN_ROWS_PER_TASK_DEFAULT


def test_superseded_copy_pruned_and_key_rotates(spark, tmp_path):
    """Regenerating the source (new mtime/size) must rotate the cache
    key AND remove the stranded older copy (ADVICE r6: each testdata
    regen leaked a dir forever)."""
    n = SCAN_ROWS_PER_TASK_DEFAULT * 2 + 500
    _write_customer(tmp_path, n)
    src = str(tmp_path / "customer.parquet")
    par1, _ = _scan_parallel_dir(spark, src, "customer")
    load_table(spark, str(tmp_path), "customer").count()
    assert os.path.exists(os.path.join(par1, "_SUCCESS"))
    # regenerate with different content
    _write_customer(tmp_path, n + 100)
    par2, _ = _scan_parallel_dir(spark, src, "customer")
    assert par2 != par1
    assert load_table(spark, str(tmp_path), "customer").count() == n + 100
    assert os.path.exists(os.path.join(par2, "_SUCCESS"))
    assert not os.path.exists(par1), "superseded layout copy not pruned"


def test_same_content_other_width_copy_survives_prune(spark, tmp_path):
    """A concurrent session with a different defaultParallelism keeps a
    same-content copy at a different ``ways``; our prune must leave it
    intact (deleting it would fail that session's in-flight scans with
    missing-file errors), while stale-CONTENT dirs still go."""
    n = SCAN_ROWS_PER_TASK_DEFAULT * 2 + 500
    _write_customer(tmp_path, n)
    src = str(tmp_path / "customer.parquet")
    key, ways = _scan_split(spark, src, "customer")
    logical = "scan_parallel_customer"
    other_width = layout_path(spark, logical, src, key, f"_w{ways + 1}")
    stale = layout_path(spark, logical, src, "deadbeef0000", "_w2")
    for d in (other_width, stale):
        os.makedirs(d, exist_ok=True)
        open(os.path.join(d, "_SUCCESS"), "w").close()
    load_table(spark, str(tmp_path), "customer").count()  # write + prune
    assert os.path.exists(other_width), "live other-width copy was pruned"
    assert not os.path.exists(stale), "stale-content copy not pruned"
