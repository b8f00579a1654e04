"""Self-test of the benchmark, run from the root of a checkout:

    python3 perfbench/selftest.py [--quick]

1. The checks reject wrong results: a perturbed query result fails the
   DuckDB oracle check, and a perturbed viewing profile fails the
   profile check.
2. Without the program next to it, the benchmark exits non-zero and
   prints no result.
3. Unless ``--quick``: every workload runs at tiny size (sf0.001 tables,
   a few thousand log rows) untraced and traced, with its checks on; the
   untraced run reports every end-to-end metric and the traced run every
   per-layer metric, and the pandas kernel, cache-build and index-build
   layers are zero on ``star_relational`` and ``viewing_logs`` and
   non-zero on ``vector_dedup``.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)
sys.dont_write_bytecode = True

import star_data  # noqa: E402
import viewing_logs  # noqa: E402
from layer_trace import PER_LAYER, sql_metric_value  # noqa: E402
from oracle import Oracle  # noqa: E402
from workloads import END_TO_END  # noqa: E402

SEPARATED = ["python.run_s", "cache.builds", "index_store.builds"]


def check_rejects_perturbed(tmp: str) -> None:
    from content_analytics_etl_spark.plans import all_oracles

    data = os.path.join(tmp, "star")
    tables = sorted(star_data.generate(data, 0.001))
    oracle = Oracle(data, tables, all_oracles())
    columns, rows = oracle.result("tpch_q1_pricing_summary")
    assert oracle.mismatch("tpch_q1_pricing_summary", rows, columns) is None
    changed = [rows[0][:-1] + (rows[0][-1] + 1,)] + rows[1:]
    assert oracle.mismatch("tpch_q1_pricing_summary", changed, columns)
    assert oracle.mismatch("tpch_q1_pricing_summary", rows[1:], columns)
    assert oracle.mismatch("tpch_q1_pricing_summary", rows + rows[:1], columns)
    oracle.close()

    logs = viewing_logs.generate(os.path.join(tmp, "logs"), 1, 500, 2)
    expected = logs["expected"]
    assert not viewing_logs.profile_mismatches(expected, copy.deepcopy(expected))
    for contract, column, value in [
        ("EDGE_TIE_MOVIE_TV", "most_watch", "TV"),
        ("EDGE_MULTI", "TotalDevices", "3"),
        ("EDGE_MEDIUM_EDGE", "Active_day", "Low"),
        ("EDGE_ZERO", "Taste", "Child"),
    ]:
        wrong = copy.deepcopy(expected)
        wrong[contract][column] = value
        assert viewing_logs.profile_mismatches(expected, wrong), (contract, column)
    missing = copy.deepcopy(expected)
    del missing["EDGE_CASE"]
    assert viewing_logs.profile_mismatches(expected, missing)
    assert "EDGE_UNKNOWN" not in expected and "0" not in expected and None not in expected

    assert sql_metric_value("1.9 s") == 1.9
    assert sql_metric_value("total (min, med, max (stageId: taskId))\n120 ms (1 ms, 2 ms, 3 ms)") == 0.12
    assert sql_metric_value("520.2 KiB") == 520.2 / 1024
    print("ok: checks reject perturbed results")


def check_fails_without_program(tmp: str) -> None:
    bare = os.path.join(tmp, "bare")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "star_relational",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=170,
    )
    assert out.returncode != 0, out.stdout
    assert '"correct"' not in out.stdout, out.stdout
    print("ok: exits non-zero without the program")


def run_tiny(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0, (
        result, out.stderr[-3000:])
    return result["metrics"]


def check_tiny_runs() -> None:
    for workload in ("viewing_logs", "star_relational", "vector_dedup"):
        metrics = run_tiny(workload, 0)
        assert sorted(metrics) == sorted(n for n, _ in END_TO_END), metrics
        assert all(m["value"] > 0 for m in metrics.values()), metrics
        layers = run_tiny(workload, 1)
        assert sorted(layers) == sorted(n for n, _ in PER_LAYER), layers
        for name in SEPARATED:
            value = layers[name]["value"]
            if workload == "vector_dedup":
                assert value > 0, (workload, name)
            else:
                assert value == 0, (workload, name, value)
        print(f"ok: {workload} tiny runs, untraced and traced")


def main() -> int:
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench")) as tmp:
        check_rejects_perturbed(tmp)
        check_fails_without_program(tmp)
    if "--quick" not in sys.argv:
        check_tiny_runs()
    return 0


if __name__ == "__main__":
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    sys.exit(main())
