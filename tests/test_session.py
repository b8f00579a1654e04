"""The driver JVM that ``get_spark`` launches: its JIT defaults apply,
and a deployment's own ``spark.driver.extraJavaOptions`` overrides them.
Its Python workers fork from ``worker_daemon``, which stops each task
from re-reading unchanged zip archives."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

from content_analytics_etl_spark import worker_daemon

ROOT = Path(__file__).resolve().parent.parent

_READ_OPTION = """
from content_analytics_etl_spark.session import get_spark
from test_session import _vm_option

spark = get_spark("test-session", extra_conf={
    "spark.driver.extraJavaOptions": "-XX:Tier4InvocationThreshold=5000",
})
print(_vm_option(spark, "Tier4InvocationThreshold"), _vm_option(spark, "Tier4CompileThreshold"))
spark.stop()
"""


def _vm_option(spark, name: str) -> str:
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    return bean.getVMOption(name).getValue()


def test_driver_jvm_runs_with_raised_tier4_thresholds(spark):
    assert _vm_option(spark, "Tier4InvocationThreshold") == "50000"
    assert _vm_option(spark, "Tier4MinInvocationThreshold") == "6000"
    assert _vm_option(spark, "Tier4CompileThreshold") == "150000"
    assert _vm_option(spark, "Tier4BackEdgeThreshold") == "400000"


def test_deployment_java_options_override_the_defaults(tmp_path):
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(
            p for p in (str(ROOT), str(ROOT / "tests"), os.environ.get("PYTHONPATH")) if p
        ),
        SPARK_GRAFT_CPUS="1",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    out = subprocess.run(
        [sys.executable, "-c", _READ_OPTION],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    # the deployment's value wins; the defaults it does not name still apply
    assert out.stdout.split()[-2:] == ["5000", "150000"]


def test_get_spark_starts_workers_from_the_package_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "content_analytics_etl_spark.worker_daemon"


def test_worker_tasks_run_the_gated_invalidate_caches(spark):
    def probe(batches):
        import pandas as pd

        code = zipimport.zipimporter.invalidate_caches.__code__
        for _ in batches:
            yield pd.DataFrame({"name": [code.co_name], "file": [code.co_filename]})

    got = {
        tuple(r)
        for r in spark.range(4, numPartitions=2)
        .mapInPandas(probe, "name string, file string")
        .collect()
    }
    gated = worker_daemon._gated_invalidate_caches.__code__
    assert got == {(gated.co_name, gated.co_filename)}


def test_gated_invalidate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("gated_zip_a.py", "X = 1\n")
    # put the class's own method back at teardown
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    worker_daemon.gate_zip_rereads()
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or read_directory(path)
    )
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("gated_zip_a").X == 1
        importlib.invalidate_caches()  # the importer's first stamp
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert str(archive) not in reads

        with zipfile.ZipFile(archive, "a") as z:
            z.writestr("gated_zip_b.py", "Y = 2\n")
        importlib.invalidate_caches()
        assert importlib.import_module("gated_zip_b").Y == 2
        assert reads.count(str(archive)) == 1  # eagerly before 3.12, lazily at the import after
    finally:
        sys.modules.pop("gated_zip_a", None)
        sys.modules.pop("gated_zip_b", None)

