"""The driver JVM that ``get_spark`` launches: its JIT defaults apply,
and a deployment's own ``spark.driver.extraJavaOptions`` overrides them."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

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
