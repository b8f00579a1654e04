"""The driver JVM that ``get_spark`` launches: its JIT defaults apply,
and a deployment's own ``spark.driver.extraJavaOptions`` overrides them;
it starts from a class-data-sharing archive that the first session
records; under spark-submit the submitted settings stand. Its Python
workers fork from ``worker_daemon``, which stops each task from
re-reading unchanged zip archives."""

from __future__ import annotations

import importlib
import os
import re
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

from pyspark.find_spark_home import _find_spark_home

from content_analytics_etl_spark import session, worker_daemon

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


def _env(tmp_path, **extra) -> dict[str, str]:
    """A fresh process's environment: the repo importable, a small
    session, and the user cache dir under ``tmp_path``."""
    return {
        **os.environ,
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), str(ROOT / "tests"), os.environ.get("PYTHONPATH")) if p
        ),
        "SPARK_GRAFT_CPUS": "1",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "XDG_CACHE_HOME": str(tmp_path / "cache"),
        **extra,
    }


def test_deployment_java_options_override_the_defaults(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", _READ_OPTION],
        cwd=tmp_path, env=_env(tmp_path), capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    # the deployment's value wins; the defaults it does not name still apply
    assert out.stdout.split()[-2:] == ["5000", "150000"]


# One session as a daily run has it: it sets up, runs a query and
# exits without stopping; extra_conf comes from argv. A hook registered
# before get_spark's runs after it at exit and reports the JVM's status.
_ONE_SESSION = """
import atexit, sys
from pyspark import SparkContext
from content_analytics_etl_spark.session import get_spark

atexit.register(lambda: print("jvm exit", SparkContext._gateway.proc.returncode))
spark = get_spark("test-archive", extra_conf=dict(a.split("=", 1) for a in sys.argv[1:]))
spark.range(1000).selectExpr("sum(id)").collect()
"""


def _one_session(tmp_path, *conf: str) -> str:
    conf_dir = tmp_path / "conf"  # a conf dir that holds a file, ahead of the jars
    conf_dir.mkdir(exist_ok=True)
    (conf_dir / "README").write_text("deployment notes\n")
    out = subprocess.run(
        [sys.executable, "-c", _ONE_SESSION, *conf],
        cwd=tmp_path, env=_env(tmp_path, SPARK_CONF_DIR=str(conf_dir)),
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return out.stdout + out.stderr


def test_first_session_records_the_class_archive_and_the_next_maps_it(tmp_path):
    archives = tmp_path / "cache" / "content_analytics_etl_spark"
    archives.mkdir(parents=True)
    (archives / "driver-0123456789abcdef.jsa").write_bytes(b"another key's archive")

    log = _one_session(tmp_path)
    assert "jvm exit 0" in log
    assert "[warning][cds]" not in log
    recorded = os.listdir(archives)
    assert len(recorded) == 1 and re.fullmatch(r"driver-[0-9a-f]{16}\.jsa", recorded[0])
    assert recorded != ["driver-0123456789abcdef.jsa"]  # the other key's archive is pruned

    loads = tmp_path / "class-load.log"
    _one_session(
        tmp_path, f"spark.driver.extraJavaOptions=-Xlog:class+load=info:file={loads}"
    )
    # UseSharedSpaces reads true with a rejected archive too; a class
    # mapped from the archive's top layer is the evidence
    top = loads.read_text().count("source: shared objects file (top)")
    assert top > 10_000
    assert os.listdir(archives) == recorded


def test_deployment_cds_options_win(tmp_path):
    # the recording option would stop a JVM that runs with -Xshare:off from starting
    _one_session(tmp_path, "spark.driver.extraJavaOptions=-Xshare:off")
    assert not (tmp_path / "cache" / "content_analytics_etl_spark").exists()


def test_archive_key_follows_the_jars_and_the_oops_mode(tmp_path):
    jar = tmp_path / "jars" / "a.jar"
    jar.parent.mkdir()
    jar.write_bytes(b"0")
    key = session._archive_key(str(tmp_path), "7g")
    assert session._archive_key(str(tmp_path), "31g") == key
    assert session._archive_key(str(tmp_path), "32g") != key  # no compressed oops
    os.utime(jar, ns=(0, 0))
    assert session._archive_key(str(tmp_path), "7g") != key


def test_no_archive_option_without_a_base_archive(tmp_path, monkeypatch):
    monkeypatch.setenv("JAVA_HOME", str(tmp_path))  # a JDK with no lib/server/*.jsa
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    conf = {"spark.driver.memory": "1g", "spark.driver.defaultJavaOptions": "-Xss4m"}
    assert session._class_archive(conf) is None
    assert conf == {"spark.driver.memory": "1g", "spark.driver.defaultJavaOptions": "-Xss4m"}


def test_a_class_path_in_spark_defaults_is_left_alone(tmp_path, monkeypatch):
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text(
        "# site settings\nspark.driver.extraClassPath   /opt/site/lib/*\n"
    )
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    conf = {"spark.driver.memory": "1g", "spark.driver.defaultJavaOptions": "-Xss4m"}
    assert session._class_archive(conf) is None
    assert "spark.driver.extraClassPath" not in conf


def test_spark_jars_hold_no_file_the_conf_dir_should_win_over():
    # the archive's class path puts Spark's jars ahead of the conf dir
    conf_names = re.compile(
        r"log4j2[^/]*|[^/]*-site\.xml|spark-defaults\.conf|metrics\.properties|fairscheduler\.xml"
    )
    jars = sorted(Path(_find_spark_home(), "jars").glob("*.jar"))
    assert jars
    for jar in jars:
        with zipfile.ZipFile(jar) as z:
            assert not [n for n in z.namelist() if conf_names.fullmatch(n)], jar


_SUBMITTED = """
from content_analytics_etl_spark.session import get_spark

conf = get_spark("test-submit").sparkContext.getConf()
print(conf.get("spark.master"), conf.get("spark.sql.shuffle.partitions"),
      conf.get("spark.driver.memory"), conf.get("spark.driver.defaultJavaOptions", "-"),
      conf.get("spark.driver.extraClassPath", "-"))
"""


def test_spark_submit_settings_stand(tmp_path):
    script = tmp_path / "submitted.py"
    script.write_text(_SUBMITTED)
    out = subprocess.run(
        [os.path.join(_find_spark_home(), "bin", "spark-submit"),
         "--master", "local[2]", "--driver-memory", "1g",
         "--conf", "spark.sql.shuffle.partitions=3", str(script)],
        cwd=tmp_path, env=_env(tmp_path, SPARK_GRAFT_CPUS="4", SPARK_GRAFT_DRIVER_MEM="7g"),
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split()[-5:] == ["local[2]", "3", "1g", "-", "-"]
    assert not (tmp_path / "cache").exists()


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

