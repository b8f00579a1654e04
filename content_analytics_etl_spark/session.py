"""SparkSession factory.

Replaces the reference's per-script builder boilerplate
(``ETL_full.py:8``, ``test_method1_readALL.py:9``: ``findspark.init()`` +
``SparkSession.builder.config("spark.driver.memory","8g")``) with one
factory configured for scale-out defaults: AQE on, UTC session timezone
(so results compare bit-for-bit against UTC-naive oracles), Arrow for the
pandas-UDF path, and, in local mode, shuffle parallelism sized to the
CPUs rather than the Spark default of 200. Under spark-submit the
submitted master, shuffle partitions and driver memory stand.

``spark.sql.codegen.cache.maxEntries`` is raised from Spark's 100 to
``CODEGEN_CACHE_ENTRIES``, so a repeated query reuses its compiled
classes: with the default, each warm pass of the five relational
queries of perfbench's ``star_relational`` mix recompiled 25 evicted
classes (the cache is split into segments that evict before the total
reaches 100), and the JIT compiled them again.

The driver JVM that ``get_spark`` launches starts with HotSpot's tier-4
(C2) compile thresholds at ten times their JDK 17 defaults
(``DRIVER_JIT_OPTIONS``). In local mode that JVM is the whole engine,
and a daily run lives under a minute: with the defaults its C2
compiler threads used 31-40 CPU-s in each perfbench run (4 vCPU), a
fifth to a quarter of the whole process tree and about three times
the CPU of all executor tasks, mostly optimising framework and Janino
paths that ran a few thousand times and never again. With the raised
thresholds those paths stay in C1 and the C2 threads use 12-15 CPU-s,
while code that stays hot (whole-stage-codegen loops over real data)
still reaches C2; executor task CPU rises by up to 5 CPU-s a run,
because task code runs longer before C2 compiles it. Over 1.5M log
rows the CLI ``etl`` warm calls use less CPU and are no slower; C1
alone (``TieredStopAtLevel=1``) doubled their CPU. The options go in
``spark.driver.defaultJavaOptions``, which the launcher places before
``spark.driver.extraJavaOptions``, so a deployment's own JVM options,
a ``-XX:Tier4...`` value included, still apply and win. They reach only a driver JVM this factory
launches; a spark-submit'd driver and the executors keep HotSpot's
defaults.

That driver JVM also starts from a dynamic class-data-sharing (AppCDS)
archive of the classes it loaded in an earlier run. Without one it
parses and verifies about 20,000 classes from Spark's jars in every
process; with one, ``setup_s`` in perfbench fell from 6.0 to 3.3 s
(``viewing_logs`` medians, 4 vCPU). The archive is
``driver-<key>.jsa`` in ``$XDG_CACHE_HOME`` (else ``~/.cache``)
``/content_analytics_etl_spark/``; the key covers what the JVM checks an
archive against (``_archive_key``), and a JVM that rejects one anyway
runs without it. When no archive has the key, the launch records one
(``-XX:ArchiveClassesAtExit``) into a pid-suffixed ``.tmp-`` file; at
interpreter exit ``_publish_archive`` waits for the JVM's dump (9 s
for a 141 MB archive, 4 vCPU) and,
only if it exited 0, renames the file into place and prunes the
archives of other keys: ``index_store.materialize_once``'s write-once
rule for one file. JDK 17 refuses to record when a non-empty directory
precedes a jar that classes load from, and the launcher puts the conf
dir first, so the launch sets ``spark.driver.extraClassPath`` to
Spark's ``jars/*`` (none holds a root-level ``log4j2.*``,
``*-site.xml``, ``spark-defaults.conf``, ``metrics.properties`` or
``fairscheduler.xml`` that the conf dir's copy should win over;
``tests/test_session.py``). A deployment that sets its own
``spark.driver.extraClassPath``, or CDS options of its own in
``spark.driver.extraJavaOptions`` (``-Xshare:off`` to run without an
archive), gets none of these options; so does a driver JVM that already
runs.

Python workers fork from the package's own daemon
(``spark.python.daemon.module`` = ``WORKER_DAEMON``), which runs
PySpark's after one fix: on CPython < 3.12 every task's
``importlib.invalidate_caches()`` re-read the zip directory of
``pyspark.zip``, py4j and the spark-core jar once per importer (16 in
an Arrow kernel's worker), 0.18-0.25 CPU-s per task; the daemon
re-reads an archive only when its mtime or size changed
(worker_daemon.py). So every worker must be able to import this
package, as the Arrow kernels already require; a deployment that
cannot sets ``pyspark.daemon`` back through ``extra_conf``.

Streaming checkpoints are written through Hadoop's ``FileSystem`` API
(``spark.sql.streaming.checkpointFileManagerClass``). Spark's default
``FileContext`` manager resolves symlinks on every rename, and without
Hadoop's native library each resolution forks ``readlink`` from the
driver JVM.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import re
import shutil
import subprocess
from pathlib import Path

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

__all__ = ["get_spark"]

# One sweep of every registered query at sf0.01 compiled 3,655 distinct
# classes, and a second sweep 207 more (queries whose generated code
# embeds per-call literals). 8192 holds a sweep with room for new
# queries and for the cache's segments filling unevenly.
CODEGEN_CACHE_ENTRIES = 8192

# JDK 17 defaults: 5000, 600, 15000, 40000.
DRIVER_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000"
    " -XX:Tier4MinInvocationThreshold=6000"
    " -XX:Tier4CompileThreshold=150000"
    " -XX:Tier4BackEdgeThreshold=400000"
)

# Python workers fork from this daemon (worker_daemon.py): PySpark's own,
# after it stops every task from re-reading the zip archives it imports from.
WORKER_DAEMON = f"{__package__}.worker_daemon"

# With an archive the JVM logs a warning per class it could not archive
# or share (Ivy's fail verification when recorded); none changes a result.
ARCHIVE_LOG_OPTIONS = "-Xlog:cds=off -Xlog:cds+dynamic=off"

# A recording JVM's dump took 9 s (4 vCPU, 141 MB archive). Interpreter
# exit waits at most this long; a JVM still dumping then is left to exit
# on its own, and nothing is published.
ARCHIVE_DUMP_TIMEOUT_S = 120

CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _machine_driver_mem() -> str:
    """Half of physical memory, in whole GiB (at least 1g): in local
    mode the driver JVM is the whole engine, and the other half is left
    to the Python driver, its workers and the OS."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, phys // (2 << 30))}g"


def _java_home() -> Path:
    """The JDK the launcher runs: ``$JAVA_HOME``, else ``java`` on PATH
    (``bin/spark-class``)."""
    home = os.environ.get("JAVA_HOME")
    if home:
        return Path(home).resolve()
    return Path(shutil.which("java") or "java").resolve().parent.parent


def _conf_dir(spark_home: str) -> str:
    return os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")


def _driver_class_path(spark_home: str) -> list[str]:
    """The driver class path the launcher builds, in order, once
    ``spark.driver.extraClassPath`` is ``jars/*``: the extra class path,
    the conf dir, the jars, then the Hadoop/YARN conf dirs and
    ``SPARK_DIST_CLASSPATH``."""
    jars = os.path.join(spark_home, "jars", "*")
    tail = (os.environ.get(v) for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH"))
    return [jars, _conf_dir(spark_home), jars] + [e for t in tail if t for e in t.split(os.pathsep)]


def _archive_key(spark_home: str, driver_mem: str) -> str:
    """16 hex digits over what the JVM checks an archive against: its
    build (libjvm), the base archive it stacks on, which the heap size
    picks (``classes_nocoops.jsa`` from 32g up, where compressed oops are
    off), and the class path with each jar's size and mtime. Raises
    ``OSError`` when either file is missing: a JVM told to record with
    no base archive fails to start."""
    heap = re.fullmatch(r"(\d+)([kmgt]?)", driver_mem.strip().lower())
    scale = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    coops = heap is None or int(heap[1]) * scale[heap[2]] < 32 << 30
    server = _java_home() / "lib" / "server"
    parts = []
    for f in (server / "libjvm.so", server / ("classes.jsa" if coops else "classes_nocoops.jsa")):
        st = f.stat()
        parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
    for entry in _driver_class_path(spark_home):
        parts.append(entry)
        if entry.endswith("*"):
            for jar in sorted(glob.glob(entry[:-1] + "*.[jJ][aA][rR]")):
                st = os.stat(jar)
                parts.append(f"{jar}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16]


def _archive_dir() -> Path:
    return Path(os.environ.get("XDG_CACHE_HOME") or Path.home() / ".cache") / __package__


def _deployment_conf(spark_home: str, conf: dict[str, str]) -> dict[str, str]:
    """``conf`` over the deployment's ``spark-defaults.conf``, as the
    launcher merges them."""
    try:
        lines = Path(_conf_dir(spark_home), "spark-defaults.conf").read_text().splitlines()
    except OSError:
        lines = []
    defaults = {}
    for line in lines:
        kv = re.match(r"\s*([^#!\s=:]+)[\s=:]\s*(.*)", line)
        if kv:
            defaults[kv[1]] = kv[2].strip()
    return {**defaults, **conf}


def _class_archive(conf: dict[str, str]) -> Path | None:
    """Point the driver JVM at its class-data-sharing archive (module
    docstring): adds the options to ``conf``, unless the deployment sets
    its own class path or CDS options. Returns the temporary path a
    recording launch writes, for ``_publish_archive``, else None."""
    spark_home = _find_spark_home()
    deployed = _deployment_conf(spark_home, conf)
    if "spark.driver.extraClassPath" in deployed or re.search(
        r"-Xshare:|SharedArchiveFile|ArchiveClassesAtExit",
        deployed.get("spark.driver.extraJavaOptions", ""),
    ):
        return None
    archives = _archive_dir()
    try:
        key = _archive_key(spark_home, conf["spark.driver.memory"])
        archives.mkdir(parents=True, exist_ok=True)
    except OSError:
        return None
    archive = archives / f"driver-{key}.jsa"
    tmp = None
    if archive.is_file():
        option = f"-XX:SharedArchiveFile={archive}"
    else:
        tmp = archives / f"{archive.name}.tmp-{os.getpid()}"
        option = f"-XX:ArchiveClassesAtExit={tmp}"
    conf["spark.driver.extraClassPath"] = os.path.join(spark_home, "jars", "*")
    conf["spark.driver.defaultJavaOptions"] += f" {option} {ARCHIVE_LOG_OPTIONS}"
    return tmp


def _publish_archive(tmp: Path, proc) -> None:
    """At interpreter exit: end the recording JVM (it exits when its stdin
    closes), wait for its dump, and publish the archive by rename only if
    it exited 0; then prune the archives of other keys. A concurrent
    recorder's ``.tmp-`` file is left alone."""
    try:
        if proc.returncode is None:
            proc.stdin.close()
            proc.wait(timeout=ARCHIVE_DUMP_TIMEOUT_S)
        if proc.returncode != 0 or not tmp.is_file():
            return
        archive = tmp.with_name(tmp.name.rsplit(".tmp-", 1)[0])
        os.replace(tmp, archive)
        for stale in tmp.parent.glob("driver-*.jsa"):
            if stale != archive:
                stale.unlink(missing_ok=True)
    except (OSError, subprocess.TimeoutExpired):
        pass
    finally:
        tmp.unlink(missing_ok=True)


def get_spark(
    app_name: str = "content_analytics_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Local-mode defaults come from the environment the driver runs us in
    (``SPARK_GRAFT_CPUS``, ``SPARK_GRAFT_DRIVER_MEM``); one it leaves
    unset comes from the machine: the CPUs this process may run on, and
    half of physical memory. Under spark-submit (a driver JVM already
    runs, ``PYSPARK_GATEWAY_PORT``) the submitted master, shuffle
    partitions and driver memory stand, unless passed here, and no
    driver JVM option is added.
    """
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
        # some testdata generations store events.ts as parquet
        # timestamp[ns], which Spark cannot read natively; with this flag
        # the reader scans ns columns as long and converts — readers.py
        # sniffs the actual unit per file and only applies the ns path
        # when the file needs it (µs files read directly)
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        "spark.ui.enabled": "false",
        "spark.sql.streaming.checkpointFileManagerClass": CHECKPOINT_FILE_MANAGER,
        "spark.python.daemon.module": WORKER_DAEMON,
    }
    submitted = "PYSPARK_GATEWAY_PORT" in os.environ
    if not submitted:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
        master = master or f"local[{cpus}]"
        if shuffle_partitions is None:
            shuffle_partitions = cpus
        conf["spark.driver.defaultJavaOptions"] = DRIVER_JIT_OPTIONS
        conf["spark.driver.memory"] = (
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _machine_driver_mem()
        )
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.update(extra_conf or {})
    archive_tmp = None
    if not submitted and SparkContext._gateway is None:
        archive_tmp = _class_archive(conf)

    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if archive_tmp is not None:
        atexit.register(_publish_archive, archive_tmp, spark.sparkContext._gateway.proc)
    spark.sparkContext.setLogLevel("WARN")
    return spark
