"""SparkSession factory.

Replaces the reference's per-script builder boilerplate
(``ETL_full.py:8``, ``test_method1_readALL.py:9``: ``findspark.init()`` +
``SparkSession.builder.config("spark.driver.memory","8g")``) with one
factory configured for scale-out defaults: AQE on, UTC session timezone
(so results compare bit-for-bit against UTC-naive oracles), Arrow for the
pandas-UDF path, and shuffle parallelism sized to the cluster rather than
the Spark default of 200.

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

import os

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
    half of physical memory. On a real cluster, pass ``master=None``
    and let spark-submit supply master/executor settings.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # some testdata generations store events.ts as parquet
        # timestamp[ns], which Spark cannot read natively; with this flag
        # the reader scans ns columns as long and converts — readers.py
        # sniffs the actual unit per file and only applies the ns path
        # when the file needs it (µs files read directly)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
        .config("spark.driver.defaultJavaOptions", DRIVER_JIT_OPTIONS)
        .config("spark.python.daemon.module", WORKER_DAEMON)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _machine_driver_mem(),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
