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
