"""Incremental viewing-log ingestion — the engine's replacement for the
reference's "strategy 2" (per-file ETL + driver-loop union,
``test_method2_eachFILE.py:101-133``, 2.45× slower than the fused read
and re-executes a 30-scan lineage on every failure).

The Spark-native recovery story: a checkpointed file-source stream with
``Trigger.AvailableNow`` over the daily-JSONL drop directory, appending
flattened rows to a date-partitioned parquet table. Each invocation
processes ONLY files the checkpoint hasn't seen — per-day incremental
cost, exactly-once output, and a restart resumes mid-backlog for free.
Downstream analytics (pipeline.py) then read the partitioned table with
partition pruning instead of filename arithmetic.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..schemas import VIEWING_LOG_SCHEMA
from ..sources.readers import log_date_from_filename

__all__ = ["ingest_viewing_logs", "ingest_viewing_logs_with_dlq"]


def _await_backlog(q: StreamingQuery, timeout_s: float) -> None:
    """Stop and raise if the pass outlives ``timeout_s`` (0 → 1 ms:
    ``awaitTermination`` refuses a zero timeout)."""
    if not q.awaitTermination(max(timeout_s, 0.001)):
        q.stop()
        raise TimeoutError(f"ingest stream {q.id} still running after {timeout_s} s")


def ingest_viewing_logs(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    *,
    timeout_s: int = 120,
) -> None:
    """One incremental ingest pass (availableNow): new
    ``YYYYMMDD.jsonl`` files in ``input_dir`` → flattened rows appended
    under ``output_dir/log_date=.../``. Idempotent per file via the
    checkpoint; call again whenever new days land. A pass still running
    after ``timeout_s`` is stopped and raises ``TimeoutError``."""
    raw = spark.readStream.schema(VIEWING_LOG_SCHEMA).json(input_dir)
    flat = raw.select(
        "_source.*",
        log_date_from_filename(),
    )
    q = (
        flat.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("log_date")
        .trigger(availableNow=True)
        .start()
    )
    _await_backlog(q, timeout_s)


def ingest_viewing_logs_with_dlq(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    dlq_dir: str,
    checkpoint_dir: str,
    *,
    timeout_s: int = 120,
) -> None:
    """Incremental ingest with a dead-letter channel: the streaming twin
    of ``sources.readers.read_viewing_log_quarantine``. One PERMISSIVE
    parse per micro-batch; good rows append to the partitioned table,
    unparseable lines' RAW TEXT lands under ``dlq_dir`` with their
    source file — nothing is silently dropped, and the corrupt-rate is
    observable per batch. ``foreachBatch`` splits the cached batch so
    both sinks cost one parse; the file-source checkpoint processes each
    input file once. Caveat (vs the single-sink variant's transactional
    file sink): a batch that fails BETWEEN the two appends replays both
    on restart, so a crash can duplicate rows — for stricter guarantees
    route through the versioned-snapshot pattern in ``streaming/cdc.py``
    or stamp batch_id columns and dedup downstream."""
    schema = T.StructType(
        VIEWING_LOG_SCHEMA.fields
        + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    raw = (
        spark.readStream.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(input_dir)
    )
    stamped = raw.select(
        "*",
        F.input_file_name().alias("_src_file"),
        log_date_from_filename(),
    )

    def split_batch(batch, batch_id: int) -> None:
        # Rows from files whose names don't yield a log_date are routed
        # to the DLQ (their parsed payload re-serialized as the raw
        # line) rather than silently landing in
        # __HIVE_DEFAULT_PARTITION__ — an unroutable row is a contract
        # violation just like an unparseable one.
        bad = F.col("_corrupt_record").isNotNull() | F.col("log_date").isNull()
        batch = batch.cache()
        try:
            (
                batch.filter(~bad)
                .select("_source.*", "log_date")
                .write.mode("append")
                .partitionBy("log_date")
                .parquet(output_dir)
            )
            (
                batch.filter(bad)
                .select(
                    F.col("_src_file").alias("source_file"),
                    F.coalesce(
                        F.col("_corrupt_record"), F.to_json(F.col("_source"))
                    ).alias("raw_line"),
                )
                .write.mode("append")
                .parquet(dlq_dir)
            )
        finally:
            batch.unpersist()

    q = (
        stamped.writeStream.foreachBatch(split_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _await_backlog(q, timeout_s)
