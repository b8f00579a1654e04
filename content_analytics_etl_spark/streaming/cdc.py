"""Streaming CDC apply — change files → merged snapshot versions.

The streaming counterpart of ``operators/merge.py``: a checkpointed
file-source stream of change records (key, data columns, ``is_delete``,
``seq``) applied to a parquet snapshot with ``foreachBatch`` +
``merge_upsert``. Spark has no MERGE sink without a transactional table
format; this is the engine-native replacement — each micro-batch writes
a NEW immutable snapshot version directory ``v{batch_id}``, which gives:

- **exactly-once effect**: a retried batch rewrites the SAME version
  directory (``mode=overwrite``), and merge-upsert is idempotent, so
  replays converge instead of double-applying;
- **readers never see a torn state**: they read the latest COMPLETE
  version (``_SUCCESS`` present), never the directory being written;
- **time travel for free**: older versions stay until compaction prunes
  them — the poor man's Delta log, expressed in plain parquet.

Scale shape: per batch, ONE full-outer join keyed on the business key
(see merge.py — broadcastable change batches make it shuffle-free under
AQE) plus one window pass to reduce the batch to its winning row per key
(latest ``seq``). State lives in the snapshot files, not executor
memory, so snapshot size is unbounded by RAM.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..frames import local_frame
from ..operators.merge import merge_upsert

__all__ = ["apply_cdc_stream", "latest_snapshot"]

_VERSION_RE = re.compile(r"^v(\d{10})$")


def _versions(snapshot_dir: str) -> list[tuple[int, str]]:
    if not os.path.isdir(snapshot_dir):
        return []
    out = []
    for name in os.listdir(snapshot_dir):
        m = _VERSION_RE.match(name)
        complete = os.path.exists(os.path.join(snapshot_dir, name, "_SUCCESS"))
        if m and complete:
            out.append((int(m.group(1)), os.path.join(snapshot_dir, name)))
    return sorted(out)


def latest_snapshot(
    spark: SparkSession, snapshot_dir: str, schema: StructType
) -> DataFrame:
    """Current state: the highest complete version, or empty."""
    vs = _versions(snapshot_dir)
    if not vs:
        return local_frame(spark, [], schema)
    return spark.read.schema(schema).parquet(vs[-1][1])


def apply_cdc_stream(
    spark: SparkSession,
    changes_dir: str,
    snapshot_dir: str,
    checkpoint_dir: str,
    *,
    key: str,
    change_schema: StructType,
    timeout_s: int = 120,
) -> None:
    """One availableNow CDC pass: unseen change files in ``changes_dir``
    (JSONL rows of ``change_schema`` = target columns + ``is_delete`` +
    ``seq``) are merged into a new snapshot version. Idempotent per
    batch; call again whenever new change files land."""
    target_schema = StructType(
        [f for f in change_schema.fields if f.name not in ("is_delete", "seq")]
    )

    def _apply(batch: DataFrame, batch_id: int) -> None:
        # winning row per key: highest seq (ties -> delete wins, stable)
        w = W.partitionBy(key).orderBy(
            F.col("seq").desc(), F.col("is_delete").desc()
        )
        winning = (
            batch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "seq")
        )
        # Versions are coupled to streaming batch ids: a FRESH checkpoint
        # restarts ids at 0, so an existing snapshot with versions BEYOND
        # batch_id means checkpoint_dir and snapshot_dir lifecycles have
        # diverged — merging from an empty base would silently discard
        # the existing snapshot. Fail loudly instead: the two dirs must
        # be created and retired together. (A version EQUAL to batch_id
        # is the legitimate replay-after-failure case and is overwritten
        # idempotently below.)
        stale = [v for v, _ in _versions(snapshot_dir) if v > batch_id]
        if stale:
            raise RuntimeError(
                f"snapshot_dir already has version(s) {stale} > batch "
                f"{batch_id}: checkpoint_dir was reset independently of "
                "snapshot_dir; use a fresh snapshot_dir (or the original "
                "checkpoint) so versions stay monotonic"
            )
        base_vs = [(v, p) for v, p in _versions(snapshot_dir) if v < batch_id]
        base = (
            spark.read.schema(target_schema).parquet(base_vs[-1][1])
            if base_vs
            else local_frame(spark, [], target_schema)
        )
        merged = merge_upsert(base, winning, key=key)
        merged.write.mode("overwrite").parquet(
            os.path.join(snapshot_dir, f"v{batch_id:010d}")
        )

    q = (
        spark.readStream.schema(change_schema)
        .json(changes_dir)
        .writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
