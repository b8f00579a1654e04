"""The viewing-log ETL pipeline, end-to-end (SURVEY.md §3 entry point 1).

Re-expression of the reference's canonical pipeline
(``ETL_full.py:152-173``: read → ETL_process → OLAP_process → save)
with its scale problems fixed:

- explicit schema (no inference scan);
- explicit category values (no discovery job, stable schema — downstream
  ``greatest`` can't crash on a missing category);
- one ``groupBy`` in place of the reference's two branches and their
  join: one scan, no cache (the reference re-executes the DAG per action);
- ``coalesce(1)`` CSV for small outputs, partitioned parquet at scale.

``fidelity=True`` preserves the reference's observable quirks
(TotalDevices = log-row count, not distinct Macs — ``ETL_full.py:42-45``);
``fidelity=False`` is the corrected pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.olap import argmax_label, bucketize, taste_label
from .operators.profile import category_profile
from .operators.recode import VIEWING_CATEGORIES, VIEWING_CATEGORY_MAP, recode_category

__all__ = ["etl_process", "olap_process", "run_viewing_pipeline"]

# most_watch label map — column → label, in the reference's tie-break
# order Child > Movie > Relax > Sport > TV (ETL_full.py:101-107).
_MOST_WATCH = {
    "ChildDuration": "Child",
    "MovieDuration": "Movie",
    "RelaxDuration": "Relax",
    "SportDuration": "Sport",
    "TVDuration": "TV",
}

SECONDS_PER_DAY = 86400  # ETL_full.py:131


def etl_process(flat: DataFrame, *, fidelity: bool = True) -> DataFrame:
    """Flattened log rows → one wide row per Contract: the rows of
    ``ETL_process`` (``ETL_full.py:74-90``: device count joined to the
    recoded, filtered category sums) from one aggregation. Sentinel and
    NULL contracts never survived that join, so they are filtered first.
    """
    recoded = flat.filter(F.col("Contract") != "0").withColumn(  # P3; NULLs drop via 3VL
        "Type", recode_category("AppName", VIEWING_CATEGORY_MAP)
    )  # unmapped apps → 'Error', which no category matches (P4)
    devices = F.count(F.lit(1)) if fidelity else F.countDistinct("Mac")
    return category_profile(
        recoded, "Contract", "Type", "TotalDuration", VIEWING_CATEGORIES,
        devices=devices.alias("TotalDevices"),
    )


def olap_process(profile: DataFrame) -> DataFrame:
    """Wide profile → +most_watch, +Taste, +Active_day
    (``OLAP_process``, ``ETL_full.py:140-150``)."""
    total_secs = sum(F.col(c) for c in _MOST_WATCH)
    return (
        profile.withColumn("most_watch", argmax_label(_MOST_WATCH))
        .withColumn("Taste", taste_label(_MOST_WATCH))
        .withColumn("TotalDays", total_secs / SECONDS_PER_DAY)
        .withColumn("Active_day", bucketize("TotalDays", [10, 20], ["Low", "Medium", "High"]))
        .drop("TotalDays")
    )


def run_viewing_pipeline(flat: DataFrame, *, fidelity: bool = True) -> DataFrame:
    """Full pipeline over an already-flattened log frame."""
    return olap_process(etl_process(flat, fidelity=fidelity))
