"""Driver-known rows as a Spark relation.

Lives at package root (like ``cache.py``) so operators can use it
without importing the plans package.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

__all__ = ["local_frame"]


def local_frame(
    spark: SparkSession, rows: Sequence[tuple], schema: StructType | str
) -> DataFrame:
    """A relation holding ``rows`` (tuples in ``schema``'s column order;
    ``schema`` is a ``StructType`` or a DDL string).

    The rows travel to the JVM as one Arrow table and plan as a
    ``LocalTableScan``: reading or broadcasting the frame runs no Spark
    job and starts no Python worker. ``spark.createDataFrame(<list>)``
    instead plans as ``Scan ExistingRDD`` over a pickled Python RDD, so
    every use of it runs a job whose tasks start Python workers."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)
