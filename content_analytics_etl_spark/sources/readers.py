"""Sources: schema-declared scans (SURVEY.md §2.1, S1-S4).

The reference reads JSON with inference (S1/S2: ``ETL_one_day.py:12-14``,
``ETL_full.py:33``) and selects date ranges with a driver-side filename
loop (S3: ``ETL_full.py:17-30``). Here:

- every scan declares its schema (no inference job);
- date-range selection is a *predicate* — on a partitioned layout Catalyst
  turns it into partition pruning, so the driver never enumerates files;
- multi-file reads pass a directory/glob to one reader call (the
  reference's own experiment showed the fused read 2.45× faster than
  per-file union — ``test_method1_readALL.py:119-123``).
"""

from __future__ import annotations

import glob
import hashlib
import os
from functools import lru_cache

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..index_store import materialize_once
from ..schemas import STAR_SCHEMAS, TABLE_NAMES, VIEWING_LOG_SCHEMA

__all__ = [
    "load_table",
    "load_tables",
    "log_date_from_filename",
    "read_viewing_log",
    "read_viewing_log_quarantine",
    "read_table",
    "read_evolved",
    "parquet_ts_unit",
]


@lru_cache(maxsize=256)
def _ts_unit_cached(part_file: str, mtime_ns: int) -> str | None:
    import pyarrow.parquet as pq

    field = pq.read_schema(part_file).field("ts")
    return getattr(field.type, "unit", None)


def parquet_ts_unit(path: str) -> str | None:
    """Physical unit ('ns' | 'us' | 'ms' | 's') of a parquet ``ts``
    timestamp column, sniffed from one file footer on the driver (a
    single ~KB metadata read — never a data scan). Returns None when the
    column is not a timestamp (e.g. plain int64).

    The driver's synthetic testdata has shipped ``events.ts`` as BOTH
    timestamp[ns] (rounds 1-2) and timestamp[us] (round 3) — the unit is
    a property of the writer, not the data model, so the reader adapts
    per file instead of baking in either assumption."""
    f = path
    if os.path.isdir(path):
        parts = sorted(
            glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        ) or sorted(
            p
            for p in glob.glob(os.path.join(path, "**", "part-*"), recursive=True)
            if not p.endswith((".crc", "_SUCCESS"))
        )
        if not parts:
            raise FileNotFoundError(f"no parquet part files under {path}")
        f = parts[0]
    st = os.stat(f)
    return _ts_unit_cached(f, st.st_mtime_ns)


SCAN_LAYOUT_MIN_ROWS = 2_000  # below this a single scan task is fine

# Rows one scan task should hold to amortize file-open + task-launch
# (~10-30 ms each) against per-row work.  Scan-stage per-row cost is
# ~100× higher for document/embedding payloads (tokenization, n-gram
# explode, binary decode, vector math run in the scan stage) than for
# scalar star-schema rows, so those tables split at a far lower target.
# Derivation (PERF 36): a flat cores-way split doubled five MB-scale
# sf0.1 queries (events 100k rows / 32 files = 3k rows/file — pure
# per-file overhead) while the same split was a 3.5× win on sf1
# documents (heavy rows).  ways = min(cores, ceil(rows / target)).
SCAN_ROWS_PER_TASK: dict[str, int] = {"documents": 1_000, "embeddings": 1_000}
SCAN_ROWS_PER_TASK_DEFAULT = 20_000


@lru_cache(maxsize=256)
def _layout_stats_cached(path: str, mtime_ns: int) -> tuple[int, int]:
    """(rows, row_groups) from the parquet footer — a ~KB driver-side
    metadata read, never a data scan."""
    import pyarrow.parquet as pq

    m = pq.ParquetFile(path).metadata
    return m.num_rows, m.num_row_groups


def _scan_split(spark: SparkSession, path: str, name: str) -> tuple[str, int] | None:
    """``(content key, ways)`` of a multi-file copy of ``path`` when the
    source layout cannot feed the work it carries, else None.

    Spark's parquet split granularity is the ROW GROUP: the testdata
    generator writes each table as ONE file with ~1M-row row groups, so
    e.g. sf0.1 lineitem (600k rows, 1 row group) scans — and runs every
    pre-shuffle operator chain: decode, filter, partial agg, tokenize,
    explode — in ONE task on a 32-core session, whatever
    ``maxPartitionBytes`` says. Production data arrives as many files
    and never trips this; when a source CAN'T parallelize, ``load_table``
    scans a size-adaptive copy, a derived layout
    ``scan_parallel_{name}`` of the source file (``index_store``).
    ``ways`` is ``min(cores, ceil(rows / rows_per_task))``
    (SCAN_ROWS_PER_TASK) — a flat cores-way split is pure per-file
    overhead on MB-scale tables (PERF 36).

    The content key covers the file's size and mtime and the declared
    schema; the split width is the layout's ``_w{ways}`` suffix, so
    sessions of different parallelism share one content key."""
    if not os.path.isfile(path):
        return None  # directory sources are already multi-file
    st = os.stat(path)
    rows, rgs = _layout_stats_cached(path, st.st_mtime_ns)
    cores = spark.sparkContext.defaultParallelism
    target = SCAN_ROWS_PER_TASK.get(name, SCAN_ROWS_PER_TASK_DEFAULT)
    ways = min(cores, -(-rows // target))
    if rows < SCAN_LAYOUT_MIN_ROWS or ways < 2 or rgs >= ways:
        return None
    key = hashlib.md5(
        f"{st.st_size}:{st.st_mtime_ns}:"
        f"{STAR_SCHEMAS[name].simpleString()}".encode()
    ).hexdigest()[:12]
    return key, ways


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one star-schema parquet table with its declared schema.

    Parquet + declared schema ⇒ column pruning and predicate pushdown
    reach the file scan (``.explain`` shows PushedFilters/ReadSchema).

    ``events.ts`` arrives in whatever physical unit the data generator
    used — parquet ``timestamp[ns]`` (which Spark cannot read natively;
    with ``spark.sql.legacy.parquet.nanosAsLong`` set in session.py it
    scans as epoch-nanos long, converted here via ``ts DIV 1000`` which
    truncates exactly like DuckDB's ns→µs cast) or ``timestamp[us]``
    (read directly). The unit is sniffed from the file footer
    (``parquet_ts_unit``), so regenerated testdata with a different
    writer never silently corrupts timestamps.

    Single-file sources whose row-group layout cannot feed the session's
    cores are served from a row-identical multi-file copy
    (``_scan_split``), so every result is unchanged under the engine's
    order-independence discipline.
    """
    if name not in STAR_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    schema = STAR_SCHEMAS[name]
    path = f"{sf_dir}/{name}.parquet"

    def _source() -> DataFrame:
        if name == "events" and parquet_ts_unit(path) == "ns":
            raw = T.StructType(
                [
                    T.StructField(f.name, T.LongType() if f.name == "ts" else f.dataType, True)
                    for f in schema.fields
                ]
            )
            df = spark.read.schema(raw).parquet(path)
            return df.withColumn(
                "ts", F.expr("timestamp_micros(ts DIV 1000)")
            ).select(*[f.name for f in schema.fields])
        return spark.read.schema(schema).parquet(path)

    split = _scan_split(spark, path, name)
    if split is None:
        return _source()
    key, ways = split
    par = materialize_once(
        spark,
        f"scan_parallel_{name}",
        path,
        key,
        lambda tmp: _source().repartition(ways).write.mode("overwrite").parquet(tmp),
        suffix=f"_w{ways}",
    )
    return spark.read.schema(schema).parquet(par)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    if not names:
        names = TABLE_NAMES
    return {n: load_table(spark, sf_dir, n) for n in names}


def log_date_from_filename() -> Column:
    """``log_date``: the DateType day of the reference's ``YYYYMMDD.json``
    drop-file convention (``ETL_full.py:26,30``), read from
    ``input_file_name`` per row. A file whose name does not end in
    ``YYYYMMDD.json(l)`` extracts '', which ANSI ``to_date`` refuses to
    parse; ``nullif`` makes that a NULL ``log_date`` instead of a failed
    job, so a date range excludes the file and the streaming ingest can
    route its rows to the dead-letter channel."""
    return F.to_date(
        F.nullif(F.regexp_extract(F.input_file_name(), r"(\d{8})\.jsonl?$", 1), F.lit("")),
        "yyyyMMdd",
    ).alias("log_date")


def read_viewing_log(
    spark: SparkSession,
    path: str | list[str],
    *,
    flatten: bool = True,
    date_from_filename: bool = False,
) -> DataFrame:
    """Read Elasticsearch-export viewing logs (reference S1/S2).

    Unlike the reference, the schema is declared (VIEWING_LOG_SCHEMA), so
    malformed lines still become all-NULL rows under PERMISSIVE mode but
    no inference scan runs. ``flatten`` applies the P1 struct unnest
    (``select('_source.*')`` — reference ``ETL_full.py:39``); Catalyst's
    nested-schema pruning means the envelope fields are never
    materialized.

    ``date_from_filename`` stamps the ``log_date_from_filename`` column —
    a distributed replacement for the driver-side date loop (S3); a drop
    without a date in its name gets a NULL ``log_date``. On a real
    deployment the data would instead live in a ``date=``-partitioned
    layout and this becomes a partition column.
    """
    df = spark.read.schema(VIEWING_LOG_SCHEMA).json(path)
    if date_from_filename:
        df = df.select("*", log_date_from_filename())
    if flatten:
        cols = ["_source.*"] + (["log_date"] if date_from_filename else [])
        df = df.select(*cols)
    return df


def read_viewing_log_quarantine(
    spark: SparkSession, path: str | list[str]
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Corrupt-record quarantine channel for the viewing-log ingest.

    The reference leaves malformed JSON lines as silent all-NULL rows
    (SURVEY.md §1.1); a production ingest must keep them — dropped rows
    are unauditable, and a malformed-rate spike is the first signal of
    an upstream format break. PERMISSIVE mode routes each unparseable
    line's RAW TEXT into ``_corrupt_record``; this returns
    ``(good, quarantine)``: good rows flattened as usual, quarantine
    rows as (source_file, raw_line) ready for a dead-letter sink.

    The parsed frame is cached before splitting — Spark refuses a
    filter that references only the corrupt column on an un-materialized
    scan (the parser prunes it away otherwise), and the cache also means
    the two channels cost one parse, not two. At scale this is one
    narrow scan feeding two filtered writes. The cached parent frame is
    returned third so callers can ``.unpersist()`` it once both
    channels are written — otherwise the InMemoryRelation stays pinned
    for the session lifetime."""
    schema = T.StructType(
        VIEWING_LOG_SCHEMA.fields
        + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    raw = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    # input_file_name() must be captured before the cache boundary — a
    # cached InMemoryRelation no longer knows its source files.
    df = raw.withColumn("source_file", F.input_file_name()).cache()
    good = df.filter(F.col("_corrupt_record").isNull()).select("_source.*")
    quarantine = df.filter(F.col("_corrupt_record").isNotNull()).select(
        "source_file",
        F.col("_corrupt_record").alias("raw_line"),
    )
    return good, quarantine, df


def read_table(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    fmt: str = "parquet",
    **options: str,
) -> DataFrame:
    """Format-generic scan (parquet / orc / json / csv / text) with a
    DECLARED schema — the engine never runs an inference pass (the
    reference's inference scan, S1 note, is a full extra read of the
    input). For parquet/ORC the declared schema also drives column
    pruning + predicate pushdown at the file scan."""
    reader = spark.read.schema(schema).format(fmt)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def read_evolved(
    spark: SparkSession,
    path: str,
    target: T.StructType,
    *,
    discover: bool = False,
) -> DataFrame:
    """Schema-evolution-tolerant scan of a parquet directory whose files
    were written across schema versions (columns added over time — the
    normal life of a 100 TB table).

    Policy (``discover=False``, the production path): read with the
    DECLARED target schema. Parquet columns match by name, so files
    missing a newer column yield nulls for it and files carrying extra
    columns have them pruned at the scan — no ``mergeSchema``, which
    costs a footer read of EVERY file at planning time and widens the
    scan schema to the union of history.

    ``discover=True`` is the exploration path: one ``mergeSchema`` scan
    to learn what the union schema actually is before declaring it.
    Use it interactively, never in a pipeline."""
    if discover:
        return spark.read.option("mergeSchema", "true").parquet(path)
    return spark.read.schema(target).parquet(path)
