"""Command-line entry points — the engine's replacement for the
reference's four run-it-yourself scripts (``ETL_one_day.py``,
``ETL_full.py``, the two ``test_method*`` variants), which prompt for
dates on stdin and hard-code Windows paths (``ETL_full.py:17-18,153-154``).

    python -m content_analytics_etl_spark etl --input DIR --output DIR \
        [--start YYYYMMDD --end YYYYMMDD] [--corrected] [--format csv|parquet]
    python -m content_analytics_etl_spark ingest --input DIR --output DIR \
        --checkpoint DIR
    python -m content_analytics_etl_spark query NAME [--sf-dir DIR] [-n ROWS]

``etl`` runs the full pipeline (read → ETL → OLAP → save) over every
``*.json(l)`` drop at the top level of ``--input`` (subdirectories are
not read); a date range filters on the
``log_date`` column parsed from the ``YYYYMMDD`` filename convention —
on a date-partitioned lake the same predicate becomes partition pruning.
A drop whose name carries no date is outside every date range.
``ingest`` is the incremental (checkpointed, exactly-once-per-file)
replacement for the reference's strategy-2 recovery loop. ``query``
runs any registered analytics query by name.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import Observation
from pyspark.sql import functions as F


def _drop_files(spark, directory: str) -> list[str]:
    """The ``*.json*`` files at the top level of ``directory``, listed on
    the driver with Hadoop's ``globStatus``. Handing Spark the glob itself
    reads the same files, but Spark first looks the literal pattern up as
    a path and logs a WARN with a stack trace on every call."""
    jvm = spark.sparkContext._jvm
    pattern = jvm.org.apache.hadoop.fs.Path(f"{directory}/*.json*")
    fs = pattern.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    files = sorted(st.getPath().toString() for st in fs.globStatus(pattern) or [] if st.isFile())
    if not files:
        raise FileNotFoundError(f"no *.json* drop files in {directory}")
    return files


def _cmd_etl(args: argparse.Namespace) -> int:
    from .pipeline import run_viewing_pipeline
    from .session import get_spark
    from .sources.readers import read_viewing_log
    from .sources.writers import write_csv_single, write_parquet_partitioned

    spark = get_spark("etl")
    flat = read_viewing_log(
        spark, _drop_files(spark, args.input), flatten=True, date_from_filename=True
    )
    if args.start:
        flat = flat.filter(F.col("log_date") >= F.to_date(F.lit(args.start), "yyyyMMdd"))
    if args.end:
        flat = flat.filter(F.col("log_date") <= F.to_date(F.lit(args.end), "yyyyMMdd"))
    written = Observation("etl")  # counts rows in the write's own job
    result = run_viewing_pipeline(flat, fidelity=not args.corrected)
    result = result.observe(written, F.count(F.lit(1)).alias("rows"))
    if args.format == "csv":
        write_csv_single(result, args.output)
    else:
        write_parquet_partitioned(result, args.output)
    print(f"wrote {written.get['rows']} contract profiles to {args.output}")
    return 0


def _cmd_ingest(args: argparse.Namespace) -> int:
    from .session import get_spark
    from .streaming.ingest import ingest_viewing_logs, ingest_viewing_logs_with_dlq

    spark = get_spark("ingest")
    if args.dlq:
        ingest_viewing_logs_with_dlq(
            spark, args.input, args.output, args.dlq, args.checkpoint
        )
        print(
            f"ingested new files from {args.input} into {args.output} "
            f"(corrupt lines -> {args.dlq})"
        )
    else:
        ingest_viewing_logs(spark, args.input, args.output, args.checkpoint)
        print(f"ingested new files from {args.input} into {args.output}")
    return 0


def _cmd_query(args: argparse.Namespace) -> int:
    from .plans import all_queries
    from .session import get_spark

    qs = all_queries()
    if args.name not in qs:
        print(f"unknown query {args.name!r}; available:\n  " + "\n  ".join(sorted(qs)))
        return 2
    spark = get_spark("query")
    df = qs[args.name](spark, args.sf_dir)
    df.show(args.rows, truncate=False)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="content_analytics_etl_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    etl = sub.add_parser("etl", help="run the viewing-log pipeline end-to-end")
    etl.add_argument("--input", required=True, help="directory of *.json(l) drops (top level only)")
    etl.add_argument("--output", required=True)
    etl.add_argument("--start", help="YYYYMMDD inclusive")
    etl.add_argument("--end", help="YYYYMMDD inclusive")
    etl.add_argument("--format", choices=["csv", "parquet"], default="csv")
    etl.add_argument(
        "--corrected",
        action="store_true",
        help="distinct-Mac device counts instead of the reference's row-count quirk",
    )
    etl.set_defaults(fn=_cmd_etl)

    ing = sub.add_parser("ingest", help="incremental checkpointed ingestion")
    ing.add_argument("--input", required=True)
    ing.add_argument("--output", required=True)
    ing.add_argument("--checkpoint", required=True)
    ing.add_argument(
        "--dlq",
        help="dead-letter directory: corrupt lines land here instead of "
        "becoming silent all-NULL rows",
    )
    ing.set_defaults(fn=_cmd_ingest)

    q = sub.add_parser("query", help="run a registered analytics query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    q.add_argument("-n", "--rows", type=int, default=20)
    q.set_defaults(fn=_cmd_query)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
