"""The benchmark's three workloads.

Each workload has a ``prepare`` step that writes its inputs without
Spark (not timed) and an ``execute`` step that drives the program
through its public entry points: the CLI ``main(["etl", ...])``,
``streaming.ingest.ingest_viewing_logs``, ``pipeline.run_viewing_pipeline``
and ``plans.all_queries()[name]``.
"""

from __future__ import annotations

import contextlib
import csv
import glob
import io
import os
import random
import statistics
import sys
import time
import traceback

import pyarrow.parquet as pq

import star_data
import viewing_logs
from oracle import Oracle, table_hash

STAR_RELATIONAL = [
    "flagship_profile",
    "tpch_q1_pricing_summary",
    "tpch_q18_large_orders",
    "events_session",
    "part_revenue_abc",
]
VECTOR_DEDUP = [
    "kmeans_assign",
    "sim_neardup_clustered",
    "doc_lm_perplexity",
]

# input sizes; "tiny" is for the smoke test only
SIZES = {
    "full": {"log_rows": 90_000, "log_days": 3, "sf": 0.01},
    "tiny": {"log_rows": 3_000, "log_days": 3, "sf": 0.001},
}
WARM_PASSES = 2  # at least this many warm passes; traced runs do exactly this many


class Run:
    """One benchmark run: the session, the tracer and the tally of
    operations, failures and metrics."""

    def __init__(self, spark, tracer, cpu, run_dir: str, seed: int, seconds: float,
                 index_mod):
        self.spark = spark
        self.tracer = tracer
        self._cpu = cpu
        self.dir = run_dir
        self.seed = seed
        self.seconds = seconds
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.metrics: dict[str, float] = {}
        self.report: dict[str, float] = {}  # figures that are not gated
        # pass -> operation -> (wall s, process-tree CPU s); passes in run order
        self.ops: dict[str, dict[str, tuple[float, float]]] = {}
        self._broken: set[str] = set()  # passes with an operation that raised
        self.started = time.perf_counter()  # the measured phase starts with the run
        self._index_mod = index_mod

    def op(self, phase: str, name: str, fn, *, after=None):
        """Run one operation; returns ``(result, wall seconds)``, or
        ``(None, None)`` when it raised."""
        self.attempted += 1
        with self.tracer.call(phase, name) as span:
            c0 = self._cpu()
            t0 = time.perf_counter()
            try:
                result = fn()
            except Exception:
                traceback.print_exc(file=sys.stderr)
                self.failed += 1
                self._broken.add(phase)
                return None, None
            wall = time.perf_counter() - t0
            self.ops.setdefault(phase, {})[name] = (wall, self._cpu() - c0)
            if after is not None and self.tracer.enabled:
                after(span)
        if self._index_mod.PERSISTED_FROM_DISK:
            self.mismatch(
                f"{phase}/{name}: index served from disk "
                f"{sorted(self._index_mod.PERSISTED_FROM_DISK)}"
            )
        return result, wall

    def mismatch(self, what: str) -> None:
        """A finished operation whose output is wrong."""
        print(f"MISMATCH {what}", file=sys.stderr)
        self.failed += 1
        self.correct = False

    def warm_rounds(self):
        """Warm pass numbers: passes keep starting until ``seconds`` have
        passed since the first pass began, at least ``WARM_PASSES``;
        traced runs do exactly ``WARM_PASSES``."""
        i = 0
        while i < WARM_PASSES or (
            not self.tracer.enabled and time.perf_counter() - self.started < self.seconds
        ):
            yield i
            i += 1

    def pass_metrics(self) -> None:
        """``first_pass_cpu_s``: process-tree CPU seconds of the first
        pass's operations. ``warm_pass_cpu_s``: the sum over operations of
        each one's median across the warm passes, so one slow call does
        not move it. Wall-time twins go to the report. A pass with an
        operation that raised gives no figure."""
        passes = [p for p in self.ops if p not in self._broken]
        warm = [self.ops[p] for p in passes if p.startswith("warm_pass_")]
        for i, unit in ((1, "cpu_s"), (0, "wall_s")):
            figures = self.metrics if unit == "cpu_s" else self.report
            if "first_pass" in passes:
                figures[f"first_pass_{unit}"] = sum(c[i] for c in self.ops["first_pass"].values())
            if warm:
                figures[f"warm_pass_{unit}"] = sum(
                    statistics.median(p[op][i] for p in warm) for op in warm[0]
                )


# -- viewing_logs -----------------------------------------------------------

def prepare_viewing_logs(run_dir: str, seed: int, size: dict) -> dict:
    return viewing_logs.generate(
        os.path.join(run_dir, "days"), seed, size["log_rows"], size["log_days"]
    )


def _read_csv_profile(out_dir: str) -> dict:
    parts = glob.glob(os.path.join(out_dir, "part-*.csv"))
    if len(parts) != 1:
        raise ValueError(f"expected one CSV part file in {out_dir}, found {len(parts)}")
    with open(parts[0], newline="") as fh:
        return {row["Contract"]: row for row in csv.DictReader(fh)}


def _row_profile(rows) -> dict:
    return {
        r["Contract"]: {k: "" if v is None else str(v) for k, v in r.asDict().items()}
        for r in rows
    }


def _rows_per_log_date(table: str) -> dict[str, int]:
    """Rows in every parquet file of the partitioned table, per
    ``log_date`` partition, read from the file footers."""
    counts: dict[str, int] = {}
    for path in glob.glob(os.path.join(table, "log_date=*", "*.parquet")):
        day = os.path.basename(os.path.dirname(path))[len("log_date="):].replace("-", "")
        counts[day] = counts.get(day, 0) + pq.ParquetFile(path).metadata.num_rows
    return counts


def execute_viewing_logs(run: Run, data: dict) -> None:
    """One pass is the reference's daily job by both of its strategies
    over the same day files: the batch CLI ``etl`` over the whole drop
    directory, then the incremental path from an empty table (the files
    land one per day, ``ingest_viewing_logs`` after each) and the profile
    from the ingested date-partitioned table."""
    from content_analytics_etl_spark.__main__ import main as cli_main
    from content_analytics_etl_spark.pipeline import run_viewing_pipeline
    from content_analytics_etl_spark.streaming.ingest import ingest_viewing_logs

    spark, expected = run.spark, data["expected"]

    def one_pass(phase: str) -> None:
        d = os.path.join(run.dir, phase)
        out, landing = os.path.join(d, "batch_out"), os.path.join(d, "landing")
        table, ckpt = os.path.join(d, "table"), os.path.join(d, "checkpoint")
        # every pass reads its own directory of the same files, as the next
        # day's job would: the CLI leaves its input cached in the session,
        # and a repeat read of the same path would be served from that cache
        drops = os.path.join(d, "drops")
        os.makedirs(landing)
        os.makedirs(drops)
        for path in data["files"]:
            os.link(path, os.path.join(drops, os.path.basename(path)))

        def etl():
            printed = io.StringIO()
            with contextlib.redirect_stdout(printed):
                rc = cli_main(["etl", "--input", drops, "--output", out])
            return rc, printed.getvalue()

        result, _ = run.op(phase, "batch_etl", etl)
        if result is not None:
            rc, printed = result
            if rc != 0 or f"wrote {len(expected)} contract profiles" not in printed:
                run.mismatch(f"{phase} batch: exit {rc}, printed {printed.strip()!r}")
            else:
                problems = viewing_logs.profile_mismatches(expected, _read_csv_profile(out))
                if problems:
                    run.mismatch(f"{phase} batch: " + "; ".join(problems))

        def ingest():
            ingest_viewing_logs(spark, landing, table, ckpt)

        def landed_files() -> tuple[int, int]:
            """(micro-batches committed, parquet files in the table)"""
            commits = os.path.join(ckpt, "commits")
            batches = (
                len([f for f in os.listdir(commits) if f.isdigit()])
                if os.path.isdir(commits) else 0
            )
            return batches, len(glob.glob(os.path.join(table, "log_date=*", "*.parquet")))

        def stream_layers(span) -> None:
            batches, files = landed_files()
            span["m"]["streaming.micro_batches"] = batches - span_start[0]
            span["m"]["streaming.output_files"] = files - span_start[1]
            span["streaming"] = True

        expect_counts: dict[str, int] = {}
        for path in data["files"] + [None]:
            if path is None:
                name = "ingest_repeat"  # a day with no new file
            else:
                day = os.path.basename(path)[:8]
                name = f"ingest_{day}"
                os.link(path, os.path.join(landing, os.path.basename(path)))
                expect_counts[day] = data["lines"][day]
            span_start = landed_files()
            _, wall = run.op(phase, name, ingest, after=stream_layers)
            if wall is None:
                continue
            got = _rows_per_log_date(table)
            if got != expect_counts:
                run.mismatch(
                    f"{phase} {name}: rows per log_date {got} != lines landed {expect_counts}"
                )

        def table_profile():
            df = run_viewing_pipeline(spark.read.parquet(table).drop("log_date"))
            rows = df.collect()
            run.tracer.catalyst(df)
            return rows

        rows, _ = run.op(phase, "table_profile", table_profile)
        if rows is not None:
            problems = viewing_logs.profile_mismatches(expected, _row_profile(rows))
            if problems:
                run.mismatch(f"{phase} table profile: " + "; ".join(problems))
        run.tracer.end_pass(phase)

    one_pass("first_pass")
    for i in run.warm_rounds():
        one_pass(f"warm_pass_{i}")
    run.pass_metrics()
    # the two strategies' own figures, for the run report (not gated)
    if run.failed:
        return
    walls = {
        name: [run.ops[p][name][0] for p in run.ops] for name in run.ops["first_pass"]
    }
    run.report.update({
        "batch_cold_s": walls["batch_etl"][0],
        "batch_rows_per_s": data["rows"] / statistics.median(walls["batch_etl"][1:]),
        "ingest_rows_per_s": data["rows"] / sum(
            w[0] for name, w in walls.items() if name.startswith("ingest_2")
        ),
        "table_profile_s": statistics.median(walls["table_profile"]),
    })


# -- query mixes ------------------------------------------------------------

def prepare_query_mix(run_dir: str, seed: int, size: dict) -> dict:
    data_dir = os.path.join(run_dir, "star")
    counts = star_data.generate(data_dir, size["sf"])
    return {"data_dir": data_dir, "tables": sorted(counts)}


def execute_query_mix(run: Run, data: dict, names: list[str]) -> None:
    from content_analytics_etl_spark.plans import all_oracles, all_queries

    queries = all_queries()
    oracle = Oracle(data["data_dir"], data["tables"], all_oracles())
    order = list(names)
    random.Random(run.seed).shuffle(order)
    tracer = run.tracer

    def run_query(name: str):
        def call():
            t0 = time.perf_counter()
            df = queries[name](run.spark, data["data_dir"])
            t1 = time.perf_counter()
            eager = tracer.jobs_so_far()
            t2 = time.perf_counter()
            rows = [tuple(r) for r in df.collect()]
            t3 = time.perf_counter()
            tracer.add("plans.build_s", t1 - t0)
            tracer.add("plans.action_s", t3 - t2)
            tracer.add("plans.eager_jobs", eager)
            tracer.catalyst(df)
            return df.columns, rows
        return call

    hashes: dict[str, str] = {}

    def one_pass(phase: str) -> None:
        """The first pass checks each result against its oracle; warm
        passes check it against the first pass."""
        for name in order:
            result, _ = run.op(phase, name, run_query(name))
            if result is None:
                continue
            columns, rows = result
            if phase == "first_pass":
                hashes[name] = table_hash(rows, columns)
                problem = oracle.mismatch(name, rows, columns)
                if problem:
                    run.mismatch(f"{name}: {problem}")
            elif name in hashes and table_hash(rows, columns) != hashes[name]:
                run.mismatch(f"{name}: {phase} result differs from the first pass")
        tracer.end_pass(phase)

    one_pass("first_pass")
    oracle.close()
    for i in run.warm_rounds():
        one_pass(f"warm_pass_{i}")
    run.pass_metrics()


WORKLOADS = {
    "viewing_logs": (prepare_viewing_logs, execute_viewing_logs),
    "star_relational": (
        prepare_query_mix,
        lambda run, data: execute_query_mix(run, data, STAR_RELATIONAL),
    ),
    "vector_dedup": (
        prepare_query_mix,
        lambda run, data: execute_query_mix(run, data, VECTOR_DEDUP),
    ),
}

# (name, unit) of every end-to-end metric; every workload reports all of them
END_TO_END = [
    ("setup_s", "s"),
    ("first_pass_cpu_s", "s"),
    ("warm_pass_cpu_s", "s"),
    ("peak_rss_mb", "MB"),
]
