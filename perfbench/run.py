"""Benchmark of the content-analytics engine, run from the root of a
checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One run is one fresh Python process with one fresh Spark session. It
writes its inputs from the seed, sets the session up (timed), runs the
workload's first pass and then warm passes until ``--seconds`` have
passed since the first pass began, checks every output, and prints one
JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 1``
the metrics are the per-layer ones and the per-call ledger is written to
``.perfbench/trace-<workload>-seed<N>.json``.

Every file the run writes lives under ``.perfbench/`` in the checkout
and the run's own directory there is removed at exit. The only settings
made are deployment ones: local parallelism from the CPUs this process
may use, a driver memory that fits the machine, and fresh warehouse,
local, checkpoint and output directories.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")


def deployment(run_dir: str) -> dict[str, str]:
    """Set the environment the program and Spark read; returns the Spark
    settings for ``get_spark(extra_conf=...)``."""
    local, tmp = os.path.join(run_dir, "local"), os.path.join(run_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    driver_mem = f"{max(1, min(4, mem_kb // (4 << 20)))}g"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    return {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": local,
        "spark.ui.showConsoleProgress": "false",
        # a fixed-size heap: a growing one makes the peak RSS depend on
        # when G1 decides to expand, which varies from run to run
        "spark.driver.extraJavaOptions":
            f"-Xms{driver_mem} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def setup(conf: dict[str, str]):
    """Imports plus ``get_spark`` until the session is ready. Returns
    (spark, seconds)."""
    t0 = time.perf_counter()
    sys.path.insert(0, ROOT)
    import content_analytics_etl_spark

    if not os.path.abspath(content_analytics_etl_spark.__file__).startswith(ROOT + os.sep):
        raise ImportError(f"content_analytics_etl_spark is not part of {ROOT}")
    import content_analytics_etl_spark.__main__  # noqa: F401
    import content_analytics_etl_spark.pipeline  # noqa: F401
    import content_analytics_etl_spark.plans  # noqa: F401
    import content_analytics_etl_spark.streaming.ingest  # noqa: F401
    from content_analytics_etl_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=conf)
    return spark, time.perf_counter() - t0


def stop(spark) -> None:
    """Stop the session and wait until the JVM has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class ProcessTree:
    """This process and all of its descendants (the JVM and the Python
    workers): samples their resident memory every ``interval`` seconds
    and keeps the peak, and reads their CPU time on demand."""

    def __init__(self, interval: float = 0.1):
        self.peak_mb = 0.0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._tick = os.sysconf("SC_CLK_TCK")

    def _members(self) -> dict[int, list[str]]:
        """``/proc/<pid>/stat`` fields after the command name, per member."""
        stats, children = {}, {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue
            stats[int(entry)] = fields
            children.setdefault(int(fields[1]), []).append(int(entry))
        members, todo = {}, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            if pid in stats:
                members[pid] = stats[pid]
        return members

    def cpu_s(self) -> float:
        """User plus system CPU seconds of the tree so far, reaped
        children included. Time the host steals from this VM is not in it."""
        return sum(
            sum(int(f) for f in fields[11:15]) for fields in self._members().values()
        ) / self._tick

    def _rss_mb(self) -> float:
        total = 0
        for pid in self._members():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total / float(1 << 20)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.peak_mb = max(self.peak_mb, self._rss_mb())

    def __enter__(self):
        self.peak_mb = self._rss_mb()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; tiny is for the smoke test")
    args = p.parse_args(argv)

    sys.path.insert(0, HERE)
    import workloads
    from layer_trace import PER_LAYER, NullTracer, Tracer

    if args.workload not in workloads.WORKLOADS:
        p.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    prepare, execute = workloads.WORKLOADS[args.workload]
    os.makedirs(WORK, exist_ok=True)
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        data = prepare(run_dir, args.seed, workloads.SIZES[args.size])
        conf = deployment(run_dir)
        warehouse = conf["spark.sql.warehouse.dir"]
        with ProcessTree() as tree:
            spark, seconds = setup(conf)
            try:
                spark.sparkContext.setLogLevel("ERROR")
                from content_analytics_etl_spark import cache, index_store

                if os.path.isdir(warehouse) and os.listdir(warehouse):
                    raise RuntimeError("the run's warehouse is not empty at start")
                if args.trace:
                    tracer = Tracer(spark, warehouse)
                    tracer.wrap_cache_layers(cache, index_store, [
                        m for n, m in list(sys.modules.items())
                        if n.startswith("content_analytics_etl_spark")
                    ])
                else:
                    tracer = NullTracer()
                run = workloads.Run(spark, tracer, tree.cpu_s, run_dir, args.seed,
                                    args.seconds, index_store)
                execute(run, data)
            finally:
                stop(spark)
        run.metrics.update(setup_s=seconds, peak_rss_mb=tree.peak_mb)
        record = {"workload": args.workload, "seed": args.seed, "size": args.size,
                  "metrics": run.metrics, "report": run.report, "ops": run.ops}
        if args.trace:
            totals, per_pass = tracer.totals(seconds)
            record.update(per_layer=totals, per_pass=per_pass, calls=tracer.calls)
            kind, names, values = "trace", PER_LAYER, totals
        else:
            missing = [n for n, _ in workloads.END_TO_END if n not in run.metrics]
            if missing:
                raise RuntimeError(f"no value for {missing}: operations failed")
            kind, names, values = "report", workloads.END_TO_END, run.metrics
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in names}
        with open(os.path.join(WORK, f"{kind}-{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump(record, fh, indent=1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": run.correct, "attempted": run.attempted,
        "failed": run.failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
