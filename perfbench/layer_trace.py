"""Outside-in layer trace for the benchmark's traced runs.

Every call the benchmark makes into the program runs under its own Spark
job group. After the call, the tracer reads Spark's own status stores
(the AppStatusStore for jobs and stages, the SQL status store for the
metrics of the pandas/Arrow nodes, the returned frame's
``queryExecution().tracker()`` for Catalyst phases) and books what that
call caused into a per-call ledger. ``session_materialized`` and
``persisted_index`` are wrapped from the outside to count cache and
index builds. Nothing in the program changes.

Untraced runs use ``NullTracer``, whose calls cost nothing.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

MB = float(1 << 20)

# (name, unit) of every per-layer metric, in report order
PER_LAYER = [
    ("session.start_s", "s"),
    ("sources.input_mb", "MB"),
    ("sources.output_mb", "MB"),
    ("sources.layout_copies", "count"),
    ("streaming.micro_batches", "count"),
    ("streaming.start_s", "s"),
    ("streaming.output_files", "count"),
    ("plans.build_s", "s"),
    ("plans.action_s", "s"),
    ("plans.eager_jobs", "count"),
    ("catalyst.analysis_s", "s"),
    ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.stages_skipped", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_read_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("spark.driver_only_s", "s"),
    ("python.run_s", "s"),
    ("python.worker_start_s", "s"),
    ("python.worker_init_s", "s"),
    ("python.sent_mb", "MB"),
    ("python.returned_mb", "MB"),
    ("cache.calls", "count"),
    ("cache.builds", "count"),
    ("cache.build_s", "s"),
    ("spark.cached_mb", "MB"),
    ("index_store.builds", "count"),
    ("index_store.build_s", "s"),
    ("index_store.from_disk", "count"),
]
# levels, not flows: reported as the largest value seen, never summed
LEVELS = {"spark.cached_mb"}

# SQL metric name of the pandas/Arrow nodes -> per-layer metric
PYTHON_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.worker_start_s",
    "time to initialize Python workers": "python.worker_init_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.returned_mb",
}
_DURATION_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_MB = {"B": 1 / MB, "KiB": 1 / 1024, "MiB": 1.0, "GiB": 1024.0, "TiB": 1024.0**2}


def sql_metric_value(text: str) -> float:
    """Seconds or MB from a SQL metric as the status store formats it:
    ``"1.9 s"`` for one task, or a ``total (min, med, max ...)`` header
    line followed by ``"1.9 s (0.1 s, ...)"``."""
    head = text.strip().split("\n")[-1].split(" (")[0].strip()
    number, unit = head.rsplit(" ", 1)
    scale = _DURATION_S.get(unit, _SIZE_MB.get(unit))
    if scale is None:
        raise ValueError(f"unknown SQL metric unit in {text!r}")
    return float(number.replace(",", "")) * scale


def _covered_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class NullTracer:
    """Tracing off: every hook is free."""

    enabled = False

    @contextmanager
    def call(self, phase: str, name: str):
        yield {}

    def add(self, metric: str, value: float) -> None:
        pass

    def jobs_so_far(self) -> int:
        return 0

    def catalyst(self, df) -> None:
        pass

    def end_pass(self, phase: str) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, spark, warehouse: str):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        scala = jvm.com.fasterxml.jackson.module.scala
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(
            getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$")
        )
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self.warehouse = warehouse
        self.calls: list[dict] = []
        self.levels: dict[str, dict[str, float]] = {}
        self._span: dict | None = None
        self._job0 = -1
        self._cache_depth = 0

    # -- status store access ------------------------------------------------
    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def _jobs(self) -> list[dict]:
        self._bus.waitUntilEmpty()
        return self._json(self._store.jobsList(None))

    def _last_job(self) -> int:
        return max((j["jobId"] for j in self._jobs()), default=-1)

    def _last_execution(self) -> int:
        return max(
            (e["executionId"] for e in self._json(self._sql.executionsList())),
            default=-1,
        )

    def _layout_dirs(self) -> set[str]:
        if not os.path.isdir(self.warehouse):
            return set()
        return {d for d in os.listdir(self.warehouse) if d.startswith("scan_parallel_")}

    # -- spans --------------------------------------------------------------
    @contextmanager
    def call(self, phase: str, name: str):
        self._job0, exec0 = self._last_job(), self._last_execution()
        layout0 = self._layout_dirs()
        span = {"pass": phase, "call": name, "job_group": f"{phase}/{name}", "m": {}}
        self.sc.setJobGroup(span["job_group"], name, False)
        self._span = span
        t0 = time.time()
        try:
            yield span
        finally:
            t1 = time.time()
            self.sc._jsc.clearJobGroup()
            self._span = None
            span["wall_s"] = t1 - t0
            self._book(span, exec0, t0, t1, layout0)
            self.calls.append(span)

    def add(self, metric: str, value: float) -> None:
        if self._span is not None:
            m = self._span["m"]
            m[metric] = m.get(metric, 0) + value

    def jobs_so_far(self) -> int:
        """Jobs started since the current call began."""
        return self._last_job() - self._job0

    def catalyst(self, df) -> None:
        phases = self._json(df._jdf.queryExecution().tracker().phases())
        for phase in ("analysis", "optimization", "planning"):
            if phase in phases:
                p = phases[phase]
                self.add(f"catalyst.{phase}_s", (p["endTimeMs"] - p["startTimeMs"]) / 1e3)

    def end_pass(self, phase: str) -> None:
        rdds = self._json(self._store.rddList(True))
        cached = sum(r["memoryUsed"] + r["diskUsed"] for r in rdds) / MB
        self.levels.setdefault(phase, {})["spark.cached_mb"] = cached

    def _book(self, span: dict, exec0: int, t0: float, t1: float, layout0: set) -> None:
        m = span["m"]
        jobs = [j for j in self._jobs() if j["jobId"] > self._job0]
        span["job_groups"] = sorted({j.get("jobGroup") or "" for j in jobs})
        span["jobs"] = [
            {"job": j["jobId"], "name": j["name"], "stages": len(j["stageIds"]),
             "s": ((j.get("completionTime") or 0) - j["submissionTime"]) / 1e3}
            for j in jobs
        ]
        ids = {s for j in jobs for s in j["stageIds"]}
        lo, hi = int(t0 * 1000), int(t1 * 1000) + 1
        stages = [
            s
            for s in self._json(
                self._store.stageList(None, False, False, self._no_quantiles, None)
            )
            if s["stageId"] in ids
            and s["status"] == "COMPLETE"
            and (s.get("submissionTime") or 0) >= lo
        ]
        ran = {s["stageId"] for s in stages}
        m.update({
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.stages_skipped": len(ids - ran),
            "spark.tasks": sum(s["numCompleteTasks"] for s in stages),
            "spark.executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / MB,
            "spark.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / MB,
            "spark.spill_mb": sum(s["diskBytesSpilled"] for s in stages) / MB,
            "sources.input_mb": sum(s["inputBytes"] for s in stages) / MB,
            "sources.output_mb": sum(s["outputBytes"] for s in stages) / MB,
            "sources.layout_copies": len(self._layout_dirs() - layout0),
        })
        busy = [
            (s["submissionTime"], s["completionTime"])
            for s in stages
            if s.get("completionTime")
        ]
        m["spark.driver_only_s"] = (hi - lo - _covered_ms(busy, lo, hi)) / 1e3
        if span.get("streaming") and jobs:
            # stream start: from the call until its first micro-batch job
            m["streaming.start_s"] = min(j["submissionTime"] for j in jobs) / 1e3 - t0
        for e in self._json(self._sql.executionsList()):
            if e["executionId"] <= exec0:
                continue
            values = e.get("metricValues") or {}
            for metric in e.get("metrics") or []:
                key = PYTHON_METRICS.get(metric["name"])
                text = values.get(str(metric["accumulatorId"]))
                if key and text:
                    m[key] = m.get(key, 0.0) + sql_metric_value(text)

    # -- wrappers around the program's cache and index layers ---------------
    def wrap_cache_layers(self, cache_mod, index_mod, modules) -> None:
        """Route every reference to ``session_materialized`` and
        ``persisted_index`` in ``modules`` through counting wrappers."""
        orig_cache = cache_mod.session_materialized
        orig_index = index_mod.persisted_index
        tracer = self

        def session_materialized(spark, key, build):
            built = []

            def counted_build():
                built.append(True)
                return build()

            tracer.add("cache.calls", 1)
            tracer._cache_depth += 1
            t0 = time.perf_counter()
            try:
                return orig_cache(spark, key, counted_build)
            finally:
                tracer._cache_depth -= 1
                if built:
                    tracer.add("cache.builds", 1)
                    if tracer._cache_depth == 0:
                        tracer.add("cache.build_s", time.perf_counter() - t0)

        def persisted_index(spark, logical, sf_dir, fingerprint, version, build, **kw):
            built = []

            def counted_build():
                built.append(True)
                return build()

            from_disk0 = len(index_mod.PERSISTED_FROM_DISK)
            t0 = time.perf_counter()
            try:
                return orig_index(
                    spark, logical, sf_dir, fingerprint, version, counted_build, **kw
                )
            finally:
                if built:
                    tracer.add("index_store.builds", 1)
                    tracer.add("index_store.build_s", time.perf_counter() - t0)
                tracer.add(
                    "index_store.from_disk",
                    len(index_mod.PERSISTED_FROM_DISK) - from_disk0,
                )

        for mod in modules:
            for attr, val in list(vars(mod).items()):
                if val is orig_cache:
                    setattr(mod, attr, session_materialized)
                elif val is orig_index:
                    setattr(mod, attr, persisted_index)

    # -- report -------------------------------------------------------------
    def totals(self, start_s: float) -> tuple[dict, dict]:
        """(whole-run totals, per-pass totals) of every per-layer metric."""
        per_pass: dict[str, dict[str, float]] = {}
        for span in self.calls:
            acc = per_pass.setdefault(span["pass"], {})
            for k, v in span["m"].items():
                acc[k] = acc.get(k, 0) + v
        for phase, levels in self.levels.items():
            per_pass.setdefault(phase, {}).update(levels)
        total = {name: 0.0 for name, _ in PER_LAYER}
        for acc in per_pass.values():
            for k, v in acc.items():
                total[k] = max(total[k], v) if k in LEVELS else total[k] + v
        total["session.start_s"] = start_s
        return total, per_pass
