"""Layer spans and Spark counters, recorded from outside the engine.

``LayerTimer`` replaces the engine's public layer functions with timing
wrappers (the engine's own code is not edited): every module attribute
bound to one of the functions in ``LAYER_FUNCTIONS`` is rebound, so
calls through ``from .io import read_table`` aliases are timed too.
Times are inclusive: ``io.read_table`` calls made while a query builds
are part of that query's build time as well.

``Tracer`` brackets each benchmark step in its own Spark job group and,
after the step, reads what Spark counted for it: jobs and stages from
the status tracker, task metrics from the status store, Python-worker
SQL metrics of the step's executions, the Catalyst phase times of the
built frame, and the codegen compile histogram. Everything it spends
doing so is added to ``trace.overhead_s``.

``NullTracer`` has the same methods and does nothing: untraced runs use
it, so both runs execute the same benchmark code path.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import re
import sys
import time
from collections import defaultdict

PACKAGE = "gcpdatapipelines_spark"

# (module, function) -> layer name used in the metric names
LAYER_FUNCTIONS = {
    ("session", "get_spark"): "session.get_spark",
    ("session", "ensure_engine_confs"): "session.ensure_engine_confs",
    ("io", "read_table"): "io.read_table",
    ("io", "read_csv_with_rejects"): "io.read_csv_with_rejects",
    ("io", "write_fanout"): "io.write_fanout",
    ("serving", "point_query"): "serving.point_query",
}


class LayerTimer:
    """Inclusive wall time and call counts of the engine's layer functions."""

    def __init__(self) -> None:
        self.seconds: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)

    def install(self) -> None:
        for (mod_name, fn_name), layer in LAYER_FUNCTIONS.items():
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            original = getattr(mod, fn_name)
            wrapper = self._wrap(layer, original)
            for name, module in list(sys.modules.items()):
                if module is None or not name.startswith(PACKAGE):
                    continue
                for attr, value in list(vars(module).items()):
                    if value is original:
                        setattr(module, attr, wrapper)

    def _wrap(self, layer, fn):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.seconds[layer] += time.perf_counter() - t0
                self.calls[layer] += 1

        return timed


_TIME_UNITS = {"ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
# SQL metric display name (PythonSQLMetrics) -> (metric suffix, unit table)
_PY_METRICS = {
    "time to run Python workers": ("python_total_ms", _TIME_UNITS),
    "data sent to Python workers": ("python_data_sent_bytes", _SIZE_UNITS),
}
_TOTAL_RE = re.compile(r"([0-9][0-9.,]*)\s*([A-Za-z]+)")


def parse_metric_total(text: str, units: dict[str, float]) -> float:
    """The total of a formatted SQL metric value: the first amount in it,
    e.g. ``'total (min, med, max ...)\\n1.2 s (0 ms, ...)'`` -> 1200.0
    with the time table, or ``'3.5 KiB'`` -> 3584.0 with the size table."""
    body = text.split("\n", 1)[-1]
    m = _TOTAL_RE.search(body)
    if not m or m.group(2) not in units:
        return 0.0
    return float(m.group(1).replace(",", "")) * units[m.group(2)]


def cached_mb(spark) -> float:
    """Storage held by persisted RDDs and frames (memory and disk), MB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def live_heap_mb(spark) -> float:
    """Engine JVM heap still in use after a full collection, MB: what the
    run's caches, broadcasts and plans retain. In local mode that JVM
    holds every executor too."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 1e6


class NullTracer:
    """Tracing off: every hook is free."""

    enabled = False

    def step(self, time_key: str, count_prefix: str, family_key: str = ""):
        return contextlib.nullcontext()

    def catalyst(self, df) -> None:
        pass

    def begin_pass(self) -> None:
        pass

    def end_pass(self, cold: bool) -> None:
        pass


class Tracer(NullTracer):
    """Per-pass layer metrics for one run."""

    enabled = True

    def __init__(self, timer: LayerTimer) -> None:
        self.timer = timer
        self.overhead_s = 0.0
        self.cold: dict[str, float] = defaultdict(float)
        self.warm: list[dict[str, float]] = []
        self._pass: dict[str, float] = defaultdict(float)
        self._serial = 0

    def attach(self, spark) -> None:
        t0 = time.perf_counter()
        self.sc = spark.sparkContext
        jsc = self.sc._jsc
        jvm = self.sc._jvm
        self.status = jsc.statusTracker()
        self.listener_bus = jsc.sc().listenerBus()
        self.app_store = jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.compile_hist = (
            jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        )
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self.overhead_s += time.perf_counter() - t0

    # -- passes ---------------------------------------------------------

    def begin_pass(self) -> None:
        t0 = time.perf_counter()
        self._pass = defaultdict(float)
        self._start_layers = (dict(self.timer.seconds), dict(self.timer.calls))
        self._start_compiles = self._compiles()
        self._pass_t0 = time.perf_counter()
        self.overhead_s += self._pass_t0 - t0
        self._pass_overhead0 = self.overhead_s

    def end_pass(self, cold: bool) -> None:
        t0 = time.perf_counter()
        wall = t0 - self._pass_t0 - (self.overhead_s - self._pass_overhead0)
        p = self._pass
        secs0, calls0 = self._start_layers
        for layer, s in self.timer.seconds.items():
            p[f"{layer}_s"] += s - secs0.get(layer, 0.0)
        for layer, n in self.timer.calls.items():
            p[f"{layer}_calls"] += n - calls0.get(layer, 0)
        n0, ms0 = self._start_compiles
        n1, ms1 = self._compiles()
        p["codegen.compiles"] += n1 - n0
        p["codegen.compile_ms"] += ms1 - ms0
        p["pass_wall_s"] = wall
        if cold:
            self.cold = p
        else:
            self.warm.append(p)
        self.overhead_s += time.perf_counter() - t0

    # -- steps ----------------------------------------------------------

    @contextlib.contextmanager
    def step(self, time_key: str, count_prefix: str, family_key: str = ""):
        """One benchmark step in its own job group: its wall time is
        added to ``time_key`` (and ``family_key``), the Spark work it
        started to ``<count_prefix>jobs``, ``stages`` and so on."""
        t0 = time.perf_counter()
        self._serial += 1
        group = f"enginebench-{self._serial}"
        self.sc.setJobGroup(group, time_key)
        first_exec = int(self.sql_store.executionsCount())
        t1 = time.perf_counter()
        self.overhead_s += t1 - t0
        try:
            yield
        finally:
            t2 = time.perf_counter()
            self._pass[time_key] += t2 - t1
            if family_key:
                self._pass[family_key] += t2 - t1
            self.listener_bus.waitUntilEmpty()
            for key, value in self._job_counts(group).items():
                self._pass[count_prefix + key] += value
            for key, value in self._python_metrics(first_exec).items():
                self._pass[count_prefix + key] += value
            self.overhead_s += time.perf_counter() - t2

    def catalyst(self, df) -> None:
        """Force the built frame's physical plan and record its Catalyst
        phases (analysis ran when the frame was built). The forcing is
        counted as trace overhead: the untraced run plans inside exec."""
        t0 = time.perf_counter()
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            summary = phases.get(phase)
            if summary.isDefined():
                self._pass[f"catalyst.{phase}_ms"] += summary.get().durationMs()
        self.overhead_s += time.perf_counter() - t0

    # -- Spark readers --------------------------------------------------

    def _job_counts(self, group: str) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for job_id in self.status.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = self.status.getJobInfo(job_id)
            if info is None:
                continue
            for stage_id in info.stageIds():
                out["stages"] += 1
                for sd in self._stage_attempts(stage_id):
                    out["tasks"] += sd.numTasks()
                    out["gc_ms"] += sd.jvmGcTime()
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def _stage_attempts(self, stage_id: int) -> list:
        try:
            seq = self.app_store.stageData(
                stage_id, False, self._no_status, False, self._no_quantiles
            )
        except Exception:  # a skipped stage has no attempt in the store
            return []
        return [seq.apply(i) for i in range(seq.size())]

    def _python_metrics(self, first_exec: int) -> dict[str, float]:
        """Python-worker SQL metrics of the executions the step started."""
        out: dict[str, float] = defaultdict(float)
        total = int(self.sql_store.executionsCount())
        if total <= first_exec:
            return out
        execs = self.sql_store.executionsList(first_exec, total - first_exec)
        for i in range(execs.size()):
            ui = execs.apply(i)
            names = {}
            nodes = self.sql_store.planGraph(ui.executionId()).allNodes()
            for n in range(nodes.size()):
                metrics = nodes.apply(n).metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    if m.name() in _PY_METRICS:
                        names[m.accumulatorId()] = _PY_METRICS[m.name()]
            if not names:
                continue
            values = self.sql_store.executionMetrics(ui.executionId())
            for acc_id, (suffix, units) in names.items():
                text = values.get(acc_id)
                if text.isDefined():
                    out[suffix] += parse_metric_total(text.get(), units)
        return out

    def _compiles(self) -> tuple[int, float]:
        """(classes compiled so far, their compile ms) from Spark's
        process-wide codegen histogram. Its reservoir keeps every sample
        up to 1028 compiles, so the sum is exact below that and a
        mean-based estimate above it."""
        count = int(self.compile_hist.getCount())
        snap = self.compile_hist.getSnapshot()
        values = list(snap.getValues())
        total = float(sum(values)) if len(values) == count else count * snap.getMean()
        return count, total
