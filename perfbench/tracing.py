"""Spans around the engine's public calls, and Spark's own counters per op.

Spans are recorded from the benchmark's files only: while a ``Tracer`` is
installed, the package's public functions are replaced by timing wrappers,
and the original objects are put back on ``uninstall``. Each span records its
name, start, end, the op it belongs to and the span that caused it. Spans
stay in memory until the run writes them out once at the end.

``SparkProbe`` reads, around one operation run under its own job group:

- the ``QueryPlanningTracker`` phases of the operation's final plans;
- the ``CodegenMetrics`` compile count, compile time and source size;
- job, stage and task counts and executor task metrics for the job group,
  from ``statusTracker`` and the application status store;
- the JVM's garbage-collector time;
- the physical-plan text size of every SQL execution the operation started.
"""

from __future__ import annotations

import functools
import importlib
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    op: str
    parent: int | None
    start: float
    end: float = 0.0
    #: work counted at this boundary, e.g. bytes uploaded or rows returned
    counts: dict = field(default_factory=dict)


#: (module, attribute, span name) of the public functions wrapped in every
#: package module that binds them by name.
FUNCTION_TARGETS = (
    ("sql4pandas_spark.sources.parquet", "register_tables", "sources.register_tables"),
    ("sql4pandas_spark.functions.transpile", "to_spark_sql", "transpile.to_spark_sql"),
)


def _registered_bytes(args, result) -> dict:
    data = args[2]  # Engine.register(self, name, data)
    if hasattr(data, "memory_usage"):
        return {"engine.register_bytes": int(data.memory_usage(deep=True).sum())}
    return {}


def _method_targets() -> list[tuple[type, str, str, object]]:
    """(class, method, span name, counter) of the traced methods; the counter
    maps (call args, result) to counts and runs after the span has closed."""
    from pyspark.sql.classic.dataframe import DataFrame

    from sql4pandas_spark.engine import Engine, Result

    return [
        (Engine, "register", "engine.register", _registered_bytes),
        (Engine, "sql", "engine.sql", None),
        (Result, "to_pandas", "engine.to_pandas",
         lambda args, result: {"engine.result_rows": len(result)}),
        (DataFrame, "collect", "dataframe.collect", None),
    ]


class Tracer:
    """In-memory span recorder for one single-threaded run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op = ""
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        """Record one span; ``op`` starts a new operation (a root span)."""
        if op is not None:
            self._op = op
        sp = Span(
            id=len(self.spans),
            name=name,
            op=self._op,
            parent=self._stack[-1] if self._stack else None,
            start=time.perf_counter(),
        )
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def _wrap(self, fn, name: str, counter=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                result = fn(*args, **kwargs)
            if counter is not None:
                sp.counts.update(counter(args, result))
            return result

        return traced

    def install(self) -> None:
        """Replace the traced public functions and methods with wrappers."""
        for mod_name, attr, name in FUNCTION_TARGETS:
            original = getattr(importlib.import_module(mod_name), attr)
            wrapper = self._wrap(original, name)
            for mod_key, mod in list(sys.modules.items()):
                if mod_key.startswith("sql4pandas_spark") and (
                    getattr(mod, attr, None) is original
                ):
                    self._patched.append((mod, attr, original))
                    setattr(mod, attr, wrapper)
        for cls, attr, name, counter in _method_targets():
            original = cls.__dict__[attr]
            self._patched.append((cls, attr, original))
            setattr(cls, attr, self._wrap(original, name, counter))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def to_json(self) -> list[dict]:
        return [sp.__dict__ for sp in self.spans]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover.

    Children of one span run one after another (a single client thread), so
    their durations do not overlap and simply add up.
    """
    child_time: dict[int, float] = {}
    for sp in spans:
        if sp.parent is not None:
            child_time[sp.parent] = child_time.get(sp.parent, 0.0) + sp.end - sp.start
    return {sp.id: sp.end - sp.start - child_time.get(sp.id, 0.0) for sp in spans}


#: ExponentiallyDecayingReservoir keeps every sample until it holds this many;
#: past that, sums from the reservoir are estimates.
_RESERVOIR_SIZE = 1028


class SparkProbe:
    """Reads Spark's counters around one operation."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._jvm = jvm
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._gc_beans = list(
            jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        self._next_exec = 0
        self.codegen_exact = True

    def _max_execution_id(self) -> int:
        self._jsc.listenerBus().waitUntilEmpty()
        n = self._sql_store.executionsCount()
        if n == 0:
            return -1
        return self._sql_store.executionsList(n - 1, 1).head().executionId()

    def _histogram_sum(self, hist) -> tuple[int, float]:
        """(count, sum of recorded values) of a codahale histogram."""
        count = hist.getCount()
        snap = hist.getSnapshot()
        if count > _RESERVOIR_SIZE:
            self.codegen_exact = False
            return count, snap.getMean() * count
        text = self._jvm.java.util.Arrays.toString(snap.getValues())
        return count, float(sum(int(v) for v in text.strip("[]").split(",") if v))

    def codegen(self) -> tuple[int, float, float]:
        """(compiles, compile ms, source bytes) since the JVM started."""
        n, ms = self._histogram_sum(self._codegen.METRIC_COMPILATION_TIME())
        _, src = self._histogram_sum(self._codegen.METRIC_SOURCE_CODE_SIZE())
        return n, ms, src

    def gc_ms(self) -> int:
        """Collection time of every JVM garbage collector so far. In local
        mode the executors share the application's one JVM, and task-level
        GC time misses the collections that happen between tasks, during
        planning and codegen."""
        return sum(b.getCollectionTime() for b in self._gc_beans)

    def begin(self, group: str) -> tuple[int, float, float, int]:
        # executions started outside a traced op (untraced passes) are skipped
        self._next_exec = self._max_execution_id() + 1
        self.sc.setJobGroup(group, group)
        return (*self.codegen(), self.gc_ms())

    def end(self, group: str, before: tuple[int, float, float, int], frames) -> dict:
        """Counters of the operation run under ``group`` since ``begin``.

        ``frames`` are the operation's final DataFrames, whose planning
        trackers give the Catalyst phase times.
        """
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        self._jsc.listenerBus().waitUntilEmpty()
        n1, ms1, src1 = self.codegen()
        out = {
            "executor.gc_s": (self.gc_ms() - before[3]) / 1e3,
            "codegen.compiles": n1 - before[0],
            "codegen.compile_s": (ms1 - before[1]) / 1e3,
            "codegen.source_bytes": src1 - before[2],
            "catalyst.analysis_s": 0.0,
            "catalyst.optimization_s": 0.0,
            "catalyst.planning_s": 0.0,
        }
        for df in frames:
            phases = df._jdf.queryExecution().tracker().phases()
            for phase in ("analysis", "optimization", "planning"):
                summary = phases.get(phase)
                if summary.isDefined():
                    out[f"catalyst.{phase}_s"] += summary.get().durationMs() / 1e3
        out["catalyst.plan_bytes"] = self._plan_bytes()
        out.update(self._stages(group))
        return out

    def _plan_bytes(self) -> int:
        """Physical-plan text size of the SQL executions started since
        ``begin``; execution ids are consecutive, so probing stops at the
        first id not found past a small gap."""
        total, misses, eid = 0, 0, self._next_exec
        while misses < 3:
            found = self._sql_store.execution(eid)
            if found.isDefined():
                total += len(found.get().physicalPlanDescription())
                misses = 0
            else:
                misses += 1
            eid += 1
        return total

    def _stages(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stats = dict.fromkeys(
            (
                "scheduler.stages",
                "scheduler.tasks",
                "scheduler.tasks_failed",
                "executor.run_s",
                "executor.cpu_s",
                "executor.input_bytes",
                "executor.shuffle_read_bytes",
                "executor.shuffle_write_bytes",
                "executor.spill_bytes",
            ),
            0,
        )
        stats["scheduler.jobs"] = len(jobs)
        stage_ids = set()
        for job in jobs:
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        empty = self._jvm.java.util.ArrayList()
        for stage in stage_ids:
            attempts = self._store.stageData(stage, False, empty, False, self._no_quantiles)
            it = attempts.iterator()
            while it.hasNext():
                d = it.next()
                if d.status().toString() == "SKIPPED":
                    continue
                stats["scheduler.stages"] += 1
                stats["scheduler.tasks"] += d.numCompleteTasks() + d.numFailedTasks()
                stats["scheduler.tasks_failed"] += d.numFailedTasks()
                stats["executor.run_s"] += d.executorRunTime() / 1e3
                stats["executor.cpu_s"] += d.executorCpuTime() / 1e9
                stats["executor.input_bytes"] += d.inputBytes()
                stats["executor.shuffle_read_bytes"] += d.shuffleReadBytes()
                stats["executor.shuffle_write_bytes"] += d.shuffleWriteBytes()
                stats["executor.spill_bytes"] += d.diskBytesSpilled()
        return stats
