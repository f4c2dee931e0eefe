#!/usr/bin/env python3
"""Engine benchmark: set-up, cold and warm operation latency per workload.

Run from the repository root:

    python3 perfbench/run.py --workload catalog_sf0.01 --seed 1 --seconds 16 --trace 0

One process, one client thread, closed loop: each operation is issued when
the previous one returns, against the package's ``local[$SPARK_GRAFT_CPUS]``
session (default: the number of usable cores). A run has three parts:

1. set-up: package import, ``get_spark``, ``load_catalog`` and fixture
   registration (``setup_s``);
2. one cold pass, in which every operation runs for the first time in the
   fresh JVM (``cold_pass_s``);
3. warm passes over the same operations, ``--seconds`` worth at the
   workload's nominal pass time and at least ``MIN_WARM_SAMPLES`` operations
   (``warm_pass_s``, ``op_p50_s``, ``op_tail_s``).

Every timed result is checked against DuckDB; the check, the DuckDB work and
the host control run outside the timed regions. ``--trace 0`` prints the
end-to-end metrics. ``--trace 1`` wraps the package's public calls in spans,
reads Spark's own counters around each operation, and prints the per-layer
metrics; its odd warm passes are traced and its even ones are not, and the
passes from 2 on give the tracing overhead. The last line of standard
output is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
Scratch files go to perfbench/.run inside the checkout.
"""

from __future__ import annotations

import time

_PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from dataclasses import dataclass  # noqa: E402
from pathlib import Path  # noqa: E402

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
RUN_DIR = BENCH_DIR / ".run"
FIXTURES = BENCH_DIR / "fixtures"

sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(BENCH_DIR))

from checks import (  # noqa: E402
    OracleCache,
    cpu_ticks,
    duckdb_connection,
    duckdb_control_s,
    duckdb_result,
    fingerprint,
    fixture_digests,
    load_canon_hash,
)
from tracing import SparkProbe, Tracer, self_times  # noqa: E402
from workloads import (  # noqa: E402
    ALL_TABLES,
    WORKLOADS,
    CatalogOp,
    UploadOp,
    operations,
    pass_orders,
)

#: an operation still running after this long has its Spark jobs cancelled
#: and counts as failed
OP_TIMEOUT_S = 90.0
#: no warm pass starts after this much process time, so a run on a slow host
#: still ends well inside 180 s
RUN_BUDGET_S = 140.0
#: on a host much slower than the reference, warm passes stop once the warm
#: phase has run this many times ``--seconds``
WARM_CAP = 2.0
#: op_tail_s is the highest percentile with at least this many samples beyond
TAIL_BEYOND = 10
#: warm passes never hold fewer operations than this, whatever ``--seconds``
#: is, so that op_tail_s is p71 or higher and stays well apart from op_p50_s
MIN_WARM_SAMPLES = 35

#: span name -> per-layer metric (self time, seconds)
SPAN_LAYERS = {
    "queries.build": "queries.build_s",
    "dataframe.collect": "dataframe.collect_s",
    "sources.register_tables": "sources.register_tables_s",
    "engine.register": "engine.register_s",
    "engine.sql": "engine.sql_s",
    "engine.to_pandas": "engine.to_pandas_s",
    "transpile.to_spark_sql": "transpile.to_spark_sql_s",
}
#: per-operation Spark counters and span counts, summed per pass
PASS_COUNTERS = (
    "engine.register_bytes",
    "engine.result_rows",
    "catalyst.analysis_s",
    "catalyst.optimization_s",
    "catalyst.planning_s",
    "catalyst.plan_bytes",
    "codegen.compiles",
    "codegen.compile_s",
    "codegen.source_bytes",
    "scheduler.jobs",
    "scheduler.stages",
    "scheduler.tasks",
    "scheduler.tasks_failed",
    "executor.run_s",
    "executor.cpu_s",
    "executor.gc_s",
    "executor.input_bytes",
    "executor.shuffle_read_bytes",
    "executor.shuffle_write_bytes",
    "executor.spill_bytes",
)


def unit_of(metric: str) -> str:
    base = metric.removesuffix(".cold").removesuffix(".warm")
    if base.endswith("_frac"):
        return "frac"
    if base.endswith("_bytes"):
        return "bytes"
    if base.endswith("_s"):
        return "s"
    return "count"


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment(tmp: Path) -> None:
    """Send every scratch write of Spark, the JVM, Python and DuckDB to
    ``tmp``, inside the checkout."""
    for sub in ("local", "java", "python", "warehouse", "duckdb"):
        (tmp / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "local")
    os.environ["TMPDIR"] = str(tmp / "python")
    tempfile.tempdir = None
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(usable_cores()))
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={tmp / 'java'}"),
            "--conf",
            shlex.quote(f"spark.sql.warehouse.dir={tmp / 'warehouse'}"),
            "pyspark-shell",
        ]
    )


@dataclass
class Setup:
    spark: object
    catalog: dict
    engine: object
    setup_s: float
    #: set-up layer metric -> seconds
    layers: dict[str, float]


def set_up(workload, sf_dir: Path, tracer, started: float) -> Setup:
    """Fresh process to ready: the package's session, catalog and fixtures.
    Its three calls are always recorded as spans under a ``setup`` root."""
    with tracer.span("setup", op="setup"):
        from sql4pandas_spark.engine import Engine
        from sql4pandas_spark.queries import load_catalog
        from sql4pandas_spark.session import get_spark
        from sql4pandas_spark.sources.parquet import register_tables

        with tracer.span("session.get_spark") as get_spark_span:
            spark = get_spark(app_name=f"perfbench-{workload.name}")
            spark.sparkContext.setLogLevel("ERROR")
        with tracer.span("queries.load_catalog") as catalog_span:
            catalog = load_catalog()
        with tracer.span("sources.register_tables") as register_span:
            register_tables(spark, str(sf_dir), workload.tables)
        engine = Engine(spark)
    layers = {
        f"{sp.name}_s": sp.end - sp.start
        for sp in (get_spark_span, catalog_span, register_span)
    }
    return Setup(spark, catalog, engine, time.perf_counter() - started, layers)


def expected_results(ops, catalog, sf_dir: Path, tmp: Path, canon_hash):
    """Per op, the DuckDB result of each timed output, plus the host control
    time. Catalog oracles are cached on disk; frame oracles are cheap. An
    upload has no output; the statements over its frame check it."""
    con = duckdb_connection(sf_dir, ALL_TABLES, usable_cores(), tmp / "duckdb")
    try:
        cache = OracleCache(RUN_DIR / "oracle-cache.json", fixture_digests(sf_dir))
        expected = {}
        for op in ops:
            if isinstance(op, CatalogOp):
                expected[op.name] = [cache.get(con, catalog[op.name].oracle, canon_hash)]
            elif isinstance(op, UploadOp):
                expected[op.name] = []
            else:
                con.register("t", op.frame)
                expected[op.name] = [duckdb_result(con, op.statement, canon_hash)]
                con.unregister("t")
        cache.save()
        control = duckdb_control_s(con)
    finally:
        con.close()
    return expected, control


@dataclass
class OpResult:
    name: str
    pass_idx: int
    wall: float
    error: str | None


class Runner:
    """Runs, times and checks operations; traces them on request."""

    def __init__(self, setup: Setup, sf_dir: Path, expected, canon_hash, tracer) -> None:
        self.setup = setup
        self.sf_dir = str(sf_dir)
        self.expected = expected
        self.canon_hash = canon_hash
        self.tracer = tracer
        self.probe = None
        self._listener_bus = setup.spark.sparkContext._jsc.sc().listenerBus()
        #: (op name, output index) -> the last pandas output that matched
        self._verified: dict[tuple[str, int], object] = {}

    def _span(self, name: str, traced: bool, op: str | None = None):
        return self.tracer.span(name, op=op) if traced else nullcontext()

    def _execute(self, op, traced: bool) -> list[tuple[object, object]]:
        """The timed work: (final DataFrame, fetched output) per result."""
        s = self.setup
        if isinstance(op, CatalogOp):
            with self._span("queries.build", traced):
                df = s.catalog[op.name].build(s.spark, self.sf_dir)
            return [(df, df.collect())]
        if isinstance(op, UploadOp):
            s.engine.register("t", op.frame)
            return []
        result = s.engine.sql(op.statement, dialect="duckdb")
        return [(result.df, result.to_pandas())]

    def _summary(self, df, data):
        if isinstance(data, list):
            cols = df.columns
            rows = [tuple(r) for r in data]
        else:
            cols = list(data.columns)
            rows = list(zip(*(data[c].tolist() for c in cols)))
        return len(rows), sorted(cols), self.canon_hash(rows, cols)

    def _check(self, op, outputs) -> str | None:
        """Compare every output with DuckDB's result; None if all match.

        A pandas output equal, column for column and value for value, to
        one that already matched for the same op has the same summary, so
        it is not hashed again."""
        want = [tuple(e) for e in self.expected[op.name]]
        if any(n == 0 for n, _, _ in want):
            return "vacuous: the oracle returns no rows"
        got = []
        for i, (df, data) in enumerate(outputs):
            seen = self._verified.get((op.name, i))
            if (
                seen is not None
                and list(data.columns) == list(seen.columns)
                and data.dtypes.equals(seen.dtypes)
                and data.equals(seen)
            ):
                got.append(want[i])
            else:
                got.append(tuple(self._summary(df, data)))
        if got != want:
            return f"mismatch: got {got}, expected {want}"
        for i, (_, data) in enumerate(outputs):
            if not isinstance(data, list):
                self._verified[(op.name, i)] = data
        return None

    def run_op(self, op, pass_idx: int, slot: int, traced: bool) -> OpResult:
        op_id = f"p{pass_idx}.{slot}.{op.name}"
        # every op, traced or not, starts with Spark's listener bus drained
        self._listener_bus.waitUntilEmpty()
        if traced and self.probe is None:
            self.probe = SparkProbe(self.setup.spark)
        before = self.probe.begin(op_id) if traced else None
        sc = self.setup.spark.sparkContext
        watchdog = threading.Timer(OP_TIMEOUT_S, sc.cancelAllJobs)
        watchdog.daemon = True
        watchdog.start()
        error, outputs, root = None, [], None
        t0 = time.perf_counter()
        try:
            with self._span("op", traced, op=op_id) as root:
                outputs = self._execute(op, traced)
        except Exception as exc:  # an operation failure is a measured outcome
            error = f"{type(exc).__name__}: {str(exc)[:300]}"
        finally:
            wall = time.perf_counter() - t0
            watchdog.cancel()
        if wall > OP_TIMEOUT_S:
            error = f"timeout after {wall:.1f}s" + (f": {error}" if error else "")
        if error is None:
            error = self._check(op, outputs)
        if traced:
            root.counts.update(self.probe.end(op_id, before, [df for df, _ in outputs]))
        return OpResult(op.name, pass_idx, wall, error)


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, sample count) of the highest percentile that still
    has ``TAIL_BEYOND`` samples above it; the maximum if there are too few."""
    ordered = sorted(samples)
    n = len(ordered)
    if n <= TAIL_BEYOND:
        return ordered[-1], 100.0, n
    return ordered[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n, n


def peak_rss_mb(jvm_pid: int) -> float:
    """High-water RSS of this process plus the JVM, in MiB."""
    py_kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kib = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kib = int(line.split()[1])
    return (py_kib + jvm_kib) / 1024


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shut_down(spark) -> None:
    """Stop the session, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    sc = spark.sparkContext
    gateway = sc._gateway
    proc = gateway.proc
    workers = _descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    # a later session in this process must launch its own JVM
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the gateway JVM exits at end of its stdin
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 10
    for pid in workers:
        while _running(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _running(pid):
            os.kill(pid, signal.SIGKILL)


def _median_of_sums(results: list[OpResult], passes: list[int], key) -> float:
    per_pass = [sum(key(r) for r in results if r.pass_idx == p) for p in passes]
    return statistics.median(per_pass)


def end_to_end(setup_s: float, results: list[OpResult], warm: list[int]):
    """The end-to-end metrics, and the percentile and sample count behind
    ``op_tail_s``."""
    cold = [r for r in results if r.pass_idx == 0]
    warm_ops = [r.wall for r in results if r.pass_idx in warm]
    tail_s, tail_pct, n = tail(warm_ops)
    metrics = {
        "setup_s": setup_s,
        "cold_pass_s": sum(r.wall for r in cold),
        "warm_pass_s": _median_of_sums(results, warm, lambda r: r.wall),
        "op_p50_s": statistics.median(warm_ops),
        "op_tail_s": tail_s,
    }
    return (
        {k: {"value": v, "unit": "s"} for k, v in metrics.items()},
        {"percentile": tail_pct, "warm_samples": n},
    )


def traced_pass(p: int) -> bool:
    """In a traced run: the cold pass and the odd warm passes, so that
    traced and untraced warm passes interleave."""
    return p == 0 or p % 2 == 1


def per_layer(spans, setup: Setup, results, warm: list[int], control: float):
    """Per-layer metrics from the traced passes (cold: pass 0)."""
    warm_traced = [p for p in warm if traced_pass(p)]
    warm_plain = [p for p in warm if not traced_pass(p)]
    # the overhead pairs passes from 2 on: pass 1 still carries warm-up
    paired_traced = [p for p in warm_traced if p > 1]
    selfs = self_times(spans)
    by_op: dict[str, list] = {}
    for sp in spans:
        by_op.setdefault(sp.op, []).append(sp)
    slots = int(os.environ["SPARK_GRAFT_CPUS"])

    def pass_values(p: int) -> dict[str, float]:
        vals = dict.fromkeys(list(SPAN_LAYERS.values()) + list(PASS_COUNTERS), 0.0)
        wall = sum(r.wall for r in results if r.pass_idx == p)
        for op_id, op_spans in by_op.items():
            if not op_id.startswith(f"p{p}."):
                continue
            for sp in op_spans:
                if sp.name in SPAN_LAYERS:
                    vals[SPAN_LAYERS[sp.name]] += selfs[sp.id]
                for k, v in sp.counts.items():
                    vals[k] += v
        vals["scheduler.slot_busy_frac"] = vals["executor.run_s"] / (wall * slots)
        return vals

    metrics = dict(setup.layers)
    cold = pass_values(0)
    warm = [pass_values(p) for p in warm_traced]
    for k in cold:
        metrics[f"{k}.cold"] = cold[k]
        metrics[f"{k}.warm"] = statistics.median(w[k] for w in warm)
    metrics["host.duckdb_control_s"] = control

    roots = [sp for sp in spans if sp.name == "op"]
    covered = sum(
        sp.end - sp.start for sp in spans if sp.parent is not None and spans[sp.parent].name == "op"
    )
    metrics["trace.coverage_frac"] = covered / sum(sp.end - sp.start for sp in roots)
    traced_wall = _median_of_sums(results, paired_traced, lambda r: r.wall)
    plain_wall = _median_of_sums(results, warm_plain, lambda r: r.wall)
    metrics["trace.overhead_frac"] = traced_wall / plain_wall - 1.0
    return {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}


def run(workload_name: str, seed: int, seconds: int, trace: bool, sf: str | None = None,
        warm_passes: int | None = None, expected_override=None,
        started: float = _PROCESS_START) -> dict:
    """One benchmark run in this process; returns the full report.

    ``sf``, ``warm_passes``, ``expected_override`` and ``started`` exist for
    the self-test, which makes several runs in one process (smaller
    fixtures, fewer passes, a doctored oracle, set-up timed from the call)."""
    workload = WORKLOADS[workload_name]
    sf_dir = FIXTURES / (sf or workload.sf)
    tmp = RUN_DIR / f"tmp-{os.getpid()}"
    prepare_environment(tmp)
    tracer = Tracer()
    setup = None
    try:
        setup = set_up(workload, sf_dir, tracer, started)
        canon_hash = load_canon_hash(ROOT)
        ops = operations(workload, seed)
        expected, control = expected_results(ops, setup.catalog, sf_dir, tmp, canon_hash)
        if expected_override:
            expected.update(expected_override)
        if warm_passes is None:
            warm_passes = max(
                round(seconds / workload.nominal_pass_s),
                math.ceil(MIN_WARM_SAMPLES / len(ops)),
            )
        if trace:
            # warm pass 1 traced, then an untraced and a traced pass to pair
            warm_passes = max(warm_passes, 3)
        orders = pass_orders([op.group for op in ops], 1 + warm_passes, seed)
        runner = Runner(setup, sf_dir, expected, canon_hash, tracer)
        results: list[OpResult] = []
        steal: list[float] = []
        passes_run = 0
        warm_start = None
        for p, order in enumerate(orders):
            now = time.perf_counter()
            if p == 1:
                warm_start = now
            # keep the passes the metrics need: cold, warm (traced and plain)
            if p > (3 if trace else 1) and (
                now - started > RUN_BUDGET_S or now - warm_start > WARM_CAP * seconds
            ):
                break
            traced = trace and traced_pass(p)
            if traced:
                tracer.install()
            stolen0, total0 = cpu_ticks()
            try:
                for slot, i in enumerate(order):
                    results.append(runner.run_op(ops[i], p, slot, traced))
            finally:
                tracer.uninstall()
            stolen1, total1 = cpu_ticks()
            steal.append((stolen1 - stolen0) / max(1, total1 - total0))
            passes_run += 1
        warm = list(range(1, passes_run))
        e2e, op_tail = end_to_end(setup.setup_s, results, warm)
        report = {
            "workload": workload_name,
            "seed": seed,
            "trace": int(trace),
            "fixtures": sf_dir.name,
            "warm_passes": len(warm),
            "op_order": [[ops[i].name for i in order] for order in orders[:passes_run]],
            "attempted": len(results),
            "failed": sum(r.error is not None for r in results),
            "errors": {f"p{r.pass_idx}.{r.name}": r.error for r in results if r.error},
            "error_rate": sum(r.error is not None for r in results) / len(results),
            "end_to_end": e2e,
            "op_tail": op_tail,
            # peak RSS follows the JVM's heap sizing and spreads 0.12-0.35
            # (quartile distance over median) from run to run, so it is
            # reported here rather than as a bounded metric
            "peak_rss_mb": {
                "value": peak_rss_mb(setup.spark.sparkContext._gateway.proc.pid),
                "unit": "MiB",
            },
            "pass_s": [sum(r.wall for r in results if r.pass_idx == p) for p in range(passes_run)],
            # share of the machine's CPU time the hypervisor stole, per pass
            "steal_frac": steal,
            # per op, its wall in pass order: cold first, then warm
            "op_walls": {
                op.name: [r.wall for r in results if r.name == op.name] for op in ops
            },
            "host.duckdb_control_s": control,
            "fingerprint": fingerprint(ROOT, fixture_digests(sf_dir), usable_cores()),
        }
        if trace:
            report["per_layer"] = per_layer(tracer.spans, setup, results, warm, control)
            report["codegen_exact"] = runner.probe.codegen_exact
            report["spans"] = tracer.to_json()
        return report
    finally:
        if setup is not None:
            shut_down(setup.spark)
        shutil.rmtree(tmp, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", required=True, type=int)
    parser.add_argument("--seconds", required=True, type=int)
    parser.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = parser.parse_args(argv)
    if args.seconds < 1:
        parser.error("--seconds must be at least 1")
    report = run(args.workload, args.seed, args.seconds, bool(args.trace))

    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    spans = report.pop("spans", None)
    if spans is not None:
        (RUN_DIR / f"spans-{stem}.json").write_text(json.dumps(spans))
    (RUN_DIR / f"report-{stem}.json").write_text(json.dumps(report, indent=1))
    print_result(report, bool(args.trace))
    return 0


def print_result(report: dict, trace: bool) -> None:
    """Print the report line, then the result line: the metrics of the mode
    (per-layer when traced, end-to-end otherwise)."""
    metrics = report["per_layer"] if trace else report["end_to_end"]
    summary = {
        k: v for k, v in report.items() if k not in ("end_to_end", "per_layer", "spans")
    }
    print(json.dumps({"report": summary}))
    print(
        json.dumps(
            {
                "correct": report["failed"] == 0,
                "attempted": report["attempted"],
                "failed": report["failed"],
                "metrics": metrics,
            }
        )
    )


if __name__ == "__main__":
    sys.exit(main())
