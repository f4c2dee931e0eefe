#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001 with two warm passes (three when traced).

    python3 perfbench/selftest.py

Checks, for both workloads:

- every metric named in BENCHMARK.json is printed, with its unit, on the
  result line of the mode that prints it (end-to-end untraced, per-layer
  traced);
- a forced hash mismatch counts as a failed operation;
- spans nest: each span's parent exists, belongs to the same op and
  encloses it;
- two seeds give the same metric set, with a different op order (catalog)
  and different frames (pandas_roundtrip).

Each check runs the benchmark in this process, one fresh JVM per run, and
the script exits non-zero if any check fails.
"""

from __future__ import annotations

import io
import json
import sys
import time
from contextlib import redirect_stdout
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH_DIR))

import run as bench  # noqa: E402
from workloads import WORKLOADS, UploadOp, operations  # noqa: E402

SF = "sf0.001"
#: long enough that the warm-phase time cap never cuts the two passes
SECONDS = 60


def declared() -> tuple[dict[str, str], dict[str, str]]:
    spec = json.loads((BENCH_DIR.parent / "BENCHMARK.json").read_text())
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def printed(report: dict, trace: bool) -> dict:
    """The result line the benchmark prints for ``report``, parsed."""
    out = io.StringIO()
    with redirect_stdout(out):
        bench.print_result(report, trace)
    return json.loads(out.getvalue().strip().splitlines()[-1])


def check_result_line(problems: list[str], label: str, line: dict, want: dict[str, str]) -> None:
    keys = {"correct", "attempted", "failed", "metrics"}
    if set(line) != keys:
        problems.append(f"{label}: result line keys {sorted(line)} != {sorted(keys)}")
        return
    check_units(problems, label, line["metrics"], want)


def check_units(problems: list[str], label: str, got: dict, want: dict[str, str]) -> None:
    for name, unit in want.items():
        if name not in got:
            problems.append(f"{label}: metric {name} missing")
        elif got[name]["unit"] != unit:
            problems.append(f"{label}: {name} unit {got[name]['unit']} != {unit}")
    extra = sorted(set(got) - set(want))
    if extra:
        problems.append(f"{label}: metrics not in BENCHMARK.json: {extra}")


def check_spans(problems: list[str], label: str, spans: list[dict]) -> None:
    if not spans:
        problems.append(f"{label}: no spans recorded")
    for sp in spans:
        if sp["parent"] is None:
            if sp["name"] not in ("op", "setup"):
                problems.append(f"{label}: span {sp['id']} {sp['name']} has no parent")
            continue
        if not 0 <= sp["parent"] < sp["id"]:
            problems.append(f"{label}: span {sp['id']} parent {sp['parent']} does not exist")
            continue
        parent = spans[sp["parent"]]
        if parent["op"] != sp["op"]:
            problems.append(f"{label}: span {sp['id']} op {sp['op']} != parent's {parent['op']}")
        if not parent["start"] <= sp["start"] <= sp["end"] <= parent["end"]:
            problems.append(f"{label}: span {sp['id']} is not inside its parent")


def main() -> int:
    e2e_units, layer_units = declared()
    problems: list[str] = []
    for name in sorted(WORKLOADS):
        plain = {}
        for seed in (1, 2):
            # seed 2 runs with the expected result of the first op that has
            # one doctored
            first = next(
                op.name for op in operations(WORKLOADS[name], seed)
                if not isinstance(op, UploadOp)
            )
            doctored = {first: [(1, ["x"], "0" * 32)]} if seed == 2 else None
            rep = bench.run(name, seed, SECONDS, False, sf=SF, warm_passes=2,
                            expected_override=doctored, started=time.perf_counter())
            plain[seed] = rep
            label = f"{name} seed {seed} untraced"
            check_result_line(problems, label, printed(rep, False), e2e_units)
            bad = {k for k in rep["errors"] if k.endswith(f".{first}")}
            if seed == 1 and rep["failed"]:
                problems.append(f"{label}: unexpected failures {rep['errors']}")
            if seed == 2 and (len(bad) != 3 or rep["failed"] != 3):
                problems.append(f"{label}: forced mismatch not counted: {rep['errors']}")
        if set(plain[1]["end_to_end"]) != set(plain[2]["end_to_end"]):
            problems.append(f"{name}: seeds give different metric sets")
        ops1, ops2 = operations(WORKLOADS[name], 1), operations(WORKLOADS[name], 2)
        same_frames = all(
            getattr(a, "frame", None) is None or a.frame.equals(b.frame)
            for a, b in zip(ops1, ops2)
        )
        if plain[1]["op_order"] == plain[2]["op_order"] and same_frames:
            problems.append(f"{name}: seeds 1 and 2 give the same order and inputs")

        rep = bench.run(name, 1, SECONDS, True, sf=SF, warm_passes=2,
                        started=time.perf_counter())
        label = f"{name} traced"
        check_result_line(problems, label, printed(rep, True), layer_units)
        check_spans(problems, label, rep["spans"])
        if rep["failed"]:
            problems.append(f"{label}: unexpected failures {rep['errors']}")
        print(f"{name}: checked", flush=True)
    for p in problems:
        print("FAIL", p)
    print("selftest:", "ok" if not problems else f"{len(problems)} problems")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
