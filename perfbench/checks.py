"""Expected results from DuckDB, the host control, and the run fingerprint.

Everything here runs outside the timed regions and outside ``setup_s``.
Results are compared the way tools/rehearse_driver_gate.py compares them:
row count, sorted column names and its order-insensitive stringified hash
``canon_hash``.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import platform
import statistics
import time
from pathlib import Path

#: (row count, sorted column names, canon_hash) of one result
Expected = tuple[int, list[str], str]


def load_canon_hash(root: Path):
    """Import ``canon_hash`` from the gate rehearsal script. Importing that
    script changes the working directory to the repo root, so the caller's
    working directory is put back."""
    cwd = os.getcwd()
    try:
        spec = importlib.util.spec_from_file_location(
            "rehearse_driver_gate", root / "tools" / "rehearse_driver_gate.py"
        )
        module = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(module)
    finally:
        os.chdir(cwd)
    return module.canon_hash


def fixture_digests(sf_dir: Path) -> dict[str, str]:
    return {
        p.name: hashlib.sha256(p.read_bytes()).hexdigest()[:16]
        for p in sorted(sf_dir.glob("*.parquet"))
    }


def duckdb_connection(sf_dir: Path, tables, threads: int, temp_dir: Path):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir / t}.parquet')"
        )
    return con


def duckdb_result(con, sql: str, canon_hash) -> Expected:
    rows = con.execute(sql).fetchall()
    cols = [d[0] for d in con.description]
    return len(rows), sorted(cols), canon_hash(rows, cols)


class OracleCache:
    """Expected results of catalog oracles, kept in a JSON file and keyed by
    the fixture digests, the DuckDB version and the oracle text."""

    def __init__(self, path: Path, digests: dict[str, str]) -> None:
        import duckdb

        self.path = path
        self._salt = json.dumps([duckdb.__version__, digests], sort_keys=True)
        try:
            self._data = json.loads(path.read_text())
        except (FileNotFoundError, json.JSONDecodeError):
            self._data = {}
        self._dirty = False

    def get(self, con, sql: str, canon_hash) -> Expected:
        key = hashlib.sha256((self._salt + sql).encode()).hexdigest()
        if key not in self._data:
            self._data[key] = list(duckdb_result(con, sql, canon_hash))
            self._dirty = True
        n, cols, h = self._data[key]
        return n, cols, h

    def save(self) -> None:
        if not self._dirty:
            return
        tmp = self.path.with_suffix(f".{os.getpid()}.tmp")
        tmp.write_text(json.dumps(self._data))
        os.replace(tmp, self.path)


#: Fixed DuckDB query set timed once per run as a host-speed control: a CPU
#: loop, a scan-aggregate and a join over the fixtures.
CONTROL_QUERIES = (
    "SELECT sum(hash(range) % 997) FROM range(4000000)",
    "SELECT l_returnflag, l_linestatus, count(*), sum(l_quantity) "
    "FROM lineitem GROUP BY ALL",
    "SELECT o_orderpriority, count(*) FROM orders JOIN lineitem "
    "ON l_orderkey = o_orderkey GROUP BY ALL",
)


def duckdb_control_s(con, repeats: int = 3) -> float:
    """Median wall time of one pass over ``CONTROL_QUERIES``."""
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        for sql in CONTROL_QUERIES:
            con.execute(sql).fetchall()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of this machine since boot, from /proc/stat.
    On a virtual machine, time stolen by the hypervisor stretches every wall
    time the benchmark reports; the stolen share of a pass tells host drift
    from a change in the program."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def git_sha(root: Path) -> str | None:
    """HEAD's commit from the .git directory, or None outside a clone."""
    git = root / ".git"
    try:
        head = (git / "HEAD").read_text().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        if (git / ref).exists():
            return (git / ref).read_text().strip()
        for line in (git / "packed-refs").read_text().splitlines():
            if line.endswith(" " + ref):
                return line.split()[0]
    except OSError:
        return None
    return None


def fingerprint(root: Path, digests: dict[str, str], nproc: int) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "git_sha": git_sha(root),
        "fixtures": digests,
    }
