"""Workload definitions: which operations each workload runs, on what inputs.

An operation is the unit the benchmark times and checks. Three kinds exist:

- ``CatalogOp``: ``QuerySpec.build(spark, sf_dir)`` then ``DataFrame.collect()``,
  checked against the entry's DuckDB oracle over the same fixture files.
- ``UploadOp``: ``Engine.register`` of a seeded pandas frame as ``t``. It has
  no result of its own; the statements that follow it check what it uploaded.
- ``StatementOp``: one DuckDB-dialect statement over the uploaded frame
  through ``Engine.sql(..., dialect="duckdb")``, fetched with
  ``Result.to_pandas()`` and checked against DuckDB running the original
  statement over the same pandas frame.

Operations come in groups: an upload and the statements over its frame form
one group, and a catalog entry is a group of its own. The seed permutes the
groups in every warm pass, and the statements inside a group, which always
follow their upload. For ``pandas_roundtrip`` it also generates the uploaded
frames and predicate constants.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

#: Fixture tables registered during set-up, in the package's dependency order.
ALL_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass(frozen=True)
class CatalogOp:
    """One catalog entry, built and collected."""

    name: str
    group: int


@dataclass(frozen=True)
class UploadOp:
    """``Engine.register`` of one pandas frame under the name ``t``."""

    name: str
    group: int
    frame: pd.DataFrame = field(compare=False, repr=False)


@dataclass(frozen=True)
class StatementOp:
    """One DuckDB-dialect statement over ``frame``, uploaded as ``t`` by the
    ``UploadOp`` of the same group."""

    name: str
    group: int
    statement: str
    frame: pd.DataFrame = field(compare=False, repr=False)


@dataclass(frozen=True)
class Workload:
    name: str
    #: fixture directory under perfbench/fixtures
    sf: str
    #: fixture tables registered during set-up
    tables: tuple[str, ...]
    #: wall time of one warm pass on the reference host (4 cores, local[4]);
    #: ``--seconds`` divided by this fixes the number of warm passes, so the
    #: warm sample count does not depend on how fast the host is
    nominal_pass_s: float
    why: str


#: catalog_sf0.01 members, by family. Chosen so that planning-side work
#: (Python build, Catalyst, janino codegen, per-round job scheduling) carries
#: the time, and so that one cold pass plus the warm passes fit the run
#: budget. The count is odd: with entries of distinct latencies, the median
#: warm sample then falls inside one entry's samples instead of jumping
#: between two neighbours from run to run. Heavier entries named for this workload (domain_pagerank_sinks,
#: crawl_curation_ranked, doremi_domain_weights, url_dedup_curation) each
#: take 3-15 s per run and are left out; see README.md.
CATALOG_ENTRIES: tuple[str, ...] = (
    # relational and window (both also in bench.py's headline set)
    "q1_pricing_summary",
    "window_top3_orders_per_customer",
    # window through the DuckDB-dialect front end (QUALIFY)
    "qualify_top3_orders",
    # asof
    "asof_join_nulls",
    # url canonicalisation: large expression plans, codegen-heavy
    "url_percent_dedup",
    # recursive CTE: the semi-naive executor runs one job round per iteration
    "recursive_cte_hierarchy",
    # the Engine path (register, duckdb-dialect sql through the transpiler,
    # to_pandas) as an entry
    "engine_lifecycle_pandas",
)

#: pandas_roundtrip: frames per pass, rows per frame. At 100,000 rows the
#: per-row work (the Arrow upload, each statement's scan of the uploaded
#: frame, the result download) outweighs Spark's fixed per-statement cost of
#: about 0.25 s; at 20,000 rows the fixed cost dominated.
ROUNDTRIP_FRAMES = 3
ROUNDTRIP_ROWS = 100_000

#: DuckDB-dialect statements over the uploaded frame ``t``, by op-name
#: suffix: a wide filter+project with ``* EXCLUDE`` returning 75-80% of the
#: rows, a ``GROUP BY ALL`` and a row-level join against the ``nation``
#: fixture returning 45-55% of the rows. Integer and string columns only, so
#: DuckDB and Spark agree exactly. ``{c1}``..``{c3}`` are seeded constants.
ROUNDTRIP_STATEMENTS: dict[str, str] = {
    "exclude": "SELECT * EXCLUDE (tag), a + b AS ab, upper(tag) AS tag_u "
    "FROM t WHERE a > {c1} AND c <> {c2}",
    "group_by": "SELECT grp, tag, count(*) AS n, sum(a) AS sa, max(b) AS mb "
    "FROM t GROUP BY ALL",
    "join": "SELECT t.id, t.a, t.b, n.n_name "
    "FROM t JOIN nation n ON t.nk = n.n_nationkey WHERE t.c < {c3}",
}

_TAGS = np.array(["amber", "blue", "green", "red", "violet"])

WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="catalog_sf0.01",
            sf="sf0.01",
            tables=ALL_TABLES,
            nominal_pass_s=3.2,
            why=(
                "Seven catalog entries at sf0.01 across families: data is tiny, "
                "so Python build, Catalyst, codegen and per-round scheduling "
                "dominate"
            ),
        ),
        Workload(
            name="pandas_roundtrip",
            sf="sf0.01",
            tables=("nation",),
            nominal_pass_s=7.0,
            why=(
                "Seeded 100k-row pandas frames, each uploaded with "
                "Engine.register and queried by three DuckDB-dialect "
                "statements fetched with to_pandas: upload, work over the "
                "uploaded rows and result transfer"
            ),
        ),
    )
}


def frame(seed: int, k: int) -> pd.DataFrame:
    """The k-th uploaded frame of a seed: integer and short-string columns
    only, no nulls, so both engines render every value the same way."""
    rng = np.random.default_rng([seed, k])
    n = ROUNDTRIP_ROWS
    return pd.DataFrame(
        {
            "id": np.arange(k * n, (k + 1) * n, dtype=np.int64),
            "grp": rng.integers(0, 50, n),
            "nk": rng.integers(0, 25, n),
            "a": rng.integers(0, 10_000, n),
            "b": rng.integers(-500, 500, n),
            "c": rng.integers(0, 1_000, n),
            "tag": rng.choice(_TAGS, n),
        }
    )


def operations(workload: Workload, seed: int) -> list[CatalogOp | UploadOp | StatementOp]:
    """The operations of one pass, in declared order; a group's upload comes
    first, its statements after it."""
    if workload.name == "catalog_sf0.01":
        return [CatalogOp(name, g) for g, name in enumerate(CATALOG_ENTRIES)]
    rng = random.Random(seed)
    ops: list[CatalogOp | UploadOp | StatementOp] = []
    for k in range(ROUNDTRIP_FRAMES):
        # narrow ranges: the seed changes the rows, not how many come back
        consts = {
            "c1": rng.randrange(2_000, 2_500),
            "c2": rng.randrange(0, 1_000),
            "c3": rng.randrange(450, 550),
        }
        data = frame(seed, k)
        ops.append(UploadOp(f"frame{k}.register", k, data))
        ops.extend(
            StatementOp(f"frame{k}.{kind}", k, sql.format(**consts), data)
            for kind, sql in ROUNDTRIP_STATEMENTS.items()
        )
    return ops


def pass_orders(groups: list[int], n_passes: int, seed: int) -> list[list[int]]:
    """Op indices per pass, given each op's group. The cold pass (pass 0)
    keeps the declared order: its first op also pays the JVM's first-query
    warm-up, and a seeded order would move that cost between ops and swing
    ``cold_pass_s`` by about 10% from seed to seed. Warm passes run the
    groups in a seeded order, each group's first op (an upload) first and the
    rest of the group in a seeded order."""
    rng = random.Random(f"order-{seed}")
    members: dict[int, list[int]] = {}
    for i, g in enumerate(groups):
        members.setdefault(g, []).append(i)
    orders = [list(range(len(groups)))]
    for _ in range(n_passes - 1):
        keys = list(members)
        rng.shuffle(keys)
        order: list[int] = []
        for g in keys:
            head, *rest = members[g]
            rng.shuffle(rest)
            order += [head, *rest]
        orders.append(order)
    return orders
