"""Query registry: every operator ships as (spark_fn, oracle_sql).

The driver harness (``/root/repo/__spark_entry__.py``) runs each registered
Spark query and its DuckDB oracle SQL side-by-side at sf=0.01 and compares
row-count + schema + order-insensitive value hash.  Registration keeps the
implementation and its oracle adjacent in the operator modules.

Rules enforced by convention here (see SURVEY.md §7):

* every computed column is aliased identically in the Spark plan and the
  oracle SQL;
* float outputs are rounded (usually 2 dp) on BOTH sides so cross-engine
  summation-order differences cannot flip the value hash;
* no ``rand()`` anywhere — ordering is by key columns or seeded integer
  hashes expressible in both dialects.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None → driver does rows-only check
    doc: str = ""
    # Builds by running jobs: iterative loops, index lifecycles, writes, and
    # streams run to completion.  Every other builder only plans: 0 jobs
    # once the session knows its tables' schemas (tests/test_build_jobs.py).
    eager: bool = False


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str, oracle: str | None = None, eager: bool = False
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``.

    ``eager=True`` declares a builder that must run jobs to build its plan;
    every other builder launches none.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "", eager=eager
        )
        return fn

    return deco


# Preferred family order for the round-robin cycle below; families not listed
# are appended in registration order.  The first cycle therefore reads as the
# "one best representative per SURVEY.md §2 family" list.
_FAMILY_ORDER = [
    "tpch",      # q1 flagship first — the driver smoke-checks it via entry()
    "join",
    "agg",
    "window",
    "scalar",
    "events",
    "stream",
    "dedup",
    "sim",
    "text",
    "ml",
    "mm",
    "pipeline",
    "subquery",
    "reshape",
    "udf",
    "sample",
    "sink",
    "source",
    "profile",
    "graph",
    "sort",
    "setops",
]


def _family(name: str) -> str:
    if name.startswith("q") and name[1:2].isdigit():
        return "tpch"
    if name.startswith("sql_"):
        return "tpch"
    return name.split("_", 1)[0]


def _driver_history(
    known: set[str] | None = None, root: str | None = None
) -> tuple[set[str], set[str], set[str]]:
    """Return (needs_regrade, rows_only, ever_sampled) sets read from
    ``CORRECTNESS_r*.json``.

    The driver grades only a ~50-query prefix per round, so prefix order
    is the sampling policy.  Reading the driver's own verdict files makes
    the policy self-updating: a query that erred or hash-failed last
    round must stay in the prefix to prove its fix; a query that has
    never had a driver row should get one before any already-green query
    is re-graded.  Missing/unparsable files degrade to empty sets (e.g.
    fresh checkouts), leaving plain registration order.
    """
    import glob
    import json
    import os

    if root is None:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sampled: set[str] = set()
    latest: dict[str, dict] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        try:
            data = json.load(open(path))
        except Exception:
            continue
        if isinstance(data, dict):
            sampled |= set(data)
            latest.update(data)  # later rounds overwrite earlier verdicts
    regrade = {
        name
        for name, row in latest.items()
        if isinstance(row, dict)
        and (row.get("err") not in (None, "no_oracle") or row.get("hash_match") is False)
    }
    # REGRADE_REQUEST: one query name per line (# comments allowed) — the
    # builder lists queries whose REGISTERED semantics changed this round
    # (oracle + engine updated in lockstep, e.g. the r11 lsh_serve
    # pre-collapse or the ten-way router mix).  A green verdict from an
    # earlier round proves the OLD semantics; these must re-enter the
    # graded prefix to prove the new ones.  A name not in the registry is
    # a typo that would silently drop an intended regrade — warn loudly.
    req = os.path.join(root, "REGRADE_REQUEST")
    if os.path.exists(req):
        with open(req) as f:
            for line in f:
                name = line.split("#", 1)[0].strip()
                if not name:
                    continue
                if known is not None and name not in known:
                    import warnings

                    warnings.warn(
                        f"REGRADE_REQUEST lists unknown query {name!r}; "
                        "it will not be regraded (typo?)",
                        stacklevel=2,
                    )
                    continue
                regrade.add(name)
    rows_only = {
        name
        for name, row in latest.items()
        if isinstance(row, dict) and row.get("err") == "no_oracle"
    }
    return regrade, rows_only, sampled


def _interleaved(reg: dict[str, QuerySpec]) -> dict[str, QuerySpec]:
    """Round-robin the registry across operator families, verdict-aware.

    The driver harness may grade only a prefix of ``queries()`` per round
    (r1-r3 graded 50 of ~200).  Ordering is CLASS-MAJOR, then family
    round-robin within each class (changed in r4):

    0. queries whose latest driver verdict was an error or hash mismatch,
       plus rows-only queries that have since gained an oracle — their
       fixes need re-grading first;
    1. queries never driver-sampled — every one of these gets a first
       verdict before ANY already-green query is re-graded (the stated
       policy since r3; the old per-family-depth cycling violated it
       globally — r4's 50-prefix would have spent 23 slots re-grading
       greens while 71 never-sampled queries waited beyond the prefix);
    2. already-green queries, rotated to the back for eventual re-grade.

    Within a class, families cycle round-robin (one query per family per
    depth), so no single family can hog the prefix; within a family, ties
    keep registration order (modules register their most representative
    query first).  Family coverage of a 50-prefix now tracks where the
    INFORMATION is: once a family is fully green it stops consuming
    prefix slots until the backlog of never-graded queries is burned
    down.
    """
    regrade, rows_only, sampled = _driver_history(known=set(reg))

    def _cls(spec: QuerySpec) -> int:
        if spec.name in regrade:
            return 0
        if spec.name in rows_only and spec.oracle is not None:
            return 0  # oracle added since the last rows-only verdict
        if spec.name not in sampled:
            return 1
        return 2

    fam_order = [f for f in _FAMILY_ORDER]
    out: dict[str, QuerySpec] = {}
    for cls in (0, 1, 2):
        queues: dict[str, list[QuerySpec]] = {}
        for name, spec in reg.items():
            if _cls(spec) == cls:
                queues.setdefault(_family(name), []).append(spec)
        order = [f for f in fam_order if f in queues]
        order += [f for f in queues if f not in order]
        depth = 0
        while any(depth < len(queues[f]) for f in order):
            for f in order:
                if depth < len(queues[f]):
                    spec = queues[f][depth]
                    out[spec.name] = spec
            depth += 1
    assert len(out) == len(reg)
    return out


def all_queries() -> dict[str, QuerySpec]:
    # Import operator modules for their registration side effects.
    from dataframework_spark.operators import (  # noqa: F401
        corpus,
        dedup,
        graph,
        ml_prep,
        multimodal,
        pipeline,
        relational,
        similarity,
        temporal,
        text,
        tpch_shapes,
        udfs,
    )
    from dataframework_spark import streaming  # noqa: F401
    from dataframework_spark.sources import io, matlab  # noqa: F401

    return _interleaved(_REGISTRY)


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in all_queries().items() if spec.oracle is not None
    }


def get_spec(name: str) -> QuerySpec:
    """Lookup an already-registered spec (for queries that compose other
    queries' oracles — e.g. the ANN recall evaluator)."""
    return _REGISTRY[name]
