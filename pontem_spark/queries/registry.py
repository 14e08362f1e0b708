"""Query registry: every engine capability exposed as a named, oracle-checked query.

Each entry pairs a Spark implementation ``(spark, sf_dir) -> DataFrame`` with
an equivalent ANSI-SQL string DuckDB can run over the same parquet tables.
The driver (and ``tests/test_oracle.py``) executes both and compares
row-count + schema + order-insensitive value hash — so column NAMES and TYPES
must match exactly on both sides.

Float discipline: aggregate doubles are ``ROUND()``ed to a fixed number of
decimals on BOTH sides, so the two engines' different summation orders cannot
produce hash mismatches in the last ulp.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "Query"] = {}


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL over views named like the tables; None = rows-only check
    description: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


def register(
    name: str,
    oracle: str | None = None,
    description: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        from pontem_spark.functions.compat import portable_round_sql

        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        # ROUND() is not double-portable across engines; rewrite to the
        # deterministic floor form (see functions/compat.py).
        sql = portable_round_sql(oracle) if oracle is not None else None
        _REGISTRY[name] = Query(name, fn, sql, description or (fn.__doc__ or ""), tags)
        return fn

    return deco


# The driver records only the FIRST 50 queries it sees each round, so
# ``all_queries`` orders queries by how much a fresh driver row is worth.
# The ordering is computed from the CORRECTNESS_r*.json artifacts at the
# repo root (latest round in which each query was green):
#   1. never-green queries first (new work with only local evidence),
#   2. then ascending "latest green round" (oldest driver evidence first),
#   3. registration order breaks ties.


def _latest_green_rounds() -> dict[str, int]:
    """Scan CORRECTNESS_r*.json at the repo root and return, per query, the
    highest round number in which it was fully green (rows + schema when
    present + hash when present, no error). Missing/corrupt artifacts are
    skipped — a fresh checkout degrades to registration order."""
    import json
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parents[2]
    latest: dict[str, int] = {}
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", p.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            data = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if not isinstance(row, dict) or row.get("err"):
                continue
            checks = [
                row.get(k)
                for k in ("rows_match", "schema_match", "hash_match")
                if row.get(k) is not None
            ]
            if checks and all(checks):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def all_queries() -> dict[str, Query]:
    """Import all query modules and return the full registry, ordered so the
    driver's 50-row correctness window lands on the queries whose driver
    evidence is most stale (see the evidence-age comment above)."""
    # Imports are deferred so `import pontem_spark` stays cheap. Every module
    # of the package is imported, so a new query module needs no edit here.
    import importlib
    import pkgutil

    import pontem_spark.queries as package

    for mod in pkgutil.iter_modules(package.__path__):
        importlib.import_module(f"{package.__name__}.{mod.name}")

    order = {n: i for i, n in enumerate(_REGISTRY)}
    latest = _latest_green_rounds()

    names = sorted(_REGISTRY, key=lambda n: (latest.get(n, 0), order[n]))
    return {n: _REGISTRY[n] for n in names}


def query_fns() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in all_queries().items()}


def oracle_sqls() -> dict[str, str]:
    return {name: q.oracle for name, q in all_queries().items() if q.oracle is not None}
