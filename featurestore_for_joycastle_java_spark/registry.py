"""Query/oracle registry — the driver contract's backbone.

Every implemented operator registers a named query ``(spark, sf_dir) ->
DataFrame`` and (when SQL-expressible) a DuckDB oracle string. The driver
runs both sides at sf0.01 and hash-compares; ``__spark_entry__.py`` just
re-exports these dicts.

Naming rule (driver compares columns sorted by NAME): every computed or
aggregate column is aliased identically in the Spark code and the oracle
SQL.
"""

from __future__ import annotations

import importlib
import json
import pkgutil
import re
from collections.abc import Callable, Iterable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from featurestore_for_joycastle_java_spark import catalog

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

#: Queries excluded from the sf0.1 bench (e.g. quadratic brute-force
#: baselines kept only as correctness oracles for their scalable variants).
BENCH_SKIP: set[str] = set()

#: The repo root, where the driver's ``CORRECTNESS_rN.json`` files live.
_ROOT = Path(__file__).resolve().parent.parent


def query(
    name: str, oracle: str | None = None, bench: bool = True
) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under ``name``; ``oracle`` is the equivalent DuckDB
    SQL (omit only for genuinely non-SQL-expressible ops — the driver then
    records a weaker rows-only check). ``bench=False`` keeps a query out of
    the sf0.1 benchmark suite."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        if not bench:
            BENCH_SKIP.add(name)
        return fn

    return deco


def driver_order(names: Iterable[str], root: Path) -> list[str]:
    """``names`` least recently driver-verified first, ties broken by name.

    A name's round is the highest N of the ``CORRECTNESS_rN.json`` files
    in ``root`` that list it, and 0 when none does. The driver checks the
    first 50 registered queries, so this order sends each run to the
    queries whose last check is oldest. Names listed in the files but
    absent from ``names`` are ignored."""
    last: dict[str, int] = {}
    for path in root.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m is None:
            continue
        for name in json.loads(path.read_text()):
            last[name] = max(last.get(name, 0), int(m.group(1)))
    return sorted(names, key=lambda n: (last.get(n, 0), n))


def load_catalog() -> None:
    """Import every catalog module (idempotent), then order ``QUERIES``
    and ``ORACLES`` by :func:`driver_order` over the repo root."""
    for mod in pkgutil.iter_modules(catalog.__path__):
        importlib.import_module(f"{catalog.__name__}.{mod.name}")
    order = driver_order(QUERIES, _ROOT)
    for table in (QUERIES, ORACLES):
        ordered = {n: table[n] for n in order if n in table}
        table.clear()
        table.update(ordered)
