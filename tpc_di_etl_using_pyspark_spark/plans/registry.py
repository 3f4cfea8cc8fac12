"""Merged op registry — the single source for __spark_entry__.py.

Each plans/ module contributes (QUERIES, ORACLES); keys are SURVEY §2
op IDs. Ops present in QUERIES but absent from ORACLES are rows-only
checks (approx/nondeterministic/not SQL-expressible).

Ops are registered in _MODULES order, then in each module's QUERIES
order. No consumer depends on that order: the driver contract and the
parity sweeps look ops up by name.
"""

from __future__ import annotations

from collections.abc import Callable
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

_MODULES = [
    "core_scans",
    "core_relational",
    "core_agg",
    "core_window",
    "scalars",
    "streaming_ops",
    "udfs",
    "llm",
    "tpcdi_ops",
]


def _collect() -> tuple[dict, dict]:
    queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracles: dict[str, str] = {}
    for mod_name in _MODULES:
        # no fallback: an import error inside a plans module must fail
        # the registry, not silently drop that module's whole op family
        mod = import_module(f"{__package__}.{mod_name}")
        for k, v in mod.QUERIES.items():
            if k in queries:
                raise ValueError(f"duplicate op id {k!r} in {mod_name}")
            queries[k] = v
        oracles.update(mod.ORACLES)
    return queries, oracles


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _collect()[0]


def all_oracles() -> dict[str, str]:
    return _collect()[1]
