"""The op registry fails loudly: a plans module that cannot be imported
raises instead of silently dropping its ops from `all_queries()`, and
the driver contract exposes exactly the registered op set."""

from __future__ import annotations

import sys

import pytest

import __spark_entry__ as E
from tpc_di_etl_using_pyspark_spark.plans import registry


def test_broken_plans_module_import_raises(monkeypatch):
    # a None entry in sys.modules makes the import raise
    # ModuleNotFoundError, the same error a missing dependency inside
    # the module would raise
    monkeypatch.setitem(sys.modules, f"{registry.__package__}.llm", None)
    with pytest.raises(ModuleNotFoundError):
        registry.all_queries()


def test_contract_exposes_the_full_registry():
    ops = set(registry.all_queries())
    # the registered op surface: an op that drops out of (or sneaks
    # into) the registry changes this count
    assert len(ops) == 291
    assert set(E.queries()) == ops
    # every op is oracled (the rows-only set is empty), so the oracle
    # dict names the same ops
    assert set(E.oracle_sql()) == ops
