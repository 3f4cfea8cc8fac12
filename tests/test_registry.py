"""The op registry fails loudly: a plans module that cannot be imported
raises instead of silently dropping its ops from `all_queries()`."""

from __future__ import annotations

import sys

import pytest

from tpc_di_etl_using_pyspark_spark.plans import registry


def test_broken_plans_module_import_raises(monkeypatch):
    # a None entry in sys.modules makes the import raise
    # ModuleNotFoundError, the same error a missing dependency inside
    # the module would raise
    monkeypatch.setitem(sys.modules, f"{registry.__package__}.llm", None)
    with pytest.raises(ModuleNotFoundError):
        registry.all_queries()

