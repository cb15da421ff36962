"""Registry assembly fails loudly: an extension module that cannot be
imported must break ``import big_data_projects_spark.queries`` instead
of silently dropping that module's queries from ``REGISTRY``."""

from __future__ import annotations

import importlib
import pkgutil
import sys

import pytest

import big_data_projects_spark

QUERY_MODULES = sorted(
    f"big_data_projects_spark.{m.name}"
    for m in pkgutil.iter_modules(big_data_projects_spark.__path__)
    if m.name.startswith("queries_")
)


def test_every_query_module_is_found():
    assert len(QUERY_MODULES) == 12, QUERY_MODULES


@pytest.mark.parametrize("module", QUERY_MODULES)
def test_import_error_in_a_query_module_propagates(monkeypatch, module):
    importlib.import_module("big_data_projects_spark.queries")
    # A None entry makes any import of the module raise ImportError;
    # dropping the cached registry module forces a fresh import of it.
    monkeypatch.setitem(sys.modules, module, None)
    monkeypatch.delitem(sys.modules, "big_data_projects_spark.queries")
    with pytest.raises(ImportError, match=module):
        importlib.import_module("big_data_projects_spark.queries")
