"""Query registry.

Every operator the engine implements (SURVEY.md §2 inventory + the
LLM-data-pipeline extensions) registers here as a named query:

- ``QUERIES[name]``   — callable ``(spark, sf_dir) -> DataFrame``
- ``ORACLE_SQL[name]``— equivalent ANSI SQL for the DuckDB oracle;
  tier-1 (tests/test_entry.py) compares every query with it.

Column names are aliased identically on both sides — the harness sorts
columns by name before hashing values.
"""

from __future__ import annotations

import importlib
import os
import pkgutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def spark_query(name: str, oracle: str):
    """Register a query plan and its DuckDB oracle twin."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        ORACLE_SQL[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every plan module in this package so registration
    side-effects run."""
    here = [os.path.dirname(__file__)]
    for name in sorted(m.name for m in pkgutil.iter_modules(here)):
        if name != "registry":
            importlib.import_module(f"{__package__}.{name}")
