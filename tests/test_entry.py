"""The registry's entry points, and tier-1's oracle gate: every
registered query must equal its DuckDB twin at sf0.001."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import __spark_entry__ as entry_mod
from tools.check_correctness import compare, duck_connect, duck_result, spark_result


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_queries_and_oracles_aligned(spark):
    qs = entry_mod.queries()
    assert qs, "no queries registered"
    # every query has an oracle and every oracle a query
    assert set(entry_mod.oracle_sql()) == set(qs)


def test_all_queries_run_sf0001(spark, sf_dir):
    """Collect every query and compare it with its oracle: column set,
    canonical types, row count and order-insensitive values (the
    comparison tools/check_correctness.py runs). All oracles are queued
    up front on one DuckDB thread, so they run while Spark runs."""
    failures = {}
    with duck_connect(sf_dir) as con, ThreadPoolExecutor(max_workers=1) as pool:
        con.execute("SET threads TO 1")  # leave the other cores to Spark
        duck = {
            name: pool.submit(duck_result, con, sql)
            for name, sql in entry_mod.oracle_sql().items()
        }
        for name, fn in entry_mod.queries().items():
            try:
                duck_res = duck.pop(name).result()
                ok, notes = compare(spark_result(fn(spark, sf_dir)), duck_res)
            except Exception as e:  # noqa: BLE001 — reported by name below
                ok, notes = False, [f"{type(e).__name__}: {str(e)[:500]}"]
            if not ok:
                failures[name] = "; ".join(notes)
    assert not failures, "\n".join(f"{n}: {m}" for n, m in failures.items())
