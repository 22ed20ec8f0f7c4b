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
    """Import every plan module so registration side-effects run."""
    from . import relational  # noqa: F401
    from . import llm_data  # noqa: F401
    from . import cricket_analytics  # noqa: F401
    from . import corpus_stats  # noqa: F401
    from . import retrieval  # noqa: F401
    from . import streaming_plans  # noqa: F401
    from . import round3  # noqa: F401
    from . import wave6  # noqa: F401
    from . import wave7  # noqa: F401
    from . import wave8  # noqa: F401
    from . import wave9  # noqa: F401
    from . import wave10  # noqa: F401
    from . import wave11  # noqa: F401
    from . import wave12  # noqa: F401
    from . import wave13  # noqa: F401
    from . import wave14  # noqa: F401
    from . import wave15  # noqa: F401
    from . import wave16  # noqa: F401
    from . import wave17  # noqa: F401
    from . import wave18  # noqa: F401
    from . import wave19  # noqa: F401
    from . import wave20  # noqa: F401
    from . import wave21  # noqa: F401
    from . import wave22  # noqa: F401
    from . import wave23  # noqa: F401
    from . import wave24  # noqa: F401
    from . import wave25  # noqa: F401
    from . import wave26  # noqa: F401
    from . import wave27  # noqa: F401
    from . import wave28  # noqa: F401
    from . import wave29  # noqa: F401
    from . import wave30  # noqa: F401
    from . import wave31  # noqa: F401
    from . import wave32  # noqa: F401
    from . import wave33  # noqa: F401
    from . import wave34  # noqa: F401
    from . import wave35  # noqa: F401
    from . import wave36  # noqa: F401
    from . import wave37  # noqa: F401
    from . import wave38  # noqa: F401
    from . import wave39  # noqa: F401
    from . import wave40  # noqa: F401
    from . import wave41  # noqa: F401
    from . import wave42  # noqa: F401
    from . import wave43  # noqa: F401
    from . import wave44  # noqa: F401
    from . import wave45  # noqa: F401
    from . import wave46  # noqa: F401
    from . import wave47  # noqa: F401
    from . import wave48  # noqa: F401
    from . import wave49  # noqa: F401
    from . import wave50  # noqa: F401
    from . import wave51  # noqa: F401
    from . import wave52  # noqa: F401
    from . import wave53  # noqa: F401
    from . import wave54  # noqa: F401
    from . import wave55  # noqa: F401
    from . import wave56  # noqa: F401
    from . import wave57  # noqa: F401
    from . import wave58  # noqa: F401
    from . import wave59  # noqa: F401
    from . import wave60  # noqa: F401
    from . import wave61  # noqa: F401
    from . import wave62  # noqa: F401
    from . import wave63  # noqa: F401
    from . import wave64  # noqa: F401
    from . import wave65  # noqa: F401
    from . import wave66  # noqa: F401
    from . import wave67  # noqa: F401
    from . import wave68  # noqa: F401
    from . import wave69  # noqa: F401
    from . import wave70  # noqa: F401
    from . import wave71  # noqa: F401
    from . import wave72  # noqa: F401
    from . import wave73  # noqa: F401
    from . import wave74  # noqa: F401
    from . import wave75  # noqa: F401
    from . import wave76  # noqa: F401
