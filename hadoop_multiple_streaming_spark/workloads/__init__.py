"""Workload registry — the queries the engine ships with.

Every operator from SURVEY.md §2 (plus the training-data-pipeline
extensions: dedup, similarity search, text analysis) is exercised by at
least one named query here. Each query is a callable
``(spark, sf_dir) -> DataFrame`` and, when SQL-expressible, has a
DuckDB oracle string with IDENTICAL output column names (the driver's
compare sorts columns by name before hashing values).

Determinism contract for oracles (cross-engine exactness):
  * money/doubles aggregate through DECIMAL (exact) then cast to double;
  * timestamps serialize to strings (date_format/strftime) so dtype and
    timezone handling can't diverge;
  * hashing uses md5 (identical hex in Spark and DuckDB);
  * ranking ties always broken by a unique id column.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: Optional[str] = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query (and its DuckDB oracle SQL when expressible)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every workload module, registering its queries. Catalog
    order is not decided here: ``__spark_entry__.queries()`` orders by
    staleness of the last oracle match, then name, and bench.py
    iterates its own HEADLINE."""
    from . import aggregates  # noqa: F401
    from . import dedup  # noqa: F401
    from . import relational  # noqa: F401
    from . import relational2  # noqa: F401
    from . import relational3  # noqa: F401
    from . import similarity  # noqa: F401
    from . import streaming_compat  # noqa: F401
    from . import text  # noqa: F401
