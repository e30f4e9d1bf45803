"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

Implementation lives in the ``i3cols_spark`` package (SURVEY.md §2.3
inventory); this module is a thin adapter.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from i3cols_spark.operators import ORACLES, QUERIES, surface_order  # noqa: E402
from i3cols_spark.session import configure  # noqa: E402

_SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H-Q5-shaped star join) on sf0.001."""
    configure(spark)
    return QUERIES["q_join_multiway_star"](spark, _SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per registered query: the 60 SURVEY.md §2.3 contract
    queries in §-order, then every other registered name in
    registration order (``registry.surface_order()``)."""
    return {name: QUERIES[name] for name in surface_order()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omissions → rows-only)."""
    order = surface_order()
    return {name: ORACLES[name] for name in order if name in ORACLES}
