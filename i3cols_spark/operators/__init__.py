"""Operator registry — importing this package registers every query
from SURVEY §2.3 into ``QUERIES`` / ``ORACLES``."""

from i3cols_spark.operators.registry import (
    CONTRACT_QUERIES,
    ORACLES,
    QUERIES,
    query,
    surface_order,
)

# Import order == SURVEY §2.3 section order; each import registers.
from i3cols_spark.operators import scans  # noqa: E402,F401  (§A)
from i3cols_spark.operators import joins  # noqa: E402,F401  (§B)
from i3cols_spark.operators import aggregates  # noqa: E402,F401  (§C)
from i3cols_spark.operators import windows  # noqa: E402,F401  (§C)
from i3cols_spark.operators import setops  # noqa: E402,F401  (§C)
from i3cols_spark.operators import nested  # noqa: E402,F401  (§D)
from i3cols_spark.operators import scalar_funcs  # noqa: E402,F401  (§D)
from i3cols_spark.operators import dedup  # noqa: E402,F401  (§E)
from i3cols_spark.operators import textops  # noqa: E402,F401  (§E)
from i3cols_spark.operators import similarity  # noqa: E402,F401  (§E)
from i3cols_spark.operators import stream_batch  # noqa: E402,F401  (§E)
from i3cols_spark.operators import multimodal_ops  # noqa: E402,F401  (§E)
from i3cols_spark.operators import physics  # noqa: E402,F401  (§2.2 completions)
from i3cols_spark.operators import stats  # noqa: E402,F401  (§2.2 completions + sampling)
from i3cols_spark.operators import graph  # noqa: E402,F401  (§E dedup clustering)
from i3cols_spark.operators import pipeline  # noqa: E402,F401  (§E training-data pipeline)
from i3cols_spark.operators import timeseries  # noqa: E402,F401  (§E time-series analytics)
from i3cols_spark.operators import layout  # noqa: E402,F401  (§E data layout)
from i3cols_spark.operators import quality  # noqa: E402,F401  (§E data quality + sources)
from i3cols_spark.operators import sql_surface  # noqa: E402,F401  (SQL entry path)

__all__ = [
    "CONTRACT_QUERIES",
    "ORACLES",
    "QUERIES",
    "query",
    "surface_order",
]
