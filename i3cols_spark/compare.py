"""Local differential harness — predicts the driver's oracle gate.

The driver compares every ``queries()[name]`` against
``oracle_sql()[name]`` via DuckDB: row count + schema +
order-insensitive value hash (SURVEY §5.2).  This module reproduces
that check locally (and more strictly: exact value equality after
canonicalization), so pytest failures here predict driver-gate
failures before a round ends.
"""

from __future__ import annotations

import datetime as _dt
import math

import duckdb
import numpy as np
from pyspark.sql import DataFrame, SparkSession

from i3cols_spark.sources.tables import TABLES


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Fresh DuckDB with the driver's pre-registered table views."""
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    return con


def _canon_value(v):
    """Canonicalize one cell so Spark and DuckDB results compare equal."""
    if v is None:
        return None
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr() round-trips doubles exactly; bit-identical values → equal strings.
        return repr(v)
    if isinstance(v, np.bool_):
        return bool(v)
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon_value(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return v


def _canon_rows(columns: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = [tuple(_canon_value(r[i]) for i in order) for r in rows]
    return sorted(canon, key=repr)


def assert_driver_sortable(columns: list[str], rows: list[tuple], name: str) -> None:
    """Replicate the driver's canonicalizer failure mode.

    The driver canonicalizes results by loading them into a pandas
    DataFrame and ``sort_values`` over every column; unhashable cells
    (numpy arrays from ArrayType/MapType output columns) crash pandas'
    lexsort and the query is recorded as FAIL even when values match.
    Running the same sort here makes the
    local gate predict that crash.
    """
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=columns)
    try:
        pdf.sort_values(by=sorted(columns))
    except TypeError as e:
        raise AssertionError(
            f"{name}: driver canonicalizer would crash on pandas sort "
            f"(complex-typed output column?): {e}"
        ) from e


def compare_query(
    spark_df: DataFrame, oracle: str, sf_dir: str, name: str = "?"
) -> None:
    """Assert Spark result ≡ DuckDB oracle result (driver-gate semantics)."""
    s_rows = [tuple(r) for r in spark_df.collect()]
    s_cols = spark_df.columns
    con = duckdb_connect(sf_dir)
    try:
        res = con.execute(oracle)
        d_cols = [d[0] for d in res.description]
        d_rows = res.fetchall()
    finally:
        con.close()

    assert_driver_sortable(s_cols, s_rows, name)
    assert_driver_sortable(d_cols, d_rows, name)
    assert sorted(s_cols) == sorted(d_cols), (
        f"{name}: column mismatch spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
    )
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count mismatch spark={len(s_rows)} duckdb={len(d_rows)}"
    )
    sc = _canon_rows(s_cols, s_rows)
    dc = _canon_rows(d_cols, d_rows)
    for i, (a, b) in enumerate(zip(sc, dc)):
        assert a == b, f"{name}: first differing row #{i}:\n  spark={a}\n  duck ={b}"


def run_all(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict:
    """Run every registered query against its oracle; return pass/fail map."""
    from i3cols_spark.operators import ORACLES, QUERIES

    results: dict[str, str] = {}
    for name, fn in QUERIES.items():
        if names and name not in names:
            continue
        try:
            df = fn(spark, sf_dir)
            if name in ORACLES:
                compare_query(df, ORACLES[name], sf_dir, name)
                results[name] = "ok"
            else:
                rows = [tuple(r) for r in df.collect()]
                assert_driver_sortable(df.columns, rows, name)
                results[name] = f"rows-only:{len(rows)}"
        except AssertionError as e:
            results[name] = f"MISMATCH: {e}"
        except Exception as e:  # noqa: BLE001
            results[name] = f"ERROR: {type(e).__name__}: {e}"
    return results
