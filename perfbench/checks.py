"""Output checks: an order-insensitive value hash of a query result and
a cache of the expected hashes its DuckDB oracle gives.

The hash canonicalizes each cell (numpy scalars to Python, doubles by
``repr``, datetimes by ISO text, nested values recursively), orders the
columns by name and the rows by their text, so Spark and DuckDB results
that hold the same values hash equal whatever their order.

This repeats ``i3cols_spark.compare``'s canonicalization and DuckDB view
set-up on purpose: the benchmark's checks must not import the code they
check, so a change to the program's own comparison helpers cannot make
a wrong result pass here.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os

import numpy as np


def _canon(v):
    if v is None:
        return None
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if hasattr(v, "asDict"):  # pyspark Row inside a cell
        return _canon(v.asDict(recursive=False))
    return v


def value_hash(columns: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted((repr(tuple(_canon(r[i]) for i in order)) for r in rows))
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for line in canon:
        h.update(line.encode())
    return f"{len(rows)}:{h.hexdigest()[:16]}"


class OracleCache:
    """Expected hashes keyed by (dataset fingerprint, oracle SQL text),
    kept in a JSON file so the slow oracles run once per dataset."""

    def __init__(self, path: str):
        self.path = path
        try:
            with open(path) as fh:
                self.entries: dict[str, str] = json.load(fh)
        except (FileNotFoundError, ValueError):
            self.entries = {}

    @staticmethod
    def key(fingerprint: str, sql: str) -> str:
        return hashlib.sha256(f"{fingerprint}\0{sql}".encode()).hexdigest()[:24]

    def expected(self, fingerprint: str, sql: str, data_dir: str, tables) -> str:
        k = self.key(fingerprint, sql)
        if k not in self.entries:
            import duckdb

            con = duckdb.connect()
            try:
                for name in tables:
                    con.execute(
                        f"CREATE VIEW {name} AS SELECT * FROM '{data_dir}/{name}.parquet'"
                    )
                res = con.execute(sql)
                cols = [d[0] for d in res.description]
                self.entries[k] = value_hash(cols, res.fetchall())
            finally:
                con.close()
            self._save()
        return self.entries[k]

    def _save(self) -> None:
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = f"{self.path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump(self.entries, fh, indent=0, sort_keys=True)
        os.replace(tmp, self.path)
