"""Seeded input generation for the benchmark.

Two kinds of input:

* ``query_tables`` — the star schema + ``events``/``documents``/
  ``embeddings`` fixtures the query registry reads (one parquet file per
  table, same names, dtypes and value shapes as the repository's test
  fixtures).  The CONTENT comes from a fixed seed, so every DuckDB
  oracle result is the same for every benchmark seed; the benchmark
  seed only permutes the row order of every file.  A permutation must
  not change any query's result, and it changes which rows share a
  split, the order rows reach a hash table and the order floating-point
  sums accumulate.
* ``ragged_events`` — an i3cols-shaped dataset in the reference's
  column-dir layout (``<key>/data.npy`` + ``index.npy`` for ragged keys)
  for the ingest workload: a ``header`` struct, a scalar ``energy``, a
  ``run`` label and a ragged ``pulses`` struct series with
  Poisson-distributed lengths.  Content and order both come from the
  benchmark seed.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Seed of the query-table CONTENT (fixed: oracle results must not
#: depend on the benchmark seed).
CONTENT_SEED = 42

#: Rows per unit scale factor, as in the TPC-H-shaped fixtures.
_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "events": 1_000_000,
}
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _days(rng, start: str, stop: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(stop, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _documents(rng, n: int) -> pa.Table:
    """Word-soup documents; ~5% are near duplicates of an earlier
    document (one marker word inserted) and ~1% exact duplicates."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i >= 10 and r < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
            texts.append(" ".join(words))
        elif i >= 10 and r < 0.06:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(_VOCAB, k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n).tolist(), pa.string()),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.standard_normal((n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def query_tables(sf: float, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """Canonical (unpermuted) fixture tables at scale factor ``sf``."""
    rng = np.random.default_rng(CONTENT_SEED)
    n = {k: max(1, int(v * sf)) for k, v in _PER_SF.items()}
    n_lines = 4 * n["orders"]
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    strs = lambda a: pa.array(list(a), pa.string())  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": strs(_REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": strs(f"NATION_{i}" for i in range(25)),
        "n_regionkey": i32(np.arange(25) % 5),
    })
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": i64(range(c)),
        "c_name": strs(f"Customer#{i:09d}" for i in range(c)),
        "c_nationkey": i32(rng.integers(0, 25, c)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c)),
        "c_mktsegment": strs(rng.choice(_SEGMENTS, c)),
    })
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": i64(range(s)),
        "s_name": strs(f"Supplier#{i:09d}" for i in range(s)),
        "s_nationkey": i32(rng.integers(0, 25, s)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s)),
    })
    p = n["part"]
    t["part"] = pa.table({
        "p_partkey": i64(range(p)),
        "p_name": strs(f"{a} {b}" for a, b in zip(rng.choice(_ADJ, p), rng.choice(_NOUN, p))),
        "p_brand": strs(f"Brand#{j}" for j in rng.integers(1, 26, p)),
        "p_type": strs(rng.choice(_PART_TYPES, p)),
        "p_size": i32(rng.integers(1, 51, p)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2)),
    })
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": i64(range(o)),
        "o_custkey": i64(rng.integers(0, c, o)),
        "o_orderstatus": strs(rng.choice(["F", "O", "P"], o)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, o)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", o)),
        "o_orderpriority": strs(rng.choice(_PRIORITIES, o)),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, o, n_lines)),
        "l_partkey": i64(rng.integers(0, p, n_lines)),
        "l_suppkey": i64(rng.integers(0, s, n_lines)),
        "l_linenumber": i32(rng.integers(1, 8, n_lines)),
        "l_quantity": pa.array(rng.integers(1, 51, n_lines).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_lines)),
        "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
        "l_returnflag": strs(rng.choice(["A", "N", "R"], n_lines)),
        "l_linestatus": strs(rng.choice(["F", "O"], n_lines)),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_lines)),
    })
    e = n["events"]
    # ~30 days of events with exponential gaps, µs precision, sorted.
    gaps = rng.exponential(30 * 86_400e6 / e, e)
    start = np.datetime64(dt.datetime(2024, 1, 1), "us").astype(np.int64)
    value = np.maximum(np.round(rng.exponential(50.0, e), 2), 0.01)
    t["events"] = pa.table({
        "event_id": i64(range(e)),
        "ts": pa.array((start + np.cumsum(gaps).astype(np.int64)).astype("datetime64[us]")),
        "user_id": i64(rng.integers(0, max(1, e * 3 // 200), e)),
        "event_type": strs(rng.choice(_EVENT_TYPES, e)),
        "value": pa.array(value),
        "props": strs(f'{{"k": {k}}}' for k in rng.integers(0, 100, e)),
    })
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vecs)
    return t


def fingerprint(tables: dict[str, pa.Table]) -> str:
    """Content hash of the canonical tables (row order is excluded by
    construction: permutation happens only when writing)."""
    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()[:16]


def write_query_tables(tables: dict[str, pa.Table], out_dir: str, seed: int) -> None:
    """Write each table as ``<out_dir>/<name>.parquet`` with its rows in
    a ``seed``-determined order."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name, tbl in tables.items():
        perm = rng.permutation(tbl.num_rows)
        pq.write_table(tbl.take(pa.array(perm)), os.path.join(out_dir, f"{name}.parquet"))


#: npy dtypes of the ragged dataset (the i3cols reference's I3EVENTHEADER_T
#: and PULSE_T shapes, trimmed to numeric fields).
HEADER_T = np.dtype([
    ("run_id", "<u4"), ("sub_run_id", "<u4"), ("event_id", "<u4"),
    ("sub_event_id", "<u4"), ("start_time", "<u8"), ("end_time", "<u8"),
])
PULSE_T = np.dtype([("time", "<f4"), ("charge", "<f4"), ("width", "<f4"), ("flags", "<u2")])
INDEX_T = np.dtype([("start", "<u8"), ("stop", "<u8")])


def ragged_events(seed: int, n_events: int, n_runs: int, mean_pulses: float = 20.0) -> dict[str, np.ndarray]:
    """Column arrays of an i3cols-shaped event dataset.  Events are in
    run order (runs are contiguous blocks, as i3cols' per-run files
    concatenate), each run holding a seeded share of the events."""
    rng = np.random.default_rng(seed)
    run = np.sort(rng.integers(0, n_runs, n_events)).astype(np.int64) + 100
    counts = rng.poisson(mean_pulses, n_events).astype(np.uint64)
    stops = np.cumsum(counts)
    index = np.empty(n_events, INDEX_T)
    index["start"], index["stop"] = stops - counts, stops
    n_pulses = int(stops[-1]) if n_events else 0
    pulses = np.empty(n_pulses, PULSE_T)
    pulses["time"] = rng.uniform(0.0, 10_000.0, n_pulses)
    pulses["charge"] = np.round(rng.exponential(1.0, n_pulses), 3)
    pulses["width"] = rng.choice(np.array([1.0, 3.0, 8.0], np.float32), n_pulses)
    pulses["flags"] = rng.integers(0, 8, n_pulses)
    header = np.zeros(n_events, HEADER_T)
    header["run_id"] = run
    header["event_id"] = np.arange(n_events)
    header["start_time"] = np.cumsum(rng.integers(1, 1_000_000, n_events))
    header["end_time"] = header["start_time"] + 10_000
    energy = rng.lognormal(3.0, 1.0, n_events)
    return {"header": header, "energy": energy, "run": run, "pulses": pulses, "pulses_index": index}


def slice_events(cols: dict[str, np.ndarray], a: int, b: int) -> dict[str, np.ndarray]:
    """Rows ``[a, b)`` of a ``ragged_events`` dict, index re-based to 0."""
    idx = cols["pulses_index"][a:b].copy()
    lo = int(idx["start"][0]) if len(idx) else 0
    hi = int(idx["stop"][-1]) if len(idx) else 0
    idx["start"] -= lo
    idx["stop"] -= lo
    return {
        "header": cols["header"][a:b], "energy": cols["energy"][a:b],
        "run": cols["run"][a:b], "pulses": cols["pulses"][lo:hi], "pulses_index": idx,
    }


def concat_events(a: dict[str, np.ndarray], b: dict[str, np.ndarray]) -> dict[str, np.ndarray]:
    """``a`` followed by ``b`` (``b``'s pulse index shifted past ``a``'s pulses)."""
    idx = b["pulses_index"].copy()
    idx["start"] += len(a["pulses"])
    idx["stop"] += len(a["pulses"])
    out = {k: np.concatenate([a[k], b[k]]) for k in ("header", "energy", "run", "pulses")}
    out["pulses_index"] = np.concatenate([a["pulses_index"], idx])
    return out


def _save_atomic(path: str, arr: np.ndarray) -> None:
    tmp = path + ".tmp.npy"
    np.save(tmp, arr)
    os.replace(tmp, path)


def write_npy_dir(cols: dict[str, np.ndarray], path: str) -> None:
    """Write (or replace) a column-dir dataset.  Every file lands by
    write-new-then-rename, ragged data before its index, so a reader
    tailing the directory never sees a misaligned prefix."""
    for key in ("header", "energy", "run"):
        os.makedirs(os.path.join(path, key), exist_ok=True)
        _save_atomic(os.path.join(path, key, "data.npy"), cols[key])
    os.makedirs(os.path.join(path, "pulses"), exist_ok=True)
    _save_atomic(os.path.join(path, "pulses", "data.npy"), cols["pulses"])
    _save_atomic(os.path.join(path, "pulses", "index.npy"), cols["pulses_index"])


def npy_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".npy")
    )
