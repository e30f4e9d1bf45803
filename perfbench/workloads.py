"""The benchmark's workloads.  Each is a closed loop with one client:
the next operation starts when the previous one has finished.

* ``QueryWorkload`` — a pass runs every query of the workload once, in
  a seeded order.  An operation is one query: the registry call that
  constructs the DataFrame plus a ``noop``-sink action that executes it
  in full without shipping rows to Python (a checked operation collects
  its rows instead).
* ``IngestWorkload`` — a cycle runs the i3cols ETL path once: bulk
  import (npy → partitioned zstd parquet), read-back aggregate, export
  of one run back to npy, and appends to a growing npy directory, each
  drained by an ``availableNow`` stream into a parquet sink.

Each operation returns an ``Op`` record; checks happen outside the
timed region and failures never abort the loop.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

import datagen
from checks import OracleCache, value_hash

#: Workload → query names (the i3cols query surface vs the LLM-data
#: pipeline).  See README.md for why each list is what it is, and why
#: q_join_multiway_star, q_physics_pulse_summary, q_udaf_grouped and
#: q_stream_session are left out of ``analytics``.
ANALYTICS = (
    "q_filter_compound", "q_join_sortmerge", "q_agg_groupby",
    "q_window_topk_pergroup", "q_intersect", "q_array_hof", "q_array_explode",
    "q_agg_histogram", "q_source_npy_scan", "q_stream_tumbling",
)
DEDUP = (
    "q_dedup_exact", "q_dedup_near_minhash", "q_dedup_ngram_jaccard",
    "q_dedup_simhash_verified", "q_dedup_minhash_lsh_verified", "q_dedup_clusters",
    "q_similarity_knn_cosine", "q_similarity_pairs_threshold", "q_similarity_ann_ivf",
    "q_tfidf_topterms", "q_text_bm25_search", "q_multimodal_features",
)

#: Input sizes per scale: (table sf, documents, embeddings) and
#: (ingest events, runs, append chunk events).
SCALES = {
    "bench": {"sf": 0.01, "docs": 500, "vecs": 500, "events": 100_000, "runs": 8, "chunk": 2_000},
    "tiny": {"sf": 0.001, "docs": 200, "vecs": 200, "events": 10_000, "runs": 4, "chunk": 1_000},
}


@dataclass
class Op:
    name: str
    pass_i: int = 0
    latency_s: float = 0.0
    construct_s: float = 0.0
    ok: bool = True
    error: str = ""
    extra: dict = field(default_factory=dict)


def _fail(op: Op, t0: float, exc: BaseException) -> Op:
    op.latency_s = time.perf_counter() - t0
    op.ok = False
    op.error = f"{type(exc).__name__}: {str(exc).splitlines()[0][:200] if str(exc) else ''}"
    traceback.print_exc()
    return op


class QueryWorkload:
    def __init__(self, name: str, queries: tuple[str, ...], scale: dict, state_dir: str, corrupt: tuple[str, ...] = ()):
        self.name = name
        self.queries = queries
        self.scale = scale
        self.cache = OracleCache(os.path.join(state_dir, "oracle_cache.json"))
        self.corrupt = set(corrupt)
        self.expected: dict[str, str] = {}

    def prepare(self, run_dir: str, seed: int) -> None:
        """Write the seeded inputs and look up every expected hash (the
        oracles run only on a cache miss).  Untimed."""
        from i3cols_spark.operators import ORACLES

        tables = datagen.query_tables(self.scale["sf"], self.scale["docs"], self.scale["vecs"])
        self.data_dir = os.path.join(run_dir, "data")
        datagen.write_query_tables(tables, self.data_dir, seed)
        fp = datagen.fingerprint(tables)
        for q in self.queries:
            h = self.cache.expected(fp, ORACLES[q], self.data_dir, tables)
            self.expected[q] = "corrupted:" + h if q in self.corrupt else h
        self.seed = seed

    def reset(self) -> None:
        """Nothing of the program's lives outside the run state dirs."""

    def pass_ops(self, pass_i: int) -> list[str]:
        order = list(self.queries)
        random.Random(self.seed * 7919 + pass_i).shuffle(order)
        return order

    def run_op(self, spark, name: str, verify: bool, tracer=None) -> Op:
        from i3cols_spark.operators import QUERIES

        op = Op(name)
        t0 = time.perf_counter()
        try:
            with _span(tracer, "construct"):
                df = QUERIES[name](spark, self.data_dir)
            t1 = time.perf_counter()
            # A checked operation collects its rows as the action (the
            # hash is computed untimed); otherwise a noop sink executes
            # the plan in full without shipping rows to Python.
            with _span(tracer, "action"):
                if verify:
                    rows = df.collect()
                else:
                    df.write.mode("overwrite").format("noop").save()
            t2 = time.perf_counter()
        except Exception as exc:  # a failing query is counted, never fatal
            return _fail(op, t0, exc)
        op.construct_s, op.latency_s = t1 - t0, t2 - t0
        if verify:
            try:
                got = value_hash(df.columns, [tuple(r) for r in rows])
            except Exception as exc:
                return _fail(op, t0, exc)
            if got != self.expected[name]:
                op.ok = False
                op.error = f"hash {got} != expected {self.expected[name]}"
        return op

    def summary(self, ops: list[Op]) -> dict:
        """Completed queries per second of query time (printed)."""
        lat = [o.latency_s for o in ops if o.ok]
        return {"qps": (len(lat) / sum(lat) if lat else 0.0, len(lat), "queries/s")}


class IngestWorkload:
    OPS = ("import", "readback", "export", "append")

    def __init__(self, scale: dict, corrupt: tuple[str, ...] = ()):
        self.name = "ingest"
        self.scale = scale
        self.corrupt = set(corrupt)

    def prepare(self, run_dir: str, seed: int) -> None:
        s = self.scale
        self.root = run_dir
        self.cols = datagen.ragged_events(seed, s["events"], s["runs"])
        self.src = os.path.join(run_dir, "ingest_src")
        datagen.write_npy_dir(self.cols, self.src)
        self.src_bytes = datagen.npy_bytes(self.src)
        self.grow_cols = datagen.ragged_events(seed + 1, 16 * s["chunk"], 1)
        self.grow_blocks = 1
        runs, first = np.unique(self.cols["run"], return_index=True)
        self.export_run = int(runs[len(runs) // 2])
        a = int(first[len(runs) // 2])
        self.export_rows = (a, a + int(np.sum(self.cols["run"] == self.export_run)))
        per_run = {}
        charge = self.cols["pulses"]["charge"].astype(np.float64)
        idx = self.cols["pulses_index"]
        for r in runs:
            m = self.cols["run"] == r
            lo, hi = int(idx["start"][m][0]), int(idx["stop"][m][-1])
            per_run[int(r)] = (hi - lo, float(charge[lo:hi].sum()))
        if "readback" in self.corrupt:
            r0 = next(iter(per_run))
            per_run[r0] = (per_run[r0][0] + 1, per_run[r0][1])
        self.expected_runs = per_run
        self.seed = seed

    def reset(self) -> None:
        """Fresh output dirs (the write-once state of one set-up); the
        tailed directory starts with one chunk, so the stream can infer
        its schema and the first drain reads two chunks."""
        for d in ("ingest_out", "ingest_export", "ingest_grow", "ingest_sink", "ingest_ckpt"):
            shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)
        self.appended = 0
        self._append_rows(self.scale["chunk"])

    def pass_ops(self, pass_i: int) -> list[str]:
        return list(self.OPS)

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def run_op(self, spark, name: str, verify: bool, tracer=None) -> Op:
        op = Op(name)
        t0 = time.perf_counter()
        try:
            getattr(self, "_" + name)(spark, op, t0, verify, tracer)
        except Exception as exc:
            return _fail(op, t0, exc)
        return op

    # -- operations ---------------------------------------------------
    def _import(self, spark, op, t0, verify, tracer):
        from i3cols_spark.sources.ingest import write_columns
        from i3cols_spark.sources.npy_cols import read_npy_columns

        out = self._path("ingest_out")
        with _span(tracer, "construct"):
            df = read_npy_columns(spark, self.src, partitions=spark.sparkContext.defaultParallelism)
        op.construct_s = time.perf_counter() - t0
        with _span(tracer, "action"):
            write_columns(df, out, partition_by=("run",), compression="zstd", mode="overwrite")
        op.latency_s = time.perf_counter() - t0
        op.extra["events"] = len(self.cols["run"])
        op.extra["stored_bytes"] = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(out) for f in files if f.endswith(".parquet")
        )
        if verify:
            with _span(tracer, "verify"):
                n = spark.read.parquet(out).count()
            if n != len(self.cols["run"]):
                op.ok, op.error = False, f"imported {n} rows, expected {len(self.cols['run'])}"

    def _readback(self, spark, op, t0, verify, tracer):
        from pyspark.sql import functions as F

        from i3cols_spark.sources.ingest import read_columns

        with _span(tracer, "construct"):
            df = (
                read_columns(spark, self._path("ingest_out"), keys=["run", "pulses"])
                .select("run", F.explode("pulses.charge").alias("charge"))
                .groupBy("run")
                .agg(F.count("*").alias("n"), F.sum("charge").alias("q"))
            )
        op.construct_s = time.perf_counter() - t0
        with _span(tracer, "action"):
            rows = df.collect()
        op.latency_s = time.perf_counter() - t0
        if verify:
            got = {int(r["run"]): (int(r["n"]), float(r["q"])) for r in rows}
            exp = self.expected_runs
            bad = [
                r for r in exp
                if r not in got or got[r][0] != exp[r][0]
                or not np.isclose(got[r][1], exp[r][1], rtol=1e-9, atol=0)
            ]
            if bad or set(got) != set(exp):
                op.ok, op.error = False, f"per-run pulse count/charge mismatch in runs {bad or sorted(set(got) ^ set(exp))}"

    def _export(self, spark, op, t0, verify, tracer):
        from pyspark.sql import functions as F

        from i3cols_spark.sources.ingest import read_columns
        from i3cols_spark.sources.npy_cols import write_npy_columns

        out = self._path("ingest_export")
        with _span(tracer, "construct"):
            df = (
                read_columns(spark, self._path("ingest_out"))
                .where(F.col("run") == self.export_run)
                .orderBy("event_id")
            )
        op.construct_s = time.perf_counter() - t0
        with _span(tracer, "action"):
            write_npy_columns(df, out, overwrite=True)
        op.latency_s = time.perf_counter() - t0
        a, b = self.export_rows
        op.extra["events"] = b - a
        if verify:
            with _span(tracer, "verify"):
                err = self._check_export(out, a, b)
            if err:
                op.ok, op.error = False, err

    def _check_export(self, out: str, a: int, b: int) -> str:
        src = datagen.slice_events(self.cols, a, b)
        load = lambda k, f="data.npy": np.load(os.path.join(out, k, f))  # noqa: E731
        if not np.array_equal(load("event_id"), np.arange(a, b)):
            return "exported event_id differs from the source slice"
        if not np.array_equal(load("energy"), src["energy"]):
            return "exported energy differs from the source slice"
        hdr = load("header")
        for f in datagen.HEADER_T.names:
            if not np.array_equal(hdr[f].astype(np.int64), src["header"][f].astype(np.int64)):
                return f"exported header.{f} differs from the source slice"
        pulses, index = load("pulses"), load("pulses", "index.npy")
        if not np.array_equal(index["stop"] - index["start"], src["pulses_index"]["stop"] - src["pulses_index"]["start"]):
            return "exported pulse counts differ from the source slice"
        for f in datagen.PULSE_T.names:
            if not np.array_equal(pulses[f].astype(np.float64), src["pulses"][f].astype(np.float64)):
                return f"exported pulses.{f} differs from the source slice"
        if "export" in self.corrupt:
            return "export check corrupted on purpose"
        return ""

    def _append(self, spark, op, t0, verify, tracer):
        from i3cols_spark.sources.npy_cols import stream_npy_columns

        # Writing the chunk is the benchmark's part and untimed: latency
        # runs from the chunk's files being in place to its rows being
        # committed in the sink.
        self._append_rows(self.scale["chunk"])
        t0 = time.perf_counter()
        with _span(tracer, "construct"):
            df = stream_npy_columns(spark, self._path("ingest_grow"), partitions=spark.sparkContext.defaultParallelism)
        op.construct_s = time.perf_counter() - t0
        with _span(tracer, "action"):
            progress = self._drain(df)
        op.latency_s = time.perf_counter() - t0
        op.extra["batches"] = [
            (p["durationMs"].get("triggerExecution", 0) / 1e3, p["numInputRows"])
            for p in progress if p["numInputRows"]
        ]
        if verify:
            with _span(tracer, "verify"):
                n = spark.read.parquet(self._path("ingest_sink")).count()
            expect = self.appended + (1 if "append" in self.corrupt else 0)
            if n != expect:
                op.ok, op.error = False, f"sink holds {n} rows after appending {expect}"

    def _append_rows(self, n: int) -> None:
        """Grow the tailed directory by ``n`` events (write-new-then-rename)."""
        self.appended += n
        while self.appended > len(self.grow_cols["run"]):  # long runs: draw another block
            block = datagen.ragged_events(self.seed + 1 + self.grow_blocks, 16 * self.scale["chunk"], 1)
            self.grow_cols = datagen.concat_events(self.grow_cols, block)
            self.grow_blocks += 1
        datagen.write_npy_dir(datagen.slice_events(self.grow_cols, 0, self.appended), self._path("ingest_grow"))

    def _drain(self, df) -> list[dict]:
        q = (
            df.writeStream.format("parquet")
            .option("path", self._path("ingest_sink"))
            .option("checkpointLocation", self._path("ingest_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return list(q.recentProgress)

    # -- traced-run probes (per-layer, outside the end-to-end loop) ----
    def probe_layers(self, spark, tracer) -> None:
        from i3cols_spark.sources.ingest import write_columns
        from i3cols_spark.sources.npy_cols import read_npy_columns

        with tracer.span("probe.npy_scan"):
            read_npy_columns(spark, self.src).write.mode("overwrite").format("noop").save()
        df = read_npy_columns(spark, self.src).cache()
        df.count()
        with tracer.span("probe.parquet_write"):
            write_columns(df, self._path("ingest_probe"), partition_by=("run",), mode="overwrite")
        df.unpersist()

    def summary(self, ops: list[Op]) -> dict:
        """The ingest-only end-to-end figures (printed, see README)."""
        def med(name, fn):
            vals = [fn(o) for o in ops if o.name == name and o.ok]
            return (float(np.median(vals)), len(vals)) if vals else (0.0, 0)

        return {
            "import_events_per_s": (*med("import", lambda o: o.extra["events"] / o.latency_s), "events/s"),
            "export_events_per_s": (*med("export", lambda o: o.extra["events"] / o.latency_s), "events/s"),
            "tail_latency_p50_s": (*med("append", lambda o: o.latency_s), "s"),
            "stored_bytes_ratio": (*med("import", lambda o: o.extra["stored_bytes"] / self.src_bytes), "ratio"),
        }


def _span(tracer, name: str):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()
