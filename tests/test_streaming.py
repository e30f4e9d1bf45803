"""Streaming ≡ batch equivalence (SURVEY §5.2.3): each Structured
Streaming job run with the availableNow trigger over the static events
parquet must equal its operators.stream_batch twin."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from i3cols_spark.operators import QUERIES
from i3cols_spark.streaming import jobs


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "stream_fn,batch_name",
    [
        (jobs.stream_tumbling_counts, "q_stream_tumbling"),
        (jobs.stream_ohlc_bars, "q_ts_ohlc"),
        (jobs.stream_media_fingerprints, "q_multimodal_audio_fingerprint"),
        (jobs.stream_point_in_time_features, "q_join_point_in_time"),
        (jobs.stream_sliding_counts, "q_stream_sliding"),
        (jobs.stream_session_windows, "q_stream_session"),
        (jobs.stream_view_purchase_join, "q_stream_join"),
    ],
)
def test_stream_equals_batch(spark, sf_dir, stream_fn, batch_name):
    sdf = stream_fn(spark, sf_dir)
    name = f"mem_{batch_name}"
    jobs.run_to_memory(sdf, name)
    streamed = spark.table(name)
    batch = QUERIES[batch_name](spark, sf_dir)
    assert _rows(streamed) == _rows(batch)


@pytest.fixture(scope="module")
def drifted_sf_dir(sf_dir, tmp_path_factory):
    """A copy of the fixture tables, each with one extra column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from i3cols_spark.sources.tables import TABLES

    out = tmp_path_factory.mktemp("drifted")
    for name in TABLES:
        t = pq.read_table(f"{sf_dir}/{name}.parquet")
        t = t.append_column("extra", pa.array([0] * t.num_rows, pa.int64()))
        pq.write_table(t, str(out / f"{name}.parquet"))
    return str(out)


STREAM_JOBS = sorted(
    name
    for name, fn in vars(jobs).items()
    if name.startswith("stream_") and getattr(fn, "__module__", None) == jobs.__name__
)


@pytest.mark.parametrize("job", STREAM_JOBS)
def test_stream_job_checks_fixture_schema(spark, drifted_sf_dir, job):
    """Every stream source and static snapshot is checked against
    FIXTURE_SCHEMAS: a drifted table raises before any stream starts."""
    from i3cols_spark.sources.tables import SchemaDriftError

    with pytest.raises(SchemaDriftError, match="unexpected column 'extra'"):
        getattr(jobs, job)(spark, drifted_sf_dir)
    assert not spark.streams.active


def test_stream_dedup_within_watermark(spark, sf_dir):
    """Append-mode dedup: one row per (user_id, event_type); with all
    data in one availableNow batch the kept event is the first by
    arrival within the file — check keys, not which id won."""
    sdf = jobs.stream_dedup_within_watermark(spark, sf_dir)
    jobs.run_to_memory(sdf, "mem_dedup")
    streamed = spark.table("mem_dedup")
    batch_keys = _rows(QUERIES["q_stream_dedup"](spark, sf_dir).select("user_id", "event_type"))
    stream_keys = _rows(streamed.select("user_id", "event_type"))
    assert stream_keys == batch_keys
    assert streamed.groupBy("user_id", "event_type").count().filter(F.col("count") > 1).count() == 0


def test_stateful_user_peaks_matches_batch(spark, sf_dir):
    """applyInPandasWithState over availableNow ≡ batch groupBy max/count."""
    sdf = jobs.stream_user_peaks_stateful(spark, sf_dir)
    q = (
        sdf.writeStream.format("memory")
        .queryName("mem_peaks")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update mode may emit once per batch per key; keep the last emission
    from i3cols_spark.sources.tables import table

    streamed = (
        spark.table("mem_peaks")
        .groupBy("user_id")
        .agg(F.max("peak_value").alias("peak_value"), F.max("n_events").alias("n_events"))
    )
    batch = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.max("value").alias("peak_value"), F.count("*").alias("n_events"))
    )
    assert _rows(streamed) == _rows(batch)


def test_rollup_maintenance_equals_batch(spark, sf_dir, tmp_path):
    """foreachBatch upsert rollup: after availableNow drains the
    source, the window-partitioned parquet equals the batch tumbling
    aggregate, and partition layout is by window start."""
    out = str(tmp_path / "rollup")
    jobs.run_rollup_maintenance(spark, sf_dir, out)
    rolled = spark.read.parquet(out).select(
        "window_start_us", "event_type", "n_events", "total_value"
    )
    batch = QUERIES["q_stream_tumbling"](spark, sf_dir)
    assert _rows(rolled) == _rows(batch)
    # partition pruning works: one window's read touches one partition dir
    one = rolled.limit(1).collect()[0]
    pruned = spark.read.parquet(out).filter(
        F.col("window_start_us") == one.window_start_us
    )
    assert pruned.count() >= 1


def test_stream_contamination_matches_batch_flags(spark, sf_dir):
    """The streaming decontamination probe's distinct contaminated
    doc set must equal the batch q_text_contamination flagged set,
    and every emitted hit must land on a benchmark shingle."""
    sdf = jobs.stream_contaminated_hits(spark, sf_dir)
    jobs.run_to_memory(sdf, "mem_contam")
    streamed = spark.table("mem_contam")
    stream_docs = {r["doc_id"] for r in streamed.select("doc_id").distinct().collect()}
    batch_flagged = {
        r["doc_id"]
        for r in QUERIES["q_text_contamination"](spark, sf_dir)
        .filter(F.col("flagged"))
        .collect()
    }
    assert stream_docs == batch_flagged
    assert streamed.count() >= len(stream_docs)


def test_funnel_stage0_users(spark):
    """A user whose events are ALL non-funnel types must still be
    counted at funnel_stage 0 — this is why q_funnel_conversion guards
    event types INSIDE collect_list instead of pre-filtering the scan
    (a pre-filter silently drops such users from the denominator)."""
    import datetime

    from i3cols_spark.operators.stream_batch import funnel_stages

    t0 = datetime.datetime(2025, 1, 1)
    rows = [
        # u1: full funnel within the window
        (1, t0, 101, "view"),
        (1, t0 + datetime.timedelta(hours=1), 102, "click"),
        (1, t0 + datetime.timedelta(hours=2), 103, "purchase"),
        # u2: only non-funnel events -> stage 0, must NOT disappear
        (2, t0, 201, "error"),
        (2, t0 + datetime.timedelta(hours=1), 202, "signup"),
        # u3: view then click outside the 24 h window -> stage 1
        (3, t0, 301, "view"),
        (3, t0 + datetime.timedelta(hours=30), 302, "click"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    out = {r["funnel_stage"]: r["n_users"] for r in funnel_stages(ev).collect()}
    assert out == {3: 1, 0: 1, 1: 1}


def test_stream_anomaly_screen_matches_batch(spark, sf_dir):
    """The stream-static anomaly screen must flag exactly the rows the
    batch q_anomaly_zscore flags, with identical z-scores (the static
    stats side makes the screen arrival-order-independent)."""
    sdf = jobs.stream_anomaly_screen(spark, sf_dir)
    jobs.run_to_memory(sdf, "mem_anomaly")
    streamed = {
        (r["event_id"], r["z"])
        for r in spark.table("mem_anomaly").collect()
    }
    batch = {
        (r["event_id"], r["z"])
        for r in QUERIES["q_anomaly_zscore"](spark, sf_dir).collect()
    }
    assert streamed == batch and len(batch) > 0


# ------------------------------------ multi-micro-batch state eviction


def _write_event_file(path, rows, seq=0):
    """One parquet file = one micro-batch under maxFilesPerTrigger=1.
    The file source orders files by MODIFICATION TIME, and same-ms
    writes tie nondeterministically — pin mtime to a strictly
    increasing sequence so batch order is the write order."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "user_id": pa.array([r[0] for r in rows], pa.int64()),
                "event_type": pa.array([r[1] for r in rows], pa.string()),
                "ts": pa.array([r[2] for r in rows], pa.timestamp("us")),
            }
        ),
        str(path),
    )
    t = 1_700_000_000 + seq * 10
    os.utime(path, (t, t))


def _drain_in_file_batches(spark, sdf, name):
    """availableNow + maxFilesPerTrigger=1 drains one file per
    micro-batch; returns the per-batch progress dicts."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive
    return [p for p in (q.recentProgress or []) if p["numInputRows"] > 0]


def test_dedup_state_evicts_across_micro_batches(spark, tmp_path):
    """dropDuplicatesWithinWatermark must GC state as the watermark
    advances ACROSS micro-batches — every prior streaming test drained
    a single availableNow batch, which never exercises eviction.

    Four files → four micro-batches (maxFilesPerTrigger=1).  The
    watermark a batch runs with comes from the PREVIOUS batch's max
    event time, and expired entries are removed at batch END — so
    eviction lags arrival by one batch:
      b0 (00:00h): users 0..9 + an in-batch duplicate of user 0;
      b1 (06:00h): users 10..14 — runs under b0's watermark, so b0
          state still alive (total 15);
      b2 (12:00h): users 15..16 — runs under b1's watermark (~04:10),
          which is past every b0 entry's expiry (event + 2 h): the 10
          b0 rows are REMOVED this batch;
      b3 (18:00h): users 0..4 AGAIN — b0 state is gone, so these are
          re-emitted (the behavioural proof of eviction), while b1's
          5 rows expire under b2's watermark.
    Assertions: per-batch numRowsTotal tracks surviving keys only,
    numRowsRemoved records both evictions, and the sink holds exactly
    10 + 5 + 2 + 5 rows with users 0..4 appearing twice."""
    import datetime as dt

    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 1)
    indir = tmp_path / "evict_dedup"
    indir.mkdir()
    b0 = [(u, "click", base + dt.timedelta(minutes=u)) for u in range(10)]
    b0.append((0, "click", base + dt.timedelta(minutes=5)))  # in-batch dup
    _write_event_file(indir / "b0.parquet", b0, seq=0)
    _write_event_file(
        indir / "b1.parquet",
        [(u, "click", base + dt.timedelta(hours=6, minutes=u)) for u in range(10, 15)],
        seq=1,
    )
    _write_event_file(
        indir / "b2.parquet",
        [(u, "click", base + dt.timedelta(hours=12, minutes=u)) for u in range(15, 17)],
        seq=2,
    )
    _write_event_file(
        indir / "b3.parquet",
        [(u, "click", base + dt.timedelta(hours=18, minutes=u)) for u in range(5)],
        seq=3,
    )

    sdf = (
        spark.readStream.schema("user_id long, event_type string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .format("parquet")
        .load(str(indir))
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    progress = _drain_in_file_batches(spark, sdf, "mem_evict_dedup")
    assert len(progress) == 4, [p["numInputRows"] for p in progress]

    state = [p["stateOperators"][0] for p in progress]
    totals = [s["numRowsTotal"] for s in state]
    removed = [s.get("numRowsRemoved", 0) for s in state]
    # b0: 10 live.  b1: +5, nothing expired yet (lagging watermark).
    # b2: b0's 10 removed, +2 → 7.  b3: b1's 5 removed, +5 → 7.
    assert totals == [10, 15, 7, 7], (totals, removed)
    assert removed == [0, 0, 10, 5], (totals, removed)

    out = spark.table("mem_evict_dedup")
    assert out.count() == 22
    twice = (
        out.groupBy("user_id")
        .count()
        .filter(F.col("count") == 2)
        .select("user_id")
        .collect()
    )
    assert sorted(r["user_id"] for r in twice) == [0, 1, 2, 3, 4]


def test_session_window_state_evicts_and_finalizes_across_batches(spark, tmp_path):
    """Session-window aggregation state must finalize + evict as the
    watermark crosses session ends: sessions from earlier batches are
    EMITTED (append mode) once a later batch advances the watermark,
    and their state rows are removed; the final batch's sessions stay
    open and unemitted when the stream drains."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    indir = tmp_path / "evict_sess"
    indir.mkdir()
    # Two 2-event sessions (users 1, 2) in b0; one session (user 3) in
    # b1 six hours later; one session (user 1 again) in b2.
    _write_event_file(
        indir / "b0.parquet",
        [
            (1, "view", base),
            (1, "view", base + dt.timedelta(minutes=10)),
            (2, "view", base + dt.timedelta(minutes=3)),
        ],
        seq=0,
    )
    _write_event_file(
        indir / "b1.parquet",
        [(3, "view", base + dt.timedelta(hours=6))],
        seq=1,
    )
    _write_event_file(
        indir / "b2.parquet",
        [(1, "view", base + dt.timedelta(hours=12))],
        seq=2,
    )
    _write_event_file(
        indir / "b3.parquet",
        [(4, "view", base + dt.timedelta(hours=18))],
        seq=3,
    )

    from pyspark.sql import functions as F

    sdf = (
        spark.readStream.schema("user_id long, event_type string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .format("parquet")
        .load(str(indir))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id", "n_events", F.col("w.start").alias("session_start"))
    )
    progress = _drain_in_file_batches(spark, sdf, "mem_evict_sess")
    assert len(progress) == 4, [p["numInputRows"] for p in progress]

    state = [p["stateOperators"][0] for p in progress]
    removed = [s.get("numRowsRemoved", 0) for s in state]
    # Watermark lags one batch: b0's two sessions finalize under b1's
    # watermark DURING b2; b1's session finalizes during b3.
    assert sum(removed) >= 3, (removed, state)
    # only b3's still-open session (+ bookkeeping) survives at the end
    finals = [s["numRowsTotal"] for s in state]
    assert finals[-1] < finals[1] + 2, (finals, removed)

    rows = {
        (r["user_id"], r["n_events"])
        for r in spark.table("mem_evict_sess").collect()
    }
    # b0's two sessions finalize under b1's watermark (during b2),
    # b1's and b2's under later watermarks; b3's session is still open
    # when the stream drains → not emitted in append mode.
    assert rows == {(1, 2), (2, 1), (3, 1), (1, 1)}


def test_stream_mad_screen_matches_batch(spark, sf_dir):
    """The stream-static MAD screen must flag exactly the rows the
    batch q_anomaly_mad flags, with identical modified z-scores."""
    sdf = jobs.stream_anomaly_mad_screen(spark, sf_dir)
    jobs.run_to_memory(sdf, "mem_anomaly_mad")
    streamed = {
        (r["event_id"], r["rz"])
        for r in spark.table("mem_anomaly_mad").collect()
    }
    batch = {
        (r["event_id"], r["rz"])
        for r in QUERIES["q_anomaly_mad"](spark, sf_dir).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_stream_countmin_grid_equals_batch(spark, sf_dir):
    """The streaming CMS grid (complete mode, one agg over raw
    increments) must equal the batch grid cell-for-cell — micro-batch
    partials merge by cell-wise addition, the mergeability claim
    q_agg_sketch_countmin's docstring makes for 100 TB."""
    from i3cols_spark.operators.aggregates import _CMS_DEPTH, cms_bucket
    from i3cols_spark.sources.tables import table

    sdf = jobs.stream_countmin_grid(spark, sf_dir)
    jobs.run_to_memory(sdf, "mem_cms_grid")
    streamed = spark.table("mem_cms_grid")
    batch = (
        table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.explode(F.array([F.lit(d) for d in range(_CMS_DEPTH)])).alias("d"),
        )
        .select("d", cms_bucket(F.col("user_id"), F.col("d")).alias("bucket"))
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("bsum"))
    )
    assert _rows(streamed) == _rows(batch)


def test_stream_histogram_grid_equals_batch(spark, sf_dir):
    """The streaming histogram grid (fixed catalog edges, complete
    mode) must equal the batch bin counts cell-for-cell — the
    cell-wise-add mergeability under shared edges that
    test_sketch_merge proves shard-wise, here across micro-batches."""
    from i3cols_spark.operators.aggregates import _HIST_BINS
    from i3cols_spark.sources.tables import table

    sdf = jobs.stream_histogram_grid(spark, sf_dir)
    jobs.run_to_memory(sdf, "mem_hist_grid")
    streamed = spark.table("mem_hist_grid")
    orders = table(spark, sf_dir, "orders")
    mn, mx = orders.agg(F.min("o_totalprice"), F.max("o_totalprice")).first()
    width = (mx - mn) / float(_HIST_BINS)
    batch = (
        orders.select(
            F.least(
                F.lit(_HIST_BINS - 1),
                F.floor((F.col("o_totalprice") - F.lit(mn)) / F.lit(width)),
            )
            .cast("bigint")
            .alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    assert _rows(streamed) == _rows(batch)


def test_stream_dp_counts_equals_batch(spark, sf_dir):
    """The streaming DP release must equal the batch release cell for
    cell at the shared ε — hash-seeded noise is what makes a DP
    mechanism streaming-consistent (an RNG would re-noise every
    micro-batch re-emission and silently multiply the privacy spend)."""
    sdf = jobs.stream_dp_class_counts(spark, sf_dir)
    jobs.run_to_memory(sdf, "mem_dp_counts")
    streamed = {
        (r["nation"], r["segment"], r["true_count"], r["noisy_count"])
        for r in spark.table("mem_dp_counts").collect()
    }
    batch = {
        (r["nation"], r["segment"], r["true_count"], r["noisy_count"])
        for r in QUERIES["q_quality_dp_counts"](spark, sf_dir)
        .filter(F.col("eps_label") == "0.5")
        .collect()
    }
    assert streamed == batch and len(batch) > 0


def test_stream_hll_registers_equals_batch(spark, sf_dir):
    """The streaming HLL register array (complete mode, max per
    bucket) must equal the batch registers bucket-for-bucket — the
    register-wise-MAX mergeability claim executed across micro-batches
    (note the stream skips the batch form's distinct-collapse: max is
    idempotent, duplicates cannot move a register)."""
    from i3cols_spark.operators.aggregates import _HLL_REM_BITS
    from i3cols_spark.sources.tables import table

    sdf = jobs.stream_hll_registers(spark, sf_dir)
    jobs.run_to_memory(sdf, "mem_hll_regs")
    streamed = {
        (r["bucket"], r["m_rank"]) for r in spark.table("mem_hll_regs").collect()
    }
    h32 = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    rank = F.when(F.col("w") == 0, F.lit(_HLL_REM_BITS + 1)).otherwise(
        F.lit(_HLL_REM_BITS) - F.length(F.bin(F.col("w"))) + 1
    )
    batch = (
        table(spark, sf_dir, "events")
        .select(
            F.shiftright(h32, _HLL_REM_BITS).alias("bucket"),
            F.pmod(h32, F.lit(2**_HLL_REM_BITS)).alias("w"),
        )
        .groupBy("bucket")
        .agg(F.max(rank).alias("m_rank"))
    )
    assert streamed == {(r["bucket"], r["m_rank"]) for r in batch.collect()}
    assert len(streamed) > 0


def test_stream_histogram_grid_degenerate_geometry(spark, tmp_path):
    """The static-scan histogram geometry must not divide
    by zero on a constant-valued column (single-bin fallback) and
    must fail loudly, naming the column, on an empty table — both
    BEFORE the stream starts."""
    import pytest

    from i3cols_spark.streaming import jobs

    import pyarrow as pa
    import pyarrow.parquet as pq

    def orders(prices):
        n = len(prices)
        return pa.table({
            "o_orderkey": pa.array(range(1, n + 1), pa.int64()),
            "o_custkey": pa.array([1] * n, pa.int64()),
            "o_orderstatus": pa.array(["O"] * n, pa.string()),
            "o_totalprice": pa.array(prices, pa.float64()),
            "o_orderdate": pa.array([0] * n, pa.timestamp("us")),
            "o_orderpriority": pa.array(["1-URGENT"] * n, pa.string()),
        })

    const_dir = str(tmp_path / "const")
    (tmp_path / "const").mkdir()
    pq.write_table(orders([42.0]), f"{const_dir}/orders.parquet")
    sdf = jobs.stream_histogram_grid(spark, const_dir)
    q = (
        sdf.writeStream.format("memory")
        .queryName("hist_degenerate")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from hist_degenerate").collect()
    assert [(r["bin"], r["cnt"]) for r in rows] == [(0, 1)]

    empty_dir = str(tmp_path / "empty")
    (tmp_path / "empty").mkdir()
    pq.write_table(orders([]), f"{empty_dir}/orders.parquet")
    with pytest.raises(ValueError, match="o_totalprice is empty"):
        jobs.stream_histogram_grid(spark, empty_dir)


def test_batch_histogram_degenerate_constant_column(spark, tmp_path):
    """Batch twin of the geometry guard: a constant-valued price
    column yields bin 0 for every row and the exact value as every
    quantile estimate (width 0 in the ESTIMATE, single-bin fallback
    only in the index)."""
    from i3cols_spark.operators import QUERIES

    import datetime

    from i3cols_spark.operators import QUERIES as _Q  # noqa: F401

    import os

    d = str(tmp_path / "constb")
    os.makedirs(d, exist_ok=True)
    # single FILE, not a Spark part-directory — the DuckDB view below
    # binds '{d}/orders.parquet' exactly like the driver's fixtures
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array(range(10), pa.int64()),
                "o_custkey": pa.array(range(10), pa.int64()),
                "o_orderstatus": pa.array(["O"] * 10),
                "o_totalprice": pa.array([7.5] * 10, pa.float64()),
                "o_orderdate": pa.array(
                    [datetime.datetime(1995, 1, 1)] * 10,
                    pa.timestamp("us"),
                ),
                "o_orderpriority": pa.array(["1-URGENT"] * 10),
            }
        ),
        f"{d}/orders.parquet",
    )
    out = QUERIES["q_agg_sketch_histogram"](spark, d).collect()
    assert len(out) > 0
    for r in out:
        assert r["est_price"] == 7.5, r
        assert r["exact_price"] == 7.5, r
        assert r["rel_err"] == 0.0, r

    # The ORACLE must take the same single-bin fallback —
    # the unguarded SQL divided by zero (NULL bin) on exactly this
    # degenerate fixture, flipping the official row red.  Full
    # cross-engine compare on the degenerate dir pins the parity.
    # (duckdb_connect binds a view per fixture table eagerly, so the
    # untouched tables are symlinked from the real fixture.)
    import os as _os

    from i3cols_spark.compare import compare_query
    from i3cols_spark.operators import ORACLES
    from i3cols_spark.sources.tables import TABLES
    from tests.conftest import SF_DIR

    for t in TABLES:
        if t != "orders":
            _os.symlink(f"{SF_DIR}/{t}.parquet", f"{d}/{t}.parquet")
    compare_query(
        QUERIES["q_agg_sketch_histogram"](spark, d),
        ORACLES["q_agg_sketch_histogram"],
        d,
        "q_agg_sketch_histogram[degenerate]",
    )


def test_watermark_drops_late_rows_across_batches(spark, tmp_path):
    """LATE-DATA SEMANTICS: a row older than the running watermark
    must be DROPPED from a windowed aggregation once its window has
    FINALIZED — the half of the watermark contract the eviction tests
    don't touch (they prove state GC; this proves input filtering).
    The drop guarantee is ONE-SIDED: a late row arriving in the same
    batch that finalizes its window may still merge (observed: it
    does), so the test stages the late row one batch AFTER the window
    was emitted and its state evicted — at that point the row MUST
    drop, because merging would force a duplicate append of a closed
    window.  Append-mode 10-minute tumbling counts, 1-hour watermark,
    five file batches:
      b0 (00:00-00:09): 10 clicks -> window [00:00, 00:10);
      b1 (06:00): advances b2's watermark to 05:00;
      b2 (06:30): runs under wm 05:00 -- [00:00, 00:10) finalizes,
          emits count 10, state evicted at batch end;
      b3: the LATE click at 00:05 (wm now 05:30, window long gone) --
          numRowsDroppedByWatermark = 1;
      b4 (12:00): closes the 06:00/06:30 windows.
    The sink must hold exactly ONE [00:00, 00:10) row with count 10."""
    import datetime as dt

    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 1)
    indir = tmp_path / "late_drop"
    indir.mkdir()
    _write_event_file(
        indir / "b0.parquet",
        [(u, "click", base + dt.timedelta(minutes=u)) for u in range(10)],
        seq=0,
    )
    _write_event_file(
        indir / "b1.parquet", [(99, "click", base + dt.timedelta(hours=6))], seq=1
    )
    _write_event_file(
        indir / "b2.parquet",
        [(101, "click", base + dt.timedelta(hours=6, minutes=30))],
        seq=2,
    )
    _write_event_file(
        indir / "b3.parquet",
        [(100, "click", base + dt.timedelta(minutes=5))],  # LATE
        seq=3,
    )
    _write_event_file(
        indir / "b4.parquet", [(102, "click", base + dt.timedelta(hours=12))], seq=4
    )

    sdf = (
        spark.readStream.schema("user_id long, event_type string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .format("parquet")
        .load(str(indir))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "n")
    )
    progress = _drain_in_file_batches(spark, sdf, "mem_late_drop")
    assert len(progress) == 5, [p["numInputRows"] for p in progress]

    dropped = [
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in progress
    ]
    assert dropped == [0, 0, 0, 1, 0], dropped

    rows = spark.table("mem_late_drop").collect()
    counts = {}
    for r in rows:
        counts.setdefault(r["w_start"], []).append(r["n"])
    # exactly one finalized emission of the b0 window, WITHOUT the
    # late row -- a leak reads 11 or a duplicate append
    assert counts[base] == [10], counts


def test_stream_time_decay_equals_batch(spark, sf_dir):
    """Complete-mode decayed engagement scores over availableNow must
    equal the batch q_feature_time_decay (same fixed anchor, same
    rounding), compared on the batch query's own top-50 cut."""
    sdf = jobs.stream_time_decay(spark, sf_dir)
    q = (
        sdf.writeStream.format("memory")
        .queryName("mem_time_decay")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = (
        spark.table("mem_time_decay")
        .orderBy(F.desc("decayed_value"), F.asc("user_id"))
        .limit(50)
    )
    batch = QUERIES["q_feature_time_decay"](spark, sf_dir)
    assert _rows(streamed) == _rows(batch)
