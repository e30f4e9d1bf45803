"""Structured Streaming jobs over the fixture tables (SURVEY §2.3-E).

The reference is batch-only (single-machine NumPy — SURVEY §2.4);
streaming is the [X] north-star extension.  One frame per stream/batch
twin: where a job has a batch twin in ``operators``, both call the
same frame function from the operators module that owns the batch
query (``stream_batch.tumbling_counts``, ``aggregates.hll_registers``,
``stats.zscore_screen``, ...), so this module holds only stream
sources, static snapshots and sinks.  Every source goes through
``_table_stream`` and every static snapshot through ``table()``, so
both are checked against ``FIXTURE_SCHEMAS``.  Running a job with the
``availableNow`` trigger over the static parquet must produce exactly
the batch result (tests/test_streaming.py asserts it — the SURVEY
§5.2.3 batch-equivalence property).

Watermarks bound state: at 100 TB/day the tumbling-count state is
|open windows| × |types|, not |events| — late data beyond 10 minutes
is dropped deterministically.

Custom stateful operators use ``applyInPandasWithState``
(stream_user_peaks_stateful).  Spark 4's successor API,
``transformWithStateInPandas``, was evaluated and is ENVIRONMENT-
GATED here, not by choice: its state-server protocol imports
``google.protobuf``, which this container does not ship (verified:
the TWS driver worker crashes in ``transform_with_state_driver_worker
.py`` with ``ImportError: cannot import name 'descriptor'``).  The
applyInPandasWithState forms carry the arbitrary-state semantics; a
protobuf-equipped deployment can port them to TWS mechanically
(ValueState replaces the GroupState tuple, timers replace timeouts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from i3cols_spark.operators import stream_batch
from i3cols_spark.session import configure
from i3cols_spark.sources.tables import normalize_events_ts, table, table_schema


def _table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Streaming source over ``{sf_dir}/{name}.parquet`` with the checked,
    memoised schema of ``table()`` and, for events, its ``ts``
    normalization (both fixture flavors: epoch-nanos bigint and µs
    TIMESTAMP_NTZ)."""
    configure(spark)
    schema = table_schema(spark, f"{sf_dir}/{name}.parquet", name)
    # The sf dir holds all tables; pathGlobFilter selects just this one.
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", f"{name}.parquet")
        .load(sf_dir)
    )
    return normalize_events_ts(stream) if name == "events" else stream


def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_stream_tumbling (1-h tumbling, 10-min watermark)."""
    return stream_batch.tumbling_counts(_table_stream(spark, sf_dir, "events"))


def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_stream_sliding (1-h window, 15-min slide)."""
    return stream_batch.sliding_counts(_table_stream(spark, sf_dir, "events"))


def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_stream_session (30-min gap session windows,
    merging state maintained per user under the watermark)."""
    return stream_batch.session_counts(_table_stream(spark, sf_dir, "events"))


def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: first event per (user_id, event_type)
    within the watermark horizon (dropDuplicatesWithinWatermark — state
    is bounded by the horizon, unlike plain dropDuplicates whose state
    grows forever on an unbounded stream)."""
    ev = _table_stream(spark, sf_dir, "events")
    return (
        ev.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type", "event_id")
    )


def stream_view_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_stream_join: watermarked stream-stream inner
    join pairing each view with the same user's purchases in the next
    30 minutes.

    Both sides carry a watermark and the join condition bounds event
    time, so the state store retains each view row for at most
    watermark + 30 min and each purchase row for watermark only —
    bounded state on unbounded input (the requirement for inner
    stream-stream joins to be runnable at all)."""
    return stream_batch.view_purchase_pairs(_table_stream(spark, sf_dir, "events"))


def stream_contaminated_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming decontamination probe: documents arrive as a stream,
    the benchmark shingle set is STATIC — a stream-static broadcast
    LEFT SEMI join emits each incoming doc's benchmark-overlapping
    shingle hits (operators/pipeline.py::q_text_contamination is the
    batch twin).

    This is the stateless filter-against-reference-data streaming
    shape (blocklist, eval-set, seen-before index): no watermark, no
    state store — each micro-batch explodes its docs' shingle hashes
    and probes the broadcast set map-side, so throughput scales with
    input rate alone.  The static side is re-read per batch only if
    the source changes; Spark caches the broadcast across batches.
    """
    from i3cols_spark.functions.text import shingle_hashes
    from i3cols_spark.operators.pipeline import _BENCH_MOD, _BENCH_NGRAM

    bench = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % _BENCH_MOD == 0)
        .select(F.explode(shingle_hashes("text", n=_BENCH_NGRAM)).alias("s"))
        .distinct()
    )
    stream = _table_stream(spark, sf_dir, "documents")
    return (
        stream.filter(F.col("doc_id") % _BENCH_MOD != 0)
        .select(
            "doc_id", F.explode(shingle_hashes("text", n=_BENCH_NGRAM)).alias("s")
        )
        .join(F.broadcast(bench), "s", "left_semi")
        .select("doc_id", "s")
    )


def stream_anomaly_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming z-score anomaly screen: events arrive as a stream and
    are scored against STATIC per-type (μ, σ) reference statistics —
    the production shape of q_anomaly_zscore (operators/stats.py), its
    batch twin, where the stats come from yesterday's batch aggregate
    and today's traffic is screened live.

    Stream-static broadcast join + per-row projection/filter: no
    watermark, no state store — like the decontamination probe this is
    the stateless score-against-reference streaming shape, so
    throughput scales with input rate alone and the screen adds zero
    shuffle to the stream.  Statistics are intentionally a snapshot:
    a self-updating μ/σ would make flagging depend on arrival order
    (and is a windowed-aggregate job, not a screen).
    """
    from i3cols_spark.operators.stats import zscore_screen, zscore_stats

    static_ev = table(spark, sf_dir, "events")
    # Materialize the |event types|-row stats SNAPSHOT eagerly: the
    # reference side of a screen is a fixed artifact by definition
    # (yesterday's batch agg), and inlining it as literal rows keeps
    # the streaming plan aggregate-free (a live Aggregate node would
    # force complete output mode on a non-aggregating stream).  The
    # aggregate and the score/threshold are the SAME code as the batch
    # twin (operators/stats.py) so the two can never drift apart.
    stats = spark.createDataFrame(zscore_stats(static_ev).collect())
    return zscore_screen(_table_stream(spark, sf_dir, "events"), stats)


def stream_anomaly_mad_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ROBUST (median/MAD) anomaly screen — the
    stream-static twin of q_anomaly_mad, exactly as
    ``stream_anomaly_screen`` twins q_anomaly_zscore: per-type
    (median, MAD) reference stats are a STATIC snapshot (yesterday's
    batch artifact, inlined as literal rows so the streaming plan
    stays aggregate-free), today's events are scored live with the
    SAME mad_screen code as the batch twin.  Robust stats matter more
    here than in batch: a live incident is exactly when extreme
    values flood in, and μ/σ computed over them would suppress their
    own alarms — median/MAD reference frames don't move."""
    from i3cols_spark.operators.stats import mad_screen, mad_stats

    static_ev = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    stats = spark.createDataFrame(mad_stats(static_ev).collect())
    return mad_screen(
        _table_stream(spark, sf_dir, "events").select("event_id", "event_type", "value"),
        stats,
    )


def run_rollup_maintenance(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """Continuously-maintained 1-hour rollup: the streaming tumbling
    aggregate upserted into a window-partitioned Parquet table via
    ``foreachBatch`` + dynamic partition overwrite.

    Update-mode emits only windows CHANGED in each micro-batch, and
    dynamic overwrite rewrites only those windows' partitions — so
    maintenance cost per batch is O(changed windows), not O(table),
    and replaying a batch is idempotent (same windows, same rewrite).
    This is the continuous-aggregate / hypertable-rollup pattern: the
    rollup table always equals the batch q_stream_tumbling over all
    data seen so far (asserted in tests), and readers hit a plain
    partition-pruned Parquet table with no streaming machinery.
    """
    agg = stream_tumbling_counts(spark, sf_dir)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (
            batch_df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("window_start_us")
            .parquet(out_dir)
        )

    q = (
        agg.writeStream.foreachBatch(upsert)
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{out_dir}_ckpt")
        .start()
    )
    q.awaitTermination()


def run_to_memory(df: DataFrame, name: str) -> None:
    """Execute a streaming DataFrame with availableNow → in-memory table
    ``name`` (complete for aggregations, append for dedup) and block
    until all available data is processed."""
    mode = "complete" if df.isStreaming and _has_aggregate(df) else "append"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _has_aggregate(df: DataFrame) -> bool:
    plan = df._jdf.queryExecution().analyzed().toString()
    return "Aggregate" in plan


def stream_user_peaks_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running peak value and event count, emitted once per micro-batch.

    This is the arbitrary-state path (SURVEY §1.2 streaming row:
    ``applyInPandasWithState`` for operators the built-in windows can't
    express).  State = (peak, count) per user — fixed size, watermark-
    free here because the domain (user_id) is bounded; an unbounded
    domain would add a state timeout.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = _table_stream(spark, sf_dir, "events").select("user_id", "value")

    def update(key, pdfs, state: GroupState):
        peak, count = state.get if state.exists else (float("-inf"), 0)
        for pdf in pdfs:
            if len(pdf):
                peak = max(peak, float(pdf["value"].max()))
                count += len(pdf)
        state.update((peak, count))
        yield pd.DataFrame(
            {"user_id": [key[0]], "peak_value": [peak], "n_events": [count]}
        )

    return ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, peak_value double, n_events long",
        stateStructType="peak double, count long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_ts_ohlc: daily OHLC bars per event type as
    a watermarked tumbling-window aggregate (timeseries.ohlc_bars).
    ``min_by``/``max_by`` over the struct(ts, event_id) order key are
    ordinary declarative aggregates, so they fold into streaming state
    exactly as they fold into the batch partial aggregate."""
    from i3cols_spark.operators.timeseries import ohlc_bars

    return ohlc_bars(_table_stream(spark, sf_dir, "events"))


def stream_point_in_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_join_point_in_time: live click events
    enriched with the dimension version valid at their own timestamp.

    The batch form uses the union-window as-of trick; streaming
    windows can't look across rows, so this twin states the SAME
    semantics as a stream-static join against the PRE-BUILT SCD2
    interval table (q_scd2_intervals' shape): equi on user_id plus the
    interval residual — exactly how a feature store serves
    point-in-time features online (static = the nightly-refreshed
    history snapshot; correctness pinned by the availableNow ≡ batch
    test).  The static side is interval-partitioned by user_id, so the
    equi key drives the join and the residual prunes per row."""
    from pyspark.sql.window import Window

    ev_static = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        ev_static.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("ver_id"),
            F.col("value").alias("attr_value"),
            F.unix_micros("ts").alias("f"),
            F.lead(F.unix_micros("ts")).over(w).alias("t"),
        )
    )
    clicks = _table_stream(spark, sf_dir, "events").filter(
        F.col("event_type") == "click"
    ).select(
        "user_id", "event_id", F.unix_micros("ts").alias("click_us")
    )
    cond = (
        (clicks.user_id == dim.user_id)
        & (F.col("click_us") >= F.col("f"))
        & (F.col("t").isNull() | (F.col("click_us") < F.col("t")))
    )
    return clicks.join(dim, cond, "left").select(
        clicks.user_id, clicks.event_id, "click_us", "ver_id", "attr_value"
    )


def stream_media_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_multimodal_audio_fingerprint: binary media
    payloads are synthesized, DECODED (real WAV parse) and delta-sign
    fingerprinted INSIDE each micro-batch via the same Arrow-batched
    mapInPandas kernels as the batch query — proving the multimodal
    layer composes with Structured Streaming unchanged.  The running
    (afp → n_clips, rep_id) aggregate is complete-mode state bounded
    by the 16-bit fingerprint space, never by clip count; payloads die
    with their micro-batch."""
    from i3cols_spark.operators.multimodal_ops import audio_fingerprint_groups

    return audio_fingerprint_groups(_table_stream(spark, sf_dir, "documents"))


def stream_countmin_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min sketch: every event increments one cell per
    depth row of the SAME d×w grid as q_agg_sketch_countmin (shared
    cms_bucket hash), maintained in complete mode — the point being
    that CMS state is a fixed 512-cell grid whose micro-batch partials
    merge by cell-wise addition, so the streaming form needs ONE
    aggregation over raw increments (no per-key pre-count, which
    chained streaming aggs would forbid anyway).  The stream≡batch
    test pins grid equality cell by cell."""
    from i3cols_spark.operators.aggregates import cms_cells

    keys = _table_stream(spark, sf_dir, "events").select("user_id")
    return cms_cells(keys).groupBy("d", "bucket").agg(F.count(F.lit(1)).alias("bsum"))


def stream_histogram_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming histogram-quantile sketch: the 256-cell equi-width
    grid of q_agg_sketch_histogram maintained incrementally over an
    orders stream.  Bin EDGES are fixed up front from a static scan —
    the catalog-owned-geometry stance of test_sketch_merge (a
    streaming sketch cannot re-derive extrema per batch without
    re-binning history; production pins edges the way it pins a
    schema).  With shared edges the micro-batch partials merge by
    cell-wise addition, so the stream needs ONE complete-mode
    aggregation over raw rows; the stream≡batch test pins grid
    equality cell by cell."""
    from i3cols_spark.operators.aggregates import hist_cells, hist_extrema

    ext = hist_extrema(table(spark, sf_dir, "orders")).first()
    # Geometry guard: an empty table has no extrema to
    # pin edges from — fail loudly before the stream starts.
    if ext["mn"] is None or ext["mx"] is None:
        raise ValueError(
            "stream_histogram_grid: orders.o_totalprice is empty — "
            "no extrema to pin the histogram geometry from"
        )
    return hist_cells(
        _table_stream(spark, sf_dir, "orders").select(
            "o_totalprice", F.lit(ext["mn"]).alias("mn"), F.lit(ext["mx"]).alias("mx")
        )
    )


def stream_dp_class_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_quality_dp_counts at ε = 0.5: a customer
    stream joins the static nation dim (stream-static broadcast), one
    complete-mode aggregation maintains the (nation, segment) class
    histogram, and the Laplace release applies the SHARED hash-seeded
    noise (quality.dp_laplace_noise) to the aggregated counts — the
    point being that deterministic noise makes a DP release
    STREAMING-CONSISTENT: every micro-batch's re-emission of a cell
    realizes the identical noise, where an RNG would re-noise per
    epoch and silently multiply the privacy spend.  The stream≡batch
    test is exactly that claim.  Like its batch twin this is a
    MECHANISM TEST VECTOR, not a private release: no secret seed is
    mixed in — a production release passes
    ``secret=<config value>`` to dp_laplace_noise."""
    from i3cols_spark.operators.quality import dp_classes, dp_release

    classes = dp_classes(
        _table_stream(spark, sf_dir, "customer"), table(spark, sf_dir, "nation")
    )
    return dp_release(
        classes.select("*", F.lit("0.5").alias("eps_label"), F.lit(0.5).alias("eps"))
    ).select("nation", "segment", "true_count", "noisy_count")


def stream_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HyperLogLog: the q_agg_sketch_hll register array
    maintained over an event stream by ONE complete-mode max-
    aggregation per bucket — registers merge by MAX across
    micro-batches, which is exactly what the mergeability test proves
    for shards; the stream≡batch test pins register equality, the
    distinct-count-over-a-stream primitive with O(m) state where
    dropDuplicates state grows with keys."""
    from i3cols_spark.operators.aggregates import hll_hashes, hll_registers

    return hll_registers(hll_hashes(_table_stream(spark, sf_dir, "events")))


def stream_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_feature_time_decay: the recency-weighted
    engagement score maintained over an event stream by ONE
    complete-mode per-user aggregation.  The decay anchor (corpus max
    timestamp) is pinned up front from a static scan — the
    catalog-owned-geometry stance of stream_histogram_grid: a
    streaming feature store cannot re-anchor per micro-batch without
    silently re-scaling every previously emitted score; production
    re-anchors on a schedule by multiplying stored scores by
    exp(−λ·Δ) (the decay semigroup), not by moving the anchor
    mid-stream.  With a fixed anchor the per-row decayed value is a
    pure map, so micro-batch partials merge by plain summation and
    the stream≡batch test pins score equality user by user."""
    from i3cols_spark.operators.pipeline import decay_anchor, decayed_scores

    anchor_us = decay_anchor(table(spark, sf_dir, "events")).first()["max_us"]
    if anchor_us is None:
        raise ValueError(
            "stream_time_decay: events is empty — no anchor timestamp"
        )
    return decayed_scores(_table_stream(spark, sf_dir, "events"), F.lit(anchor_us))
