"""Time-series analytics over the event stream — OHLC resampling,
Markov transition matrices, linear-interpolation fill, and snapshot
diffing.

These extend the §2.3-E analytics block with the resample/compare
primitives a feature-engineering pipeline runs between raw events and
a fixed-frequency model: downsample to bars (OHLC), characterize
behaviour (transition matrix), regularize with interpolation (the
LOCF twin of q_ts_gapfill), and diff two dataset states (the audit
step before promoting a new snapshot).

Determinism discipline (registry docstring): open/close are single
per-row doubles (unrounded — no summation); multi-row double sums are
rounded to 2 dp in both dialects; probability / interpolation
arithmetic is per-row IEEE with the SAME expression tree in both
engines, so it is bit-identical and left unrounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from i3cols_spark.operators.registry import query
from i3cols_spark.sources.tables import table


@query(
    "q_ts_ohlc",
    oracle="""
    WITH x AS (
        SELECT event_type, date_trunc('day', ts) AS day, value, ts, event_id
        FROM events
    ),
    w AS (
        SELECT event_type, day, value,
               row_number() OVER (PARTITION BY event_type, day
                                  ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (PARTITION BY event_type, day
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM x
    ),
    oc AS (
        SELECT event_type, day,
               max(CASE WHEN rn_a = 1 THEN value END) AS open,
               max(CASE WHEN rn_d = 1 THEN value END) AS close
        FROM w GROUP BY 1, 2
    ),
    hl AS (
        SELECT event_type, day,
               max(value) AS high, min(value) AS low,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 2) AS total_value
        FROM x GROUP BY 1, 2
    )
    SELECT hl.event_type, epoch_us(hl.day) AS day_us,
           oc.open, hl.high, hl.low, oc.close, hl.n_events, hl.total_value
    FROM hl JOIN oc ON hl.event_type = oc.event_type AND hl.day = oc.day
    """,
)
def q_ts_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC bars per event type — the canonical downsampling of
    a value stream to fixed-frequency candles (open / high / low /
    close / volume / turnover).

    Spark shape: ONE map-side-combined groupBy (``ohlc_bars``).
    ``min_by`` / ``max_by`` over a ``struct(ts, event_id)`` order key
    pick the first/last value per bar inside the partial aggregate, so
    open and close ride the same single shuffle as the min/max/count —
    no window function, no per-bar sort.  The oracle can't express
    composite arg_min, so it pins the same semantics via two
    row_number windows; the Spark plan is the scale-correct one (at
    100 TB a groupBy with partial aggregation beats a per-bar window
    sort by the full event volume).  The (ts, event_id) key is
    total-ordered — ties on ts break on the unique event_id — so
    first/last are reproducible across engines.  Bars are 1-day
    tumbling window() groups: with the session zone pinned UTC they
    are the oracle's ``date_trunc('day')`` days.
    """
    return ohlc_bars(table(spark, sf_dir, "events"))


def ohlc_bars(ev: DataFrame) -> DataFrame:
    """Daily OHLC bars per event type over any events frame, batch or
    streaming, under a 10-min watermark.  Per-bar state is two
    (value, order-key) extrema plus the min/max/count/sum scalars,
    whatever the event volume."""
    ord_key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.min_by("value", ord_key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ord_key).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "event_type",
            F.unix_micros("w.start").alias("day_us"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
            "total_value",
        )
    )


@query(
    "q_event_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    ),
    pairs AS (
        SELECT event_type AS from_type, next_type AS to_type,
               CAST(count(*) AS BIGINT) AS n_transitions
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT from_type, to_type, n_transitions,
           n_transitions / sum(n_transitions) OVER (PARTITION BY from_type)
               AS p_transition
    FROM pairs
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the event stream:
    per-user consecutive (event_type → next event_type) pairs, counted
    globally and normalized to per-from-type probabilities — the
    behavioural fingerprint used for bot screening and session
    modelling.

    Shape: one lead() window per user (ts, event_id total order), one
    map-side-combined groupBy of the pairs (output cardinality =
    |types|², tiny), and a window over that tiny aggregate for the
    row-sum normalization.  The expensive shuffle is the per-user
    window; the raw stream never rides past the pair groupBy.  The
    probability is a per-row BIGINT/BIGINT IEEE division — identical
    bits in both engines, left unrounded (registry discipline).
    """
    ev = table(spark, sf_dir, "events")
    seq = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(seq).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    row = W.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n_transitions",
        (F.col("n_transitions") / F.sum("n_transitions").over(row)).alias(
            "p_transition"
        ),
    )


@query(
    "q_ts_interpolate",
    oracle="""
    WITH daily AS (
        SELECT user_id, date_trunc('day', ts) AS day,
               round(sum(value), 2) AS day_value
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1, 2
    ),
    span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
    spine AS (
        SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
        FROM span
    ),
    j AS (
        SELECT s.user_id, s.day,
               date_diff('day', DATE '2024-01-01', CAST(s.day AS DATE)) AS di,
               d.day_value AS v,
               CASE WHEN d.day_value IS NOT NULL
                    THEN date_diff('day', DATE '2024-01-01', CAST(s.day AS DATE))
               END AS obs_di
        FROM spine s LEFT JOIN daily d
          ON s.user_id = d.user_id AND s.day = d.day
    ),
    f AS (
        SELECT user_id, day, di, v,
               last_value(v IGNORE NULLS) OVER wb AS pv,
               last_value(obs_di IGNORE NULLS) OVER wb AS pd,
               first_value(v IGNORE NULLS) OVER wf AS nv,
               first_value(obs_di IGNORE NULLS) OVER wf AS nd
        FROM j
        WINDOW wb AS (PARTITION BY user_id ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY user_id ORDER BY day
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, epoch_us(day) AS day_us,
           v IS NOT NULL AS is_observed,
           CASE WHEN v IS NOT NULL THEN v
                WHEN pv IS NOT NULL AND nv IS NOT NULL
                    THEN pv + (nv - pv) * ((di - pd) / CAST(nd - pd AS DOUBLE))
                WHEN pv IS NOT NULL THEN pv
                ELSE nv END AS interp_value
    FROM f
    """,
)
def q_ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation on the dense daily spine — the smooth twin
    of q_ts_gapfill's LOCF: interior gaps take the straight line
    between the bracketing observations, leading/trailing gaps fall
    back to nearest-observation fill.

    Shape mirrors q_ts_gapfill (sparse daily agg → span → exploded
    calendar spine → left join), then TWO frames over the same
    user-day order — backward last(ignorenulls) for the previous
    observation, forward first(ignorenulls) for the next — carrying
    both the value and its day index so the slope is computable
    per-row.  Both windows ride the user_id hash partitioning the
    join already established: one effective exchange end to end.  The
    interpolation arithmetic is per-row IEEE with an identical
    expression tree in the oracle — bit-identical, unrounded.
    """
    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(F.round(F.sum("value"), 2).alias("day_value"))
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = span.select(
        "user_id",
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("day"),
    )
    di = F.datediff(F.col("day").cast("date"), F.lit("2024-01-01").cast("date"))
    j = spine.join(daily, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        di.alias("di"),
        F.col("day_value").alias("v"),
        F.when(F.col("day_value").isNotNull(), di).alias("obs_di"),
    )
    wb = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    wf = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(0, W.unboundedFollowing)
    )
    f = j.select(
        "user_id",
        "day",
        "di",
        "v",
        F.last("v", ignorenulls=True).over(wb).alias("pv"),
        F.last("obs_di", ignorenulls=True).over(wb).alias("pd"),
        F.first("v", ignorenulls=True).over(wf).alias("nv"),
        F.first("obs_di", ignorenulls=True).over(wf).alias("nd"),
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (
                (F.col("di") - F.col("pd"))
                / (F.col("nd") - F.col("pd")).cast("double")
            ),
        )
        .when(F.col("pv").isNotNull(), F.col("pv"))
        .otherwise(F.col("nv"))
    )
    return f.select(
        "user_id",
        F.unix_micros("day").alias("day_us"),
        F.col("v").isNotNull().alias("is_observed"),
        interp.alias("interp_value"),
    )


@query(
    "q_snapshot_diff",
    oracle="""
    WITH c AS (
        SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS cut FROM events
    ),
    agg AS (
        SELECT e.user_id,
               CAST(sum(CASE WHEN epoch_us(e.ts) <= c.cut THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_before,
               CAST(sum(CASE WHEN epoch_us(e.ts) >  c.cut THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_after,
               round(sum(CASE WHEN epoch_us(e.ts) <= c.cut
                              THEN e.value ELSE 0 END), 2) AS value_before,
               round(sum(CASE WHEN epoch_us(e.ts) > c.cut
                              THEN e.value ELSE 0 END), 2) AS value_after
        FROM events e, c
        GROUP BY e.user_id
    )
    SELECT user_id, n_before, n_after, value_before, value_after,
           CASE WHEN n_before = 0 THEN 'added'
                WHEN n_after = 0 THEN 'churned'
                WHEN n_before <> n_after THEN 'changed'
                ELSE 'stable' END AS diff_status
    FROM agg
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff: compare per-user activity between the first and
    second half of the event timeline (split at the midpoint of the
    observed range) and classify each user added / churned / changed /
    stable — the audit a pipeline runs before promoting a new data
    snapshot.

    Scale shape: a naive diff is two scans + a full outer join on
    user_id; this plan is ONE conditional aggregation over a single
    scan (the period flag is a per-row comparison against a broadcast
    1-row scalar), so the only shuffle is the map-side-combined
    groupBy.  The cutoff scalar comes from a min/max agg — satisfied
    from parquet row-group statistics, not a second full read — and
    joins in as a broadcast nested loop of one row.  The midpoint is
    INTEGER microsecond arithmetic (``div 2``) in both engines: no
    float rounding at the boundary.
    """
    ev = table(spark, sf_dir, "events")
    cut = ev.agg(
        F.expr(
            "(min(unix_micros(ts)) + max(unix_micros(ts))) div 2"
        ).alias("cut")
    )
    us = F.unix_micros("ts")
    agg = (
        ev.select("user_id", us.alias("us"), "value")
        .crossJoin(F.broadcast(cut))
        .withColumn("is_before", F.col("us") <= F.col("cut"))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("is_before"), 1).otherwise(0))
            .cast("long")
            .alias("n_before"),
            F.sum(F.when(~F.col("is_before"), 1).otherwise(0))
            .cast("long")
            .alias("n_after"),
            F.round(
                F.sum(F.when(F.col("is_before"), F.col("value")).otherwise(0.0)), 2
            ).alias("value_before"),
            F.round(
                F.sum(F.when(~F.col("is_before"), F.col("value")).otherwise(0.0)), 2
            ).alias("value_after"),
        )
    )
    status = (
        F.when(F.col("n_before") == 0, "added")
        .when(F.col("n_after") == 0, "churned")
        .when(F.col("n_before") != F.col("n_after"), "changed")
        .otherwise("stable")
    )
    return agg.select(
        "user_id",
        "n_before",
        "n_after",
        "value_before",
        "value_after",
        status.alias("diff_status"),
    )


@query(
    "q_window_sessionid",
    oracle="""
    WITH g AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
               CASE WHEN epoch_us(ts)
                         - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id)
                         > 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    )
    SELECT user_id, event_id, us,
           CAST(sum(is_new) OVER (PARTITION BY user_id
                                  ORDER BY us, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS BIGINT) AS session_id
    FROM g
    """,
)
def q_window_sessionid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event session labelling: a new session starts after a
    >30-minute inactivity gap; each event carries its user's
    0-based session index — the row-level companion to
    q_stream_session's per-session aggregates (sessionization that
    keeps the events, as feature pipelines need).

    The gaps-and-islands classic: one lag() marks session starts, one
    running sum turns marks into ids.  Both windows share the SAME
    (user_id, ts-order) partitioning — one exchange, two sorted
    passes, O(1) frame state; no self-join, no explode.  At 100 TB
    this is a single shuffle of the event stream, and with the log
    bucketed by user_id (sources/ingest.write_bucketed) it is
    shuffle-free.
    """
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    run = (
        W.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    g = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.when(
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
            > 1_800_000_000,
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    return g.select(
        "user_id",
        "event_id",
        "us",
        F.sum("is_new").over(run).cast("long").alias("session_id"),
    )


@query(
    "q_ts_ewma",
    oracle="""
    WITH daily AS (
        SELECT user_id, date_trunc('day', ts) AS day,
               round(sum(value), 2) AS day_value
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1, 2
    ),
    w AS (
        SELECT user_id, day, day_value,
               list(day_value) OVER (
                   PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW
               ) AS arr
        FROM daily
    )
    SELECT user_id, epoch_us(day) AS day_us, day_value,
           round(
               list_sum(list_transform(arr,
                   (x, i) -> x * pow(0.7, len(arr) - i)))
               / list_sum(list_transform(arr,
                   (x, i) -> pow(0.7, len(arr) - i))), 6) AS ewma
    FROM w
    """,
)
def q_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of each user's daily
    purchase series — the smoothing step behind trend features and
    anomaly baselines; decay 0.7 per observed day over a 10-day
    history window (truncated-EWMA form: weights (1-α)^lag normalized
    within the frame, so the statistic is well-defined from the first
    observation — no unbounded recursion, which neither engine's
    window grammar can express).

    Shape: the sparse daily aggregate (map-side combined), ONE
    ordered window per user collecting the ≤10-element frame — frame
    contents follow the window's ORDER BY, so the array is
    deterministic under any partitioning — then per-row HOF
    arithmetic (zip_with + aggregate in Spark, indexed list_transform
    in DuckDB: the SAME left-to-right summation over ≤10 elements).
    pow() is libm territory, so the result rounds at 6 dp in both
    engines.  At 100 TB this is one shuffle of the DAILY aggregate,
    never of raw events, and O(10) state per row.
    """
    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(F.round(F.sum("value"), 2).alias("day_value"))
    frame = (
        W.partitionBy("user_id").orderBy("day").rowsBetween(-9, 0)
    )
    arr = F.collect_list("day_value").over(frame)
    w = daily.select(
        "user_id",
        F.unix_micros("day").alias("day_us"),
        "day_value",
        arr.alias("arr"),
    )
    m = F.size("arr")
    num = F.aggregate(
        F.zip_with(
            "arr",
            F.sequence(F.lit(1), m),
            lambda x, p: x * F.pow(F.lit(0.7), (m - p).cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    den = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), m),
            lambda p: F.pow(F.lit(0.7), (m - p).cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return w.select(
        "user_id",
        "day_us",
        "day_value",
        F.round(num / den, 6).alias("ewma"),
    )


#: 6-hour resample bucket width in microseconds.
_RESAMPLE_US = 21_600_000_000


@query(
    "q_ts_resample_agg",
    oracle=f"""
    WITH x AS (
        SELECT event_type,
               epoch_us(ts) - epoch_us(ts) % {_RESAMPLE_US} AS bucket_us,
               value, user_id
        FROM events
    )
    SELECT event_type, CAST(bucket_us AS BIGINT) AS bucket_us,
           CAST(count(*) AS BIGINT)              AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           round(sum(value), 2)                  AS total_value,
           min(value)                            AS min_value,
           max(value)                            AS max_value
    FROM x GROUP BY 1, 2
    """,
)
def q_ts_resample_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-frequency resampling of the event stream: 6-hour buckets
    per event type with volume, distinct-user reach, and value
    envelope — the downsample-to-grid step between raw events and any
    fixed-frequency feature matrix (the coarser, distinct-counting
    sibling of q_ts_ohlc's daily bars).

    Bucketing is pure integer arithmetic on epoch microseconds
    (``ep - ep % width``), identical in both engines for the
    non-negative timestamps the fixture guarantees — no engine-specific
    time_bucket/window-origin semantics to diverge on.

    Scale shape: ONE map-side-combined groupBy on (event_type,
    bucket).  count(DISTINCT user_id) is the only expensive member —
    Spark plans it as a two-phase expand+partial-agg, still a single
    shuffle family; at 100 TB swap in approx_count_distinct when ±2%
    reach is acceptable (q_agg_approx_distinct pins that path).
    min/max/sum are per-row doubles folded in the partial aggregate;
    the multi-row float sum rounds to 2 dp in BOTH dialects.
    """
    ev = table(spark, sf_dir, "events")
    ep = F.unix_micros("ts")
    bucket = (ep - ep % F.lit(_RESAMPLE_US)).cast("long")
    return (
        ev.select(
            "event_type", bucket.alias("bucket_us"), "value", "user_id"
        )
        .groupBy("event_type", "bucket_us")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )


@query(
    "q_ts_concurrency_sweep",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w > INTERVAL 30 MINUTES
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS sid
        FROM marked
    ),
    ivals AS (
        SELECT user_id, sid, min(ts) AS s,
               max(ts) + INTERVAL 30 MINUTES AS e
        FROM sess GROUP BY 1, 2
    ),
    deltas AS (
        SELECT s AS t, 1 AS d FROM ivals
        UNION ALL
        SELECT e AS t, -1 AS d FROM ivals
    ),
    sweep AS (
        SELECT CAST(date_trunc('day', t) AS DATE) AS day, t, d,
               sum(d) OVER (ORDER BY t, d) AS conc
        FROM deltas
    )
    SELECT day, CAST(max(conc) AS BIGINT) AS peak_concurrency,
           CAST(count(*) AS BIGINT) AS n_deltas
    FROM sweep GROUP BY day
    """,
)
def q_ts_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak CONCURRENCY per day by sweep line — how many user
    sessions (the 30-minute-gap sessionization of q_window_sessionid,
    active through their timeout window) are open at once: every
    interval contributes (+1 at start, −1 at end) and the running sum
    of deltas in time order IS the concurrency curve.  The capacity
    metric behind connection pools, autoscalers and license audits —
    and a query whose naive form (one global ORDER BY over all
    deltas) serializes the whole history through one task.

    The Spark plan is the TWO-LEVEL sweep: deltas bucket by day, the
    running sum is a day-partitioned window (parallel across days),
    and each day's opening baseline — sessions still open from
    earlier days — is the cumulative net of all PRIOR days' deltas,
    computed on the days-sized table by one tiny window; per-day
    peak = baseline + max(within-day running).  The decomposition is
    exact, not approximate: every delta belongs to exactly one day,
    so prefix sums factor through day boundaries.  Tie order (t, d)
    closes sessions before opening new ones at an identical
    timestamp, and within equal (t, d) runs the prefix-maximum is
    permutation-invariant, so per-day peaks are deterministic —
    value-hash-checked against the single-window oracle.

    Scale: the corpus-sized stages are the sessionization windows
    (per-user, the standard shape) and one day-partitioned window;
    nothing global ever sorts.  Skew bound: |day bucket| deltas ≤
    2 × sessions touching that day.
    """
    ev = table(spark, sf_dir, "events")
    wu = W.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id",
        "ts",
        F.when(
            F.lag("ts").over(wu).isNull()
            | (
                F.col("ts").cast("long") - F.lag("ts").over(wu).cast("long")
                > 1800
            ),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    sess = marked.select(
        "user_id",
        "ts",
        F.sum("new_s")
        .over(W.partitionBy("user_id").orderBy("ts"))
        .alias("sid"),
    )
    ivals = sess.groupBy("user_id", "sid").agg(
        F.min("ts").alias("s"),
        (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias("e"),
    )
    deltas = ivals.select(F.col("s").alias("t"), F.lit(1).alias("d")).union(
        ivals.select(F.col("e").alias("t"), F.lit(-1).alias("d"))
    )
    day = F.date_trunc("day", F.col("t")).cast("date")
    wday = (
        W.partitionBy("day")
        .orderBy("t", "d")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    within = deltas.select(
        day.alias("day"), "t", "d"
    ).select("day", F.sum("d").over(wday).alias("running"))
    per_day = within.groupBy("day").agg(
        F.max("running").alias("peak_within"),
        F.count(F.lit(1)).alias("n_deltas"),
    )
    day_net = (
        deltas.select(day.alias("day"), "d")
        .groupBy("day")
        .agg(F.sum("d").alias("net"))
    )
    wprior = W.orderBy("day").rowsBetween(W.unboundedPreceding, -1)
    baseline = day_net.select(
        "day", F.coalesce(F.sum("net").over(wprior), F.lit(0)).alias("base")
    )
    return per_day.join(baseline, "day").select(
        "day",
        (F.col("base") + F.col("peak_within"))
        .cast("bigint")
        .alias("peak_concurrency"),
        F.col("n_deltas").cast("bigint").alias("n_deltas"),
    )


@query(
    "q_ts_seasonal_decompose",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             floor(sum(value) * 1000000 + 0.5) / 1000000.0 AS y
      FROM events GROUP BY 1
    ), tr AS (
      SELECT day, y,
             floor(avg(y) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                   * 1000000 + 0.5) / 1000000.0 AS trend
      FROM daily
    ), det AS (
      SELECT day, y, trend, y - trend AS detrended,
             date_diff('day', DATE '1970-01-01', day) % 7 AS dow
      FROM tr
    ), seas AS (
      SELECT dow, floor(avg(detrended) * 1000000 + 0.5) / 1000000.0 AS seasonal
      FROM det GROUP BY dow
    )
    SELECT det.day, det.y, det.trend, seas.seasonal,
           floor((det.detrended - seas.seasonal) * 1000000 + 0.5) / 1000000.0
               AS remainder
    FROM det JOIN seas ON det.dow = seas.dow
    ORDER BY det.day
    """,
)
def q_ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition (the moving-average
    core of STL, Cleveland 1990): daily totals split into
    trend (7-day centered moving average) + weekly seasonal (mean
    detrended value per day-of-week) + remainder — the screen that
    separates "sales dip every Sunday" from "sales dipped, alert".
    q_anomaly_zscore/_mad flag deviations from a STATIC center; this
    operator removes structure FIRST, which is what makes residual
    alerts meaningful on seasonal traffic.

    Scale shape: the only corpus-sized work is the map-side-combined
    daily aggregate; the decomposition runs on the DAYS-sized series
    (a century of days is 36,525 rows), so the unpartitioned ordered
    window is a deliberate non-cost — unlike q_ts_concurrency_sweep,
    whose deltas are row-sized and forced a two-level day-partitioned
    sweep.  The 7-row seasonal profile joins back broadcast.

    Determinism: each stage canonicalizes at HALF_UP 6 dp before the
    next consumes it (daily sums are multi-row float reductions; the
    downstream arithmetic on identical rounded inputs is bit-exact,
    only the 7-term window mean and ≤5-term seasonal mean re-expose
    summation order, re-absorbed by their own rounding).  Day-of-week
    is epoch-day mod 7 in both dialects — engine-native dayofweek()
    conventions disagree (Spark 1=Sunday, DuckDB 0=Sunday) and the
    portable form needs no convention at all.  Edge days keep their
    partial centered windows (both engines agree on frame clipping).
    """
    from i3cols_spark.functions.rounding import round_half_up

    ev = table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(round_half_up(F.sum("value"), 6).alias("y"))
    )
    w_ma = W.orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "day", "y", round_half_up(F.avg("y").over(w_ma), 6).alias("trend")
    )
    det = tr.select(
        "day", "y", "trend",
        (F.col("y") - F.col("trend")).alias("detrended"),
        (F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")) % 7).alias("dow"),
    )
    seas = det.groupBy("dow").agg(
        round_half_up(F.avg("detrended"), 6).alias("seasonal")
    )
    return (
        det.join(F.broadcast(seas), "dow")
        .select(
            "day", "y", "trend", "seasonal",
            round_half_up(F.col("detrended") - F.col("seasonal"), 6).alias("remainder"),
        )
        .orderBy("day")
    )


@query(
    "q_ts_cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             floor(sum(value) * 1000000 + 0.5) / 1000000.0 AS y
      FROM events GROUP BY 1
    ), base AS (
      SELECT day, y,
             floor(avg(y) OVER () * 1000000 + 0.5) / 1000000.0 AS ybar
      FROM daily
    ), cus AS (
      SELECT day, y,
             floor(sum(y - ybar) OVER (ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   * 1000000 + 0.5) / 1000000.0 AS cusum
      FROM base
    ), mx AS (
      SELECT day, y, cusum,
             floor(max(abs(cusum)) OVER () * 1000000 + 0.5) / 1000000.0
                 AS max_abs_cusum
      FROM cus
    )
    SELECT day, y, cusum,
           min(CASE WHEN floor(abs(cusum) * 1000000 + 0.5) / 1000000.0
                         = max_abs_cusum THEN day END) OVER ()
               AS changepoint_day,
           max_abs_cusum
    FROM mx
    ORDER BY day
    """,
)
def q_ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point screen (Page 1954 / the bootstrap-CUSUM
    recipe of Taylor 2000, detection half): the cumulative sum of
    deviations from the series mean, S_t = Σ_{i≤t}(y_i − ȳ), whose
    extremum marks the most likely single shift in level — the
    complement to q_ts_seasonal_decompose (structure removal) and
    q_anomaly_* (point outliers): CUSUM finds the REGIME change a
    point screen is blind to, because a small persistent shift
    accumulates linearly in S_t.  Emits the full CUSUM path (the
    analyst reads the tent shape, not just the argmax) plus the
    argmax day and |S|max as constant columns.

    Scale shape: one map-side-combined daily aggregate is the only
    corpus-sized pass; the path is a running window over the
    DAYS-sized series (q_ts_seasonal_decompose's argument — at a
    century of days this is 36,525 rows in one task, a deliberate
    non-cost).  ȳ broadcasts via an empty-frame window on the same
    tiny table.

    Determinism: daily totals and ȳ canonicalize HALF_UP 6 dp, so
    each deviation is bit-exact; the running sum adds them in frame
    order (identical left-fold in both engines) and re-rounds; the
    argmax breaks |S| ties on the EARLIER day in both dialects
    (max_by with a (|S|, −epoch-day) key in DuckDB, min(day)-over-
    max-|S| in Spark).
    """
    from i3cols_spark.functions.rounding import round_half_up

    ev = table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(round_half_up(F.sum("value"), 6).alias("y"))
    )
    w_all = W.partitionBy()
    base = daily.select(
        "day", "y", round_half_up(F.avg("y").over(w_all), 6).alias("ybar")
    )
    w_run = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    cus = base.select(
        "day", "y",
        round_half_up(F.sum(F.col("y") - F.col("ybar")).over(w_run), 6).alias("cusum"),
    )
    mx = round_half_up(F.max(F.abs(F.col("cusum"))).over(w_all), 6)
    return (
        cus.withColumn("max_abs_cusum", mx)
        .withColumn(
            "changepoint_day",
            F.min(
                F.when(
                    round_half_up(F.abs(F.col("cusum")), 6) == F.col("max_abs_cusum"),
                    F.col("day"),
                )
            ).over(w_all),
        )
        .select("day", "y", "cusum", "changepoint_day", "max_abs_cusum")
        .orderBy("day")
    )


@query(
    "q_ts_autocorrelation",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             floor(sum(value) * 1000000 + 0.5) / 1000000.0 AS y
      FROM events GROUP BY 1
    ), lagged AS (
      SELECT day, y,
             lag(y, 1) OVER (ORDER BY day) AS y1,
             lag(y, 2) OVER (ORDER BY day) AS y2,
             lag(y, 7) OVER (ORDER BY day) AS y7,
             lag(y, 14) OVER (ORDER BY day) AS y14
      FROM daily
    )
    SELECT round(corr(y, y1), 6)  AS acf_1,
           round(corr(y, y2), 6)  AS acf_2,
           round(corr(y, y7), 6)  AS acf_7,
           round(corr(y, y14), 6) AS acf_14,
           CAST(count(y1) AS BIGINT)  AS n_1,
           CAST(count(y14) AS BIGINT) AS n_14
    FROM lagged
    """,
)
def q_ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of the daily series at lags 1/2/7/14 —
    the quantitative period detector behind q_ts_seasonal_decompose's
    ASSUMED weekly seasonality: a real pipeline reads the ACF first
    (a lag-7 spike says "decompose weekly"), and the Box-Jenkins
    identification step is exactly this statistic.  Pearson corr of
    the series against its lagged self, pairwise-complete (corr
    ignores the NULL head rows each lag introduces).

    Scale shape: one map-side-combined daily aggregate; lags and
    correlations live on the DAYS-sized series (the
    q_ts_seasonal_decompose argument).  Daily totals canonicalize
    HALF_UP 6 dp so both engines correlate identical inputs; corr is
    a multi-row reduction → 6 dp.
    """
    from i3cols_spark.functions.rounding import round_half_up

    ev = table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(round_half_up(F.sum("value"), 6).alias("y"))
    )
    w = W.orderBy("day")
    lagged = daily.select(
        "y",
        F.lag("y", 1).over(w).alias("y1"),
        F.lag("y", 2).over(w).alias("y2"),
        F.lag("y", 7).over(w).alias("y7"),
        F.lag("y", 14).over(w).alias("y14"),
    )
    return lagged.agg(
        F.round(F.corr("y", "y1"), 6).alias("acf_1"),
        F.round(F.corr("y", "y2"), 6).alias("acf_2"),
        F.round(F.corr("y", "y7"), 6).alias("acf_7"),
        F.round(F.corr("y", "y14"), 6).alias("acf_14"),
        F.count("y1").cast("bigint").alias("n_1"),
        F.count("y14").cast("bigint").alias("n_14"),
    )


@query(
    "q_ts_cross_correlation",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT)
                 AS clicks,
             CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
                 AS purch
      FROM events GROUP BY 1
    ), lags AS (
      SELECT CAST(k AS BIGINT) AS k
      FROM (VALUES (-3),(-2),(-1),(0),(1),(2),(3)) t(k)
    ), pairs AS (
      SELECT l.k, a.clicks, b.purch
      FROM lags l
      JOIN daily a ON TRUE
      JOIN daily b ON b.day = a.day + to_days(CAST(l.k AS INTEGER))
    )
    SELECT k,
           round(corr(CAST(clicks AS DOUBLE), CAST(purch AS DOUBLE)), 6)
               AS xcorr,
           CAST(count(*) AS BIGINT) AS n_days
    FROM pairs GROUP BY k ORDER BY k
    """,
)
def q_ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between two event series: corr of
    clicks(t) against purchases(t+k) for lags k ∈ [−3, 3] — the
    lead–lag detector ("do clicks predict purchases N days out?")
    that q_ts_autocorrelation is the self-paired special case of,
    and the quantitative input to attribution-window choices
    (q_join_asof_tolerance's staleness bound).

    Shape: ONE conditional-aggregation pass builds both daily series
    (FILTER idiom, map-side combined); the lag alignment is a 7-row
    ladder broadcast and a days-table self-join on a computed date
    key — everything after the first aggregate is days-sized.
    Counts are exact; each lag's corr is a multi-row reduction → 6 dp.
    """
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.when(F.col("event_type") == "click", 1))
        .cast("bigint").alias("clicks"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("bigint").alias("purch"),
    )
    lags = spark.createDataFrame([(k,) for k in range(-3, 4)], "k bigint")
    a = daily.select(F.col("day").alias("a_day"), "clicks")
    b = daily.select(F.col("day").alias("b_day"), "purch")
    pairs = (
        F.broadcast(lags)
        .crossJoin(a)
        .join(b, F.col("b_day") == F.date_add(F.col("a_day"), F.col("k").cast("int")))
    )
    return (
        pairs.groupBy("k")
        .agg(
            F.round(
                F.corr(F.col("clicks").cast("double"), F.col("purch").cast("double")),
                6,
            ).alias("xcorr"),
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
        )
        .orderBy("k")
    )


@query(
    "q_anomaly_seasonal_residual",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             floor(sum(value) * 1000000 + 0.5) / 1000000.0 AS y
      FROM events GROUP BY 1
    ), tr AS (
      SELECT day, y,
             floor(avg(y) OVER (ORDER BY day
                                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                   * 1000000 + 0.5) / 1000000.0 AS trend
      FROM daily
    ), det AS (
      SELECT day, y, trend, y - trend AS detrended,
             date_diff('day', DATE '1970-01-01', day) % 7 AS dow
      FROM tr
    ), seas AS (
      SELECT dow, floor(avg(detrended) * 1000000 + 0.5) / 1000000.0 AS seasonal
      FROM det GROUP BY dow
    ), resid AS (
      SELECT det.day, det.y,
             floor((det.detrended - seas.seasonal) * 1000000 + 0.5)
                 / 1000000.0 AS r
      FROM det JOIN seas ON det.dow = seas.dow
    ), med AS (
      SELECT floor(median(r) * 1000000 + 0.5) / 1000000.0 AS med_r FROM resid
    ), mad AS (
      SELECT floor(median(abs(r - med_r)) * 1000000 + 0.5) / 1000000.0 AS mad_r,
             med_r
      FROM resid CROSS JOIN med GROUP BY med_r
    )
    SELECT day, y, r,
           floor(0.6745 * (r - med_r) / mad_r * 1000000 + 0.5) / 1000000.0 AS rz,
           abs(0.6745 * (r - med_r) / mad_r) >= 2.0 AS is_outlier
    FROM resid CROSS JOIN mad
    ORDER BY day
    """,
)
def q_anomaly_seasonal_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-residual anomaly screen — q_ts_seasonal_decompose's
    docstring claims "structure removal is what makes residual alerts
    meaningful"; this operator EXECUTES that claim: the decomposition
    runs first (trend + weekly seasonal removed), then the robust
    modified-z screen (q_anomaly_mad's Iglewicz–Hoaglin form, median/
    MAD at 0.6745) scores the REMAINDER, so a Sunday dip no longer
    trips the alarm and a genuine level break does.  The full scored
    path is emitted with the flag (a screen that only shows its
    positives can't be audited for the negatives).

    Scale shape: the decomposition's one corpus-sized daily aggregate,
    then everything on the days-sized series — median/MAD here use the
    engines' exact interpolated median (legitimate at days scale;
    q_anomaly_mad's distinct-value-histogram engine is the form that
    survives row-scale inputs).  Each stage canonicalizes HALF_UP 6 dp
    before the next consumes it, so the interpolated medians of both
    engines see identical inputs.
    """
    from i3cols_spark.functions.rounding import round_half_up

    ev = table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(round_half_up(F.sum("value"), 6).alias("y"))
    )
    w_ma = W.orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "day", "y", round_half_up(F.avg("y").over(w_ma), 6).alias("trend")
    )
    det = tr.select(
        "day", "y",
        (F.col("y") - F.col("trend")).alias("detrended"),
        (F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")) % 7).alias("dow"),
    )
    seas = det.groupBy("dow").agg(
        round_half_up(F.avg("detrended"), 6).alias("seasonal")
    )
    resid = det.join(F.broadcast(seas), "dow").select(
        "day", "y",
        round_half_up(F.col("detrended") - F.col("seasonal"), 6).alias("r"),
    )
    med = resid.agg(round_half_up(F.median("r"), 6).alias("med_r"))
    mad = (
        resid.crossJoin(F.broadcast(med))
        .agg(
            round_half_up(F.median(F.abs(F.col("r") - F.col("med_r"))), 6)
            .alias("mad_r"),
            F.first("med_r").alias("med_r"),
        )
    )
    rz_raw = F.lit(0.6745) * (F.col("r") - F.col("med_r")) / F.col("mad_r")
    return (
        resid.crossJoin(F.broadcast(mad))
        .select(
            "day", "y", "r",
            round_half_up(rz_raw, 6).alias("rz"),
            (F.abs(rz_raw) >= 2.0).alias("is_outlier"),
        )
        .orderBy("day")
    )


@query(
    "q_ts_seasonality_strength",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             floor(sum(value) * 1000000 + 0.5) / 1000000.0 AS y
      FROM events GROUP BY 1
    ), tr AS (
      SELECT day, y,
             floor(avg(y) OVER (ORDER BY day
                                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                   * 1000000 + 0.5) / 1000000.0 AS trend
      FROM daily
    ), det AS (
      SELECT day, y, trend, y - trend AS detrended,
             date_diff('day', DATE '1970-01-01', day) % 7 AS dow
      FROM tr
    ), seas AS (
      SELECT dow, floor(avg(detrended) * 1000000 + 0.5) / 1000000.0 AS seasonal
      FROM det GROUP BY dow
    ), comp AS (
      SELECT det.day, det.y, det.trend, seas.seasonal,
             floor((det.detrended - seas.seasonal) * 1000000 + 0.5)
                 / 1000000.0 AS remainder
      FROM det JOIN seas ON det.dow = seas.dow
    )
    SELECT floor(greatest(0.0, 1.0 - var_samp(remainder)
                               / var_samp(y - seasonal))
                 * 1000000 + 0.5) / 1000000.0 AS strength_trend,
           floor(greatest(0.0, 1.0 - var_samp(remainder)
                               / var_samp(y - trend))
                 * 1000000 + 0.5) / 1000000.0 AS strength_seasonal,
           floor(var_samp(remainder) * 1000000 + 0.5) / 1000000.0
               AS var_remainder,
           CAST(count(*) AS BIGINT) AS n_days
    FROM comp
    """,
)
def q_ts_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend and seasonal STRENGTH (Hyndman & Athanasopoulos, FPP:
    F_T = 1 − var(R)/var(T+R), F_S = 1 − var(R)/var(S+R), floored at
    0) — the one-row summary that tells a pipeline whether
    q_ts_seasonal_decompose's components carry signal or the series
    is noise: strengths near 0 say "don't seasonally adjust",
    near 1 say the structure dominates.  Composes the decomposition's
    canonicalized components (deseasonalized = y − seasonal,
    detrended = y − trend: exact arithmetic on identical rounded
    inputs), so the only cross-engine exposure is var_samp summation
    order over the days-sized series, absorbed at 6 dp.
    """
    from i3cols_spark.functions.rounding import round_half_up

    ev = table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(round_half_up(F.sum("value"), 6).alias("y"))
    )
    w_ma = W.orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "day", "y", round_half_up(F.avg("y").over(w_ma), 6).alias("trend")
    )
    det = tr.select(
        "day", "y", "trend",
        (F.col("y") - F.col("trend")).alias("detrended"),
        (F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")) % 7).alias("dow"),
    )
    seas = det.groupBy("dow").agg(
        round_half_up(F.avg("detrended"), 6).alias("seasonal")
    )
    comp = det.join(F.broadcast(seas), "dow").select(
        "y", "trend", "seasonal",
        round_half_up(F.col("detrended") - F.col("seasonal"), 6).alias("remainder"),
    )
    vr = F.var_samp("remainder")
    return comp.agg(
        round_half_up(
            F.greatest(
                F.lit(0.0),
                F.lit(1.0) - vr / F.var_samp(F.col("y") - F.col("seasonal")),
            ),
            6,
        ).alias("strength_trend"),
        round_half_up(
            F.greatest(
                F.lit(0.0),
                F.lit(1.0) - vr / F.var_samp(F.col("y") - F.col("trend")),
            ),
            6,
        ).alias("strength_seasonal"),
        round_half_up(vr, 6).alias("var_remainder"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )


@query(
    "q_ts_holt_winters",
    oracle="""
    WITH RECURSIVE daily AS (
        SELECT date_trunc('day', ts) AS day, round(sum(value), 2) AS y
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    ),
    d AS (
        SELECT row_number() OVER (ORDER BY day) AS t,
               epoch_us(day) AS day_us, CAST(y AS DOUBLE) AS y
        FROM daily
    ),
    hw AS (
        SELECT t, day_us, y,
               y AS level,
               (SELECT y FROM d WHERE t = 2) - y AS trend,
               CAST(NULL AS DOUBLE) AS fitted
        FROM d WHERE t = 1
        UNION ALL
        SELECT d.t, d.day_us, d.y,
               CAST(0.5 AS DOUBLE) * d.y
                   + CAST(0.5 AS DOUBLE) * (hw.level + hw.trend),
               CAST(0.25 AS DOUBLE)
                   * ((CAST(0.5 AS DOUBLE) * d.y
                       + CAST(0.5 AS DOUBLE) * (hw.level + hw.trend))
                      - hw.level)
                   + CAST(0.75 AS DOUBLE) * hw.trend,
               hw.level + hw.trend
        FROM hw JOIN d ON d.t = hw.t + 1
    )
    SELECT day_us, y,
           round(level, 6) AS level,
           round(trend, 6) AS trend,
           round(fitted, 6) AS fitted
    FROM hw
    """,
)
def q_ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (level + trend) of the daily
    purchase series, with the one-step-ahead forecast per day — the
    UNBOUNDED-RECURRENCE statistic the window grammar cannot express
    (q_ts_ewma's docstring names exactly this gap; its truncated-EWMA
    sidesteps it, this operator closes it).

    level_t = α·y_t + (1−α)·(level_{t−1} + trend_{t−1})
    trend_t = β·(level_t − level_{t−1}) + (1−β)·trend_{t−1}
    fitted_t (one-step forecast) = level_{t−1} + trend_{t−1}
    with α = 0.5, β = 0.25 — DYADIC constants, so every recurrence
    step is exact IEEE arithmetic and the two engines agree
    bit-for-bit pre-rounding (the F.aggregate ≡ sequential-fold rule,
    registry docstring).  Spark runs the recurrence as ONE JVM-side
    ``F.aggregate`` left fold over the sorted day array; the oracle
    runs the identical recurrence as a recursive CTE advancing one
    row per iteration (the CC-closure precedent).

    Scale shape: raw events collapse map-side to the DAILY grain
    before anything sequential happens, so the fold state is
    series-sized (days, not events) — the correct structure for any
    per-entity forecasting fold at 100 TB (partitionBy entity, one
    fold per entity; here the fixture has one global series, the
    degenerate single-group case).  Day values are rounded to 2 dp
    BEFORE the recurrence in both engines (multi-row float reduction
    discipline), outputs at 6 dp.
    """
    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.round(F.sum("value"), 2).alias("y")
    )
    series = daily.agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.unix_micros("day").alias("day_us"), F.col("y"))
            )
        ).alias("s")
    )
    s = F.col("s")
    null_d = F.lit(None).cast("double")
    init = F.struct(
        s[0]["y"].alias("level"),
        (s[1]["y"] - s[0]["y"]).alias("trend"),
        F.array(
            F.struct(
                s[0]["day_us"].alias("day_us"),
                s[0]["y"].alias("y"),
                s[0]["y"].alias("level"),
                (s[1]["y"] - s[0]["y"]).alias("trend"),
                null_d.alias("fitted"),
            )
        ).alias("rows"),
    )

    def step(acc, x):
        fitted = acc["level"] + acc["trend"]
        level = F.lit(0.5) * x["y"] + F.lit(0.5) * fitted
        trend = (
            F.lit(0.25) * (level - acc["level"]) + F.lit(0.75) * acc["trend"]
        )
        return F.struct(
            level.alias("level"),
            trend.alias("trend"),
            F.concat(
                acc["rows"],
                F.array(
                    F.struct(
                        x["day_us"].alias("day_us"),
                        x["y"].alias("y"),
                        level.alias("level"),
                        trend.alias("trend"),
                        fitted.alias("fitted"),
                    )
                ),
            ).alias("rows"),
        )

    folded = series.select(
        F.aggregate(
            F.slice(s, 2, F.greatest(F.size(s) - 1, F.lit(0))),
            init,
            step,
            lambda acc: acc["rows"],
        ).alias("rows")
    )
    r = F.col("r")
    return folded.select(F.explode("rows").alias("r")).select(
        r["day_us"].alias("day_us"),
        r["y"].alias("y"),
        F.round(r["level"], 6).alias("level"),
        F.round(r["trend"], 6).alias("trend"),
        F.round(r["fitted"], 6).alias("fitted"),
    )


#: SAX knobs (Lin/Keogh et al. 2003): series length, PAA word length,
#: and the alphabet-4 Gaussian breakpoints (±0.6745 = Φ⁻¹(¾)).
_SAX_LEN = 64
_SAX_SEG = 8
_SAX_BREAKS = (-0.6745, 0.0, 0.6745)


@query(
    "q_ts_sax_symbolic",
    oracle=f"""
    WITH s AS (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    s64 AS (SELECT * FROM s WHERE rn <= {_SAX_LEN}),
    q AS (
        SELECT user_id, round(avg(value), 9) AS mu,
               round(stddev_pop(value), 9) AS sg
        FROM s64 GROUP BY user_id HAVING count(*) = {_SAX_LEN}
    ),
    z AS (
        SELECT s.user_id,
               CAST(floor((s.rn - 1) / {_SAX_LEN // _SAX_SEG}) AS BIGINT)
                   AS seg,
               CASE WHEN q.sg > 0 THEN (s.value - q.mu) / q.sg
                    ELSE CAST(0 AS DOUBLE) END AS z
        FROM s64 s JOIN q ON q.user_id = s.user_id
    ),
    paa AS (
        SELECT user_id, seg, round(avg(z), 9) AS m
        FROM z GROUP BY user_id, seg
    ),
    sym AS (
        SELECT user_id, seg,
               CASE WHEN m < {_SAX_BREAKS[0]} THEN 'a'
                    WHEN m < {_SAX_BREAKS[1]} THEN 'b'
                    WHEN m < {_SAX_BREAKS[2]} THEN 'c'
                    ELSE 'd' END AS c
        FROM paa
    )
    SELECT sym.user_id,
           string_agg(c, '' ORDER BY seg) AS sax,
           round(any_value(q.mu), 6) AS mu,
           round(any_value(q.sg), 6) AS sg
    FROM sym JOIN q ON q.user_id = sym.user_id
    GROUP BY sym.user_id
    ORDER BY sym.user_id
    """,
)
def q_ts_sax_symbolic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization (Lin & Keogh 2003) — each user's first
    64 (_SAX_LEN) event values (ordered by ts, event_id) z-normalized,
    PAA-compressed to 8 (_SAX_SEG) segment means, and quantized against
    the alphabet-4 Gaussian breakpoints ±0.6745/0 into an 8-character
    word.  The symbolic fingerprint is what motif discovery, series
    dedup and index-accelerated similarity run on INSTEAD of raw
    floats — the time-series twin of document fingerprinting.  Users
    with fewer than 64 events are out of scope (no partial
    words).

    Shape: one window pass (row_number per user) → per-user stats →
    per-segment means → one symbol concat; every stage is keyed by
    user_id, so the SAME hash partitioning carries through and the
    per-user state is 8 segment rows — linear in users at any scale.
    Cross-engine FP: μ, σ and segment means are multi-row float
    reductions → rounded 9 dp in both dialects before any breakpoint
    comparison (so both engines quantize identical doubles); σ = 0
    series z-map to 0.  Symbol assembly orders by segment index in
    both dialects (array_sort on the struct / ORDER BY inside
    string_agg).
    """
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    rn = F.row_number().over(W.partitionBy("user_id").orderBy("ts", "event_id"))
    s64 = ev.withColumn("rn", rn).filter(F.col("rn") <= _SAX_LEN)
    q = (
        s64.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 9).alias("mu"),
            F.round(F.stddev_pop("value"), 9).alias("sg"),
        )
        .filter(F.col("n") == _SAX_LEN)
        .drop("n")
    )
    z = s64.join(q, "user_id").select(
        "user_id",
        "mu",
        "sg",
        F.floor((F.col("rn") - 1) / (_SAX_LEN // _SAX_SEG))
        .cast("long")
        .alias("seg"),
        F.when(
            F.col("sg") > 0, (F.col("value") - F.col("mu")) / F.col("sg")
        )
        .otherwise(F.lit(0.0))
        .alias("z"),
    )
    paa = z.groupBy("user_id", "seg").agg(
        F.round(F.avg("z"), 9).alias("m"),
        F.first("mu").alias("mu"),
        F.first("sg").alias("sg"),
    )
    sym = (
        F.when(F.col("m") < _SAX_BREAKS[0], "a")
        .when(F.col("m") < _SAX_BREAKS[1], "b")
        .when(F.col("m") < _SAX_BREAKS[2], "c")
        .otherwise("d")
    )
    return (
        paa.select("user_id", "seg", sym.alias("c"), "mu", "sg")
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg", "c"))),
                    lambda x: x["c"],
                ),
                "",
            ).alias("sax"),
            F.round(F.first("mu"), 6).alias("mu"),
            F.round(F.first("sg"), 6).alias("sg"),
        )
        .orderBy("user_id")
    )


@query(
    "q_event_attribution",
    oracle="""
    WITH ev AS (
        SELECT user_id, event_id, ts, event_type,
               count(CASE WHEN event_type = 'click' THEN 1 END)
                   OVER w AS n_prior_clicks,
               min(CASE WHEN event_type = 'click' THEN ts END)
                   OVER w AS first_click_ts,
               max(CASE WHEN event_type = 'click' THEN ts END)
                   OVER w AS last_click_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
           CAST(n_prior_clicks AS BIGINT) AS n_prior_clicks,
           first_click_ts, last_click_ts,
           CAST(date_diff('second', last_click_ts, ts) AS BIGINT)
               AS secs_since_last_click
    FROM ev
    WHERE event_type = 'purchase'
    ORDER BY purchase_id
    """,
)
def q_event_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch attribution — for every purchase, the count
    of the user's prior clicks and the first/last click timestamps
    strictly before it (by (ts, event_id) order), plus
    time-since-last-touch.  The marketing-attribution primitive that
    sits between q_funnel_conversion (did the path happen) and
    q_event_transitions (which step follows which): WHICH touch gets
    credit, and how stale it was.

    Shape: one per-user ordered window pass with conditional
    accumulators (count/min/max over the UNBOUNDED-to-1-PRECEDING
    frame — running state, no self-join, no per-pair rows), then a
    filter to purchases.  The same user-keyed shuffle every
    sessionization query pays; purchases without any prior click
    keep NULL touch columns (unattributed conversions are exactly
    what the report must surface).  All outputs are exact integers
    and timestamps — no FP discipline needed.
    """
    ev = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    is_click = F.col("event_type") == "click"
    enriched = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.count(F.when(is_click, 1)).over(w).cast("long").alias("n_prior_clicks"),
        F.min(F.when(is_click, F.col("ts"))).over(w).alias("first_click_ts"),
        F.max(F.when(is_click, F.col("ts"))).over(w).alias("last_click_ts"),
    )
    return (
        enriched.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "n_prior_clicks",
            "first_click_ts",
            "last_click_ts",
            (
                F.unix_timestamp("ts") - F.unix_timestamp("last_click_ts")
            ).cast("long").alias("secs_since_last_click"),
        )
        .orderBy("purchase_id")
    )


@query(
    "q_ts_rolling_median",
    oracle="""
    WITH fr AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
             list_sort(list(value) OVER w) AS arr
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id, ts_us, value,
           CAST(len(arr) AS BIGINT) AS n_window,
           (arr[(len(arr) + 1) // 2]
            + arr[len(arr) // 2 + 1]) / 2 AS roll_median
    FROM fr
    ORDER BY user_id, ts_us, event_id
    """,
)
def q_ts_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling MEDIAN over a trailing 10-row frame per user —
    the robust companion of q_ts_ewma's exponentially-weighted mean:
    one outlier event shifts an EWMA for ten rows but moves the
    rolling median not at all, which is why monitoring baselines and
    spike detectors prefer it.  Spark has no median window function,
    so the frame is materialized with collect_list, sorted in-row,
    and the median selected positionally — (arr[(n+1)/2] + arr[n/2+1])
    / 2 handles odd and even frames in one expression (odd frames
    select the same element twice).  The oracle mirrors the SAME
    positional construction — deliberately NOT DuckDB's native
    windowed median(), whose even-count interpolation x+(y-x)/2 can
    differ from (x+y)/2 by one ulp; the property test pins the
    convention against python statistics.median (which computes
    (x+y)/2) as the independent third implementation.

    Scale shape: ONE per-user window pass; per-row state is the
    10-element frame (O(frame), never O(partition) — the same bounded
    -frame discipline as q_window_sliding_frame), so a 100 TB events
    table streams through whole-stage codegen after one user-keyed
    shuffle.  Determinism: (ts, event_id) is a total order per user.
    No rounding is needed: the median is a SELECTION (plus one
    two-operand mean) of input doubles, not a multi-row float
    reduction, so both engines emit bit-identical values.
    """
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, W.currentRow)
    )
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    med = (
        F.element_at(arr, ((n + 1) / 2).cast("int"))
        + F.element_at(arr, (n / 2 + 1).cast("int"))
    ) / 2
    return (
        table(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "value",
            n.cast("long").alias("n_window"),
            med.alias("roll_median"),
        )
        .orderBy("user_id", "ts_us", "event_id")
    )


@query(
    "q_ts_interval_merge",
    oracle="""
    WITH iv AS (
      SELECT o_custkey AS cust, o_orderkey AS ok,
             epoch_us(o_orderdate) AS s,
             epoch_us(o_orderdate) + 2592000000000 AS e
      FROM orders
    ), flagged AS (
      SELECT cust, ok, s, e,
             CASE WHEN max(e) OVER (PARTITION BY cust ORDER BY s, ok
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                      IS NULL
                  OR s > max(e) OVER (PARTITION BY cust ORDER BY s, ok
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS is_new
      FROM iv
    ), islands AS (
      SELECT cust, s, e,
             sum(is_new) OVER (PARTITION BY cust ORDER BY s, ok
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS episode
      FROM flagged
    )
    SELECT cust AS o_custkey, CAST(episode AS BIGINT) AS episode,
           min(s) AS episode_start_us, max(e) AS episode_end_us,
           CAST(count(*) AS BIGINT) AS n_orders,
           (max(e) - min(s)) / 86400000000.0 AS span_days
    FROM islands
    GROUP BY cust, episode
    ORDER BY o_custkey, episode
    """,
)
def q_ts_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval coalescing (temporal UNION): each order opens a
    30-day activity window [orderdate, orderdate+30d); overlapping or
    touching windows of the same customer merge into one episode —
    the primitive behind contiguous-coverage questions (subscription
    spans, sensor uptime, SLA windows) and the COMPLEMENT of the
    family's other temporal ops: q_window_islands finds gaps in a
    discrete sequence, q_scd2_intervals builds disjoint validity
    intervals from change events, THIS op unions overlapping ones.

    Algorithm: per key, a running max(end) over the start-sorted
    PRECEDING rows; a row opens a new episode iff its start exceeds
    that max (touching merges — half-open convention); the episode id
    is the running sum of open flags.  Two window passes over the
    SAME (cust, start, ok) sort order + one aggregate — Catalyst
    reuses the exchange AND the sort, so a 100 TB order stream pays
    one shuffle.  Per-row window state is O(1) (a running max and a
    running sum, never a frame buffer).

    Exactness: all interval arithmetic is integer epoch-microseconds
    (2592000000000 = 30 days); span_days is one division of exact
    integers — identical doubles cross-engine, no rounding needed.
    """
    iv = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderkey").alias("ok"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("s"),
        (
            F.unix_micros(F.col("o_orderdate").cast("timestamp"))
            + F.lit(2592000000000)
        ).alias("e"),
    )
    w_prev = (
        W.partitionBy("cust")
        .orderBy("s", "ok")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w_run = (
        W.partitionBy("cust")
        .orderBy("s", "ok")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    prev_max = F.max("e").over(w_prev)
    flagged = iv.withColumn(
        "is_new",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
    )
    islands = flagged.withColumn("episode", F.sum("is_new").over(w_run))
    return (
        islands.groupBy(
            F.col("cust").alias("o_custkey"),
            F.col("episode").cast("long").alias("episode"),
        )
        .agg(
            F.min("s").alias("episode_start_us"),
            F.max("e").alias("episode_end_us"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            (
                (F.max("e") - F.min("s")) / F.lit(86400000000.0)
            ).alias("span_days"),
        )
        .orderBy("o_custkey", "episode")
    )


@query(
    "q_ts_mann_kendall",
    oracle="""
    WITH m AS (
      SELECT l_returnflag AS rf, date_trunc('month', l_shipdate) AS mon,
             round(sum(l_extendedprice), 2) AS v
      FROM lineitem GROUP BY 1, 2
    ), s AS (
      SELECT a.rf,
             CAST(sum(CASE WHEN b.v > a.v THEN 1
                           WHEN b.v < a.v THEN -1 ELSE 0 END)
                  AS BIGINT) AS s_stat
      FROM m a JOIN m b ON b.rf = a.rf AND b.mon > a.mon
      GROUP BY a.rf
    ), n AS (
      SELECT rf, CAST(count(*) AS BIGINT) AS n FROM m GROUP BY rf
    ), ties AS (
      SELECT rf, coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS tie_term
      FROM (SELECT rf, CAST(count(*) AS BIGINT) AS t
            FROM m GROUP BY rf, v)
      WHERE t > 1 GROUP BY rf
    )
    SELECT n.rf AS l_returnflag, n.n AS n_periods, s.s_stat,
           floor((n.n * (n.n - 1) * (2 * n.n + 5) - coalesce(t.tie_term, 0))
                 / 18.0 * 1000000 + 0.5) / 1000000.0 AS var_s,
           floor(CASE WHEN s.s_stat > 0 THEN (s.s_stat - 1)
                      WHEN s.s_stat < 0 THEN (s.s_stat + 1)
                      ELSE 0 END
                 / sqrt((n.n * (n.n - 1) * (2 * n.n + 5)
                         - coalesce(t.tie_term, 0)) / 18.0)
                 * 1000000 + 0.5) / 1000000.0 AS z_stat
    FROM n JOIN s ON s.rf = n.rf LEFT JOIN ties t ON t.rf = n.rf
    ORDER BY l_returnflag
    """,
)
def q_ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall monotonic-trend test per return flag over the
    monthly revenue series — the NON-PARAMETRIC trend detector
    monitoring pipelines run where OLS slope (q_stats_ols2,
    q_stats_theil_sen) assumes linearity: S = Σ_{i<j} sign(x_j −
    x_i) counts concordant minus discordant month pairs, the
    tie-corrected variance Var = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18
    and the continuity-corrected z follow Kendall (1975).  Theil–Sen
    gives the trend's SLOPE; Mann–Kendall gives its SIGNIFICANCE —
    the two are the standard pairing.

    Scale shape: the data-sized pass is ONE map-side-combined
    (flag, month) aggregate; the O(n²) pair join runs on the
    AGGREGATED series (n ≈ dozens of months per flag — at 100 TB the
    series length is a calendar property, not a data property, so the
    quadratic stage is bounded by design; the same collapse-first
    argument as the Kendall-tau operator).  Monthly values are
    round(sum,2)-canonicalized before ANY comparison so sign() sees
    identical doubles in both engines; S, n and the tie term are
    exact integers → HALF_UP 6 dp.
    """
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("rf"),
        F.date_trunc("month", "l_shipdate").alias("mon"),
        "l_extendedprice",
    )
    m = li.groupBy("rf", "mon").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("v")
    )
    a, b = m.alias("a"), m.alias("b")
    s = (
        a.join(
            b,
            (F.col("b.rf") == F.col("a.rf")) & (F.col("b.mon") > F.col("a.mon")),
        )
        .groupBy(F.col("a.rf").alias("rf"))
        .agg(
            F.sum(
                F.when(F.col("b.v") > F.col("a.v"), 1)
                .when(F.col("b.v") < F.col("a.v"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    n = m.groupBy("rf").agg(F.count(F.lit(1)).cast("long").alias("n"))
    ties = (
        m.groupBy("rf", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .filter(F.col("t") > 1)
        .groupBy("rf")
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)).alias(
                "tie_term"
            )
        )
    )
    from i3cols_spark.functions.rounding import round_half_up

    joined = (
        n.join(s, "rf")
        .join(ties, "rf", "left")
        .withColumn("tt", F.coalesce(F.col("tie_term"), F.lit(0)))
    )
    var_expr = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tt")
    ) / 18.0
    z_num = (
        F.when(F.col("s_stat") > 0, F.col("s_stat") - 1)
        .when(F.col("s_stat") < 0, F.col("s_stat") + 1)
        .otherwise(0)
    )
    return joined.select(
        F.col("rf").alias("l_returnflag"),
        F.col("n").alias("n_periods"),
        "s_stat",
        round_half_up(var_expr, 6).alias("var_s"),
        round_half_up(z_num / F.sqrt(var_expr), 6).alias("z_stat"),
    ).orderBy("l_returnflag")


@query(
    "q_ts_active_days",
    oracle="""
    WITH iv AS (
      SELECT o_custkey AS cust, o_orderkey AS ok,
             epoch_us(o_orderdate) AS s,
             epoch_us(o_orderdate) + 2592000000000 AS e
      FROM orders
    ), flagged AS (
      SELECT cust, ok, s, e,
             CASE WHEN max(e) OVER (PARTITION BY cust ORDER BY s, ok
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                      IS NULL
                  OR s > max(e) OVER (PARTITION BY cust ORDER BY s, ok
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS is_new
      FROM iv
    ), islands AS (
      SELECT cust, s, e,
             sum(is_new) OVER (PARTITION BY cust ORDER BY s, ok
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS episode
      FROM flagged
    ), ep AS (
      SELECT cust, min(s) AS s, max(e) AS e
      FROM islands GROUP BY cust, episode
    ), alloc AS (
      SELECT cust,
             epoch_us(mon) AS mon_us,
             least(e, epoch_us(mon + INTERVAL 1 MONTH))
               - greatest(s, epoch_us(mon)) AS ov_us
      FROM ep, unnest(generate_series(
               date_trunc('month', make_timestamp(s)),
               date_trunc('month', make_timestamp(e - 1)),
               INTERVAL 1 MONTH)) AS t(mon)
    )
    SELECT mon_us AS month_us,
           CAST(count(DISTINCT cust) AS BIGINT) AS n_customers,
           CAST(sum(ov_us) AS BIGINT) AS active_us,
           sum(ov_us) / 86400000000.0 AS active_days
    FROM alloc
    GROUP BY mon_us
    ORDER BY month_us
    """,
)
def q_ts_active_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal ALLOCATION: distribute each customer's merged
    activity episodes (the q_ts_interval_merge construction, replayed
    end-to-end here and in the oracle) across the calendar months
    they span, clamping at month boundaries — yielding per-month
    active-customer counts and exact active-days, the utilization /
    billing / capacity primitive ("customer-days in March") that a
    plain groupBy-by-event-month CANNOT produce because an episode
    contributes to every month it crosses.

    Episodes are non-overlapping by construction (the merge step), so
    the allocation never double-counts; the month explode is bounded
    by episode span (≤ span/30d + 1 rows per episode).  All overlap
    arithmetic stays in integer epoch-microseconds, summed exactly as
    BIGINT (active_us), with ONE final division to days — no
    float-summation-order exposure.  The exclusive episode end is
    handled by truncating e−1 for the month series so a boundary-
    aligned end contributes no empty month.

    Scale: interval merge is one shuffle (see q_ts_interval_merge);
    the allocation adds an in-row explode (calendar-bounded fan-out)
    and one month-keyed aggregate whose cardinality is the calendar,
    not the data.
    """
    iv = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderkey").alias("ok"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("s"),
        (
            F.unix_micros(F.col("o_orderdate").cast("timestamp"))
            + F.lit(2592000000000)
        ).alias("e"),
    )
    w_prev = (
        W.partitionBy("cust")
        .orderBy("s", "ok")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w_run = (
        W.partitionBy("cust")
        .orderBy("s", "ok")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    prev_max = F.max("e").over(w_prev)
    ep = (
        iv.withColumn(
            "is_new",
            F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
        )
        .withColumn("episode", F.sum("is_new").over(w_run))
        .groupBy("cust", "episode")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
    )
    months = F.sequence(
        F.date_trunc("month", F.timestamp_micros(F.col("s"))),
        F.date_trunc("month", F.timestamp_micros(F.col("e") - 1)),
        F.expr("interval 1 month"),
    )
    alloc = ep.select(
        "cust",
        "s",
        "e",
        F.explode(months).alias("mon"),
    ).select(
        "cust",
        F.unix_micros("mon").alias("mon_us"),
        (
            F.least(
                F.col("e"),
                F.unix_micros(F.col("mon") + F.expr("interval 1 month")),
            )
            - F.greatest(F.col("s"), F.unix_micros("mon"))
        ).alias("ov_us"),
    )
    return (
        alloc.groupBy(F.col("mon_us").alias("month_us"))
        .agg(
            F.countDistinct("cust").cast("long").alias("n_customers"),
            F.sum("ov_us").cast("long").alias("active_us"),
            (F.sum("ov_us") / F.lit(86400000000.0)).alias("active_days"),
        )
        .orderBy("month_us")
    )


@query(
    "q_event_path_summary",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
             CASE WHEN epoch_us(ts)
                       - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id)
                       > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sess AS (
      SELECT user_id, event_id, event_type, us,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS session_id
      FROM g
    ), paths AS (
      SELECT user_id, session_id,
             string_agg(event_type, '>' ORDER BY us, event_id) AS path,
             CAST(count(*) AS BIGINT) AS n_events
      FROM sess GROUP BY user_id, session_id
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM paths
    ), corpus AS (
      SELECT path, min(n_events) AS path_len,
             CAST(count(*) AS BIGINT) AS n_sessions
      FROM paths GROUP BY path
    )
    SELECT path, path_len, n_sessions,
           floor(n_sessions * 1.0 / t.n * 1000000 + 0.5) / 1000000.0
               AS share
    FROM (SELECT *, row_number() OVER (ORDER BY n_sessions DESC, path)
                        AS rk
          FROM corpus) c CROSS JOIN tot t
    WHERE rk <= 20
    ORDER BY n_sessions DESC, path
    """,
)
def q_event_path_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream path analysis: sessionize (the q_window_sessionid
    30-minute-gap construction, replayed verbatim), render each
    session as its ordered event-type path string, and report the
    corpus top-20 paths with session counts and share — the
    "what do users actually DO" summary that funnels
    (q_funnel_conversion) and Markov transitions
    (q_event_transitions) both abstract away: a funnel fixes the
    pattern up front, transitions are memoryless one-steps, paths
    keep whole trajectories.

    Determinism: path order is (ts, event_id) — a total order; the
    top-k ranks by (n_sessions DESC, path ASC), integer/string only;
    share is an exact-integer ratio → HALF_UP 6 dp.

    Scale: the sessionize windows share one user-keyed exchange (see
    q_window_sessionid); the per-session path build is one aggregate
    whose state is the session's events (human-bounded, the same
    argument as the session window ops); the corpus rollup is
    distinct-path-sized.  Real clickstreams cap path length (head-k
    events per session) to bound the string — noted, not needed at
    fixture session lengths.
    """
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    run = (
        W.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    g = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.when(
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
            > 1_800_000_000,
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    sess = g.withColumn("session_id", F.sum("is_new").over(run))
    paths = sess.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("us", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    corpus = paths.groupBy("path").agg(
        F.min("n_events").alias("path_len"),
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
    )
    from i3cols_spark.functions.rounding import round_half_up

    # Total sessions as a window sum over the (distinct-path-sized)
    # corpus table — NOT a second paths.agg(): a separate count
    # consumer would duplicate the whole sessionize subtree (two
    # user-keyed exchanges, four window passes — caught by the plan
    # test), while this adds one single-partition window over a tiny
    # relation the rank window already sorts.
    ranked = corpus.select(
        "*",
        F.sum("n_sessions").over(W.partitionBy()).alias("n"),
        F.row_number()
        .over(W.orderBy(F.desc("n_sessions"), F.asc("path")))
        .alias("rk"),
    ).filter(F.col("rk") <= 20)
    return (
        ranked.select(
            "path",
            "path_len",
            "n_sessions",
            round_half_up(F.col("n_sessions") * 1.0 / F.col("n"), 6).alias(
                "share"
            ),
        )
        .orderBy(F.desc("n_sessions"), F.asc("path"))
    )


@query(
    "q_ts_backtest_naive",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', l_shipdate) AS mon,
             CAST(floor(round(sum(l_extendedprice), 2) * 100 + 0.5)
                  AS BIGINT) AS vc
      FROM lineitem GROUP BY 1
    ), lagd AS (
      SELECT mon, vc,
             lag(vc, 1) OVER (ORDER BY mon) AS l1,
             lag(vc, 12) OVER (ORDER BY mon) AS l12,
             CAST(floor((lag(vc, 1) OVER (ORDER BY mon)
                         + lag(vc, 2) OVER (ORDER BY mon)
                         + lag(vc, 3) OVER (ORDER BY mon)) / 3.0 + 0.5)
                  AS BIGINT) AS ma3
      FROM m
    ), ev AS (
      SELECT * FROM (
        SELECT mon, vc,
               row_number() OVER (ORDER BY mon DESC) AS rev
        FROM lagd WHERE l12 IS NOT NULL AND ma3 IS NOT NULL
      ) WHERE rev <= 12
    ), f AS (
      SELECT 'naive' AS method, e.mon, e.vc, d.l1 AS fc
      FROM ev e JOIN lagd d ON d.mon = e.mon
      UNION ALL
      SELECT 'seasonal_naive', e.mon, e.vc, d.l12
      FROM ev e JOIN lagd d ON d.mon = e.mon
      UNION ALL
      SELECT 'moving_avg_3', e.mon, e.vc, d.ma3
      FROM ev e JOIN lagd d ON d.mon = e.mon
    )
    SELECT method,
           CAST(count(*) AS BIGINT) AS n_evals,
           floor(sum(abs(vc - fc)) / count(*) / 100.0 * 1000000 + 0.5)
               / 1000000.0 AS mae,
           floor(sum(CAST(floor(abs(vc - fc) * 1000000.0 / vc + 0.5)
                          AS BIGINT))
                 / (count(*) * 10000.0) * 1000000 + 0.5) / 1000000.0
               AS mape_pct
    FROM f GROUP BY method
    ORDER BY method
    """,
)
def q_ts_backtest_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin forecast BACKTEST: one-step-ahead forecasts of
    monthly revenue from three reference methods — naive (last
    month), seasonal-naive (same month last year), 3-month moving
    average — scored by MAE and MAPE over the last 12 evaluable
    months.  This is the eval loop of the forecasting family
    (q_ts_ewma / q_ts_holt_winters / q_ts_holt_winters PRODUCE
    forecasts; this MEASURES them): any real forecaster must beat
    seasonal-naive before it ships, and the reference methods are
    themselves pure window expressions, so the whole backtest is one
    window pass — no per-cutoff refit loop.

    Exactness: monthly values are canonicalized to integer CENTS
    (floor(round(sum,2)·100+0.5)), so forecasts and absolute errors
    are exact BIGINTs; per-month MAPE terms are micro-int-quantized
    before averaging (the q_ml_eval_ndcg discipline), leaving one
    final division per metric → HALF_UP 6 dp.  The moving-average
    forecast is itself half-up-rounded to whole cents — the pinned
    cross-engine convention.

    Scale: the data-sized pass is one month-keyed aggregate; lags,
    eval-window selection and scoring all run on the calendar-bounded
    series (the Mann–Kendall argument).
    """
    m = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.date_trunc("month", "l_shipdate").alias("mon"))
        .agg(
            F.floor(F.round(F.sum("l_extendedprice"), 2) * 100 + F.lit(0.5))
            .cast("long")
            .alias("vc")
        )
    )
    w = W.orderBy("mon")
    lagd = m.select(
        "mon",
        "vc",
        F.lag("vc", 1).over(w).alias("l1"),
        F.lag("vc", 12).over(w).alias("l12"),
        F.floor(
            (
                F.lag("vc", 1).over(w)
                + F.lag("vc", 2).over(w)
                + F.lag("vc", 3).over(w)
            )
            / 3.0
            + F.lit(0.5)
        )
        .cast("long")
        .alias("ma3"),
    )
    ev = (
        lagd.filter(F.col("l12").isNotNull() & F.col("ma3").isNotNull())
        .withColumn("rev", F.row_number().over(W.orderBy(F.desc("mon"))))
        .filter(F.col("rev") <= 12)
        .select("mon", "vc", "l1", "l12", "ma3")
    )
    parts = []
    for method, col in (
        ("naive", "l1"),
        ("seasonal_naive", "l12"),
        ("moving_avg_3", "ma3"),
    ):
        parts.append(
            ev.select(
                F.lit(method).alias("method"),
                "vc",
                F.col(col).alias("fc"),
            )
        )
    f = parts[0].unionAll(parts[1]).unionAll(parts[2])
    from i3cols_spark.functions.rounding import round_half_up

    return (
        f.groupBy("method")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_evals"),
            round_half_up(
                F.sum(F.abs(F.col("vc") - F.col("fc")))
                / F.count(F.lit(1))
                / F.lit(100.0),
                6,
            ).alias("mae"),
            round_half_up(
                F.sum(
                    F.floor(
                        F.abs(F.col("vc") - F.col("fc"))
                        * F.lit(1000000.0)
                        / F.col("vc")
                        + F.lit(0.5)
                    ).cast("long")
                )
                / (F.count(F.lit(1)) * F.lit(10000.0)),
                6,
            ).alias("mape_pct"),
        )
        .orderBy("method")
    )


@query(
    "q_window_skyline",
    oracle="""
    WITH mx AS (
      SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS q,
             max(l_extendedprice) AS best_price,
             CAST(count(*) AS BIGINT) AS n_at_q
      FROM lineitem GROUP BY 1, 2
    ), stair AS (
      SELECT g, q, best_price, n_at_q,
             max(best_price) OVER (PARTITION BY g ORDER BY q DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS prev_best
      FROM mx
    )
    SELECT g AS l_returnflag, q AS quantity, best_price, n_at_q
    FROM stair
    WHERE prev_best IS NULL OR best_price > prev_best
    ORDER BY l_returnflag, quantity DESC
    """,
)
def q_window_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D SKYLINE (Pareto frontier) per return flag: the line items
    not dominated in (quantity, price) — no other item of the flag
    has both ≥ quantity AND ≥ price with one strict — the classic
    Börzsönyi et al. (2001) database operator behind "best trade-off"
    queries (cheapest-per-capacity, fastest-per-cost).  The 2-D case
    needs NO pairwise dominance join: collapse to max(price) per
    distinct quantity (map-side combined), then the STAIRCASE window
    — descending-quantity running max of price over the PRECEDING
    frame — keeps exactly the points that beat every higher-quantity
    best.  This is the dominance family's frontier member next to
    q_topk (1-D order), q_window_topk_pergroup (per-group 1-D) and
    q_agg_pareto (cumulative-share concentration).

    Determinism/exactness: the collapse makes (g, q) unique so the
    window order is total; comparisons are raw doubles (no
    arithmetic, no rounding needed); n_at_q rides along as exact
    counts.  Scale: the window runs over |flags| × |distinct
    quantities| collapsed rows — a 100 TB scan folds to a
    design-constant staircase before any sort; d-dimensional
    skylines (d > 2) need the block-nested or sort-filter-skyline
    pair join, noted as out of scope.
    """
    mx = (
        table(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_returnflag").alias("g"),
            F.col("l_quantity").cast("long").alias("q"),
        )
        .agg(
            F.max("l_extendedprice").alias("best_price"),
            F.count(F.lit(1)).cast("long").alias("n_at_q"),
        )
    )
    w = (
        W.partitionBy("g")
        .orderBy(F.desc("q"))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    stair = mx.withColumn("prev_best", F.max("best_price").over(w))
    return (
        stair.filter(
            F.col("prev_best").isNull()
            | (F.col("best_price") > F.col("prev_best"))
        )
        .select(
            F.col("g").alias("l_returnflag"),
            F.col("q").alias("quantity"),
            "best_price",
            "n_at_q",
        )
        .orderBy("l_returnflag", F.desc("quantity"))
    )
