"""§2.3-E — streaming semantics, batch-checkable forms.

One frame per stream/batch twin: each window, aggregate and join here
is a function of an events frame (``tumbling_counts``,
``sliding_counts``, ``session_counts``, ``view_purchase_pairs``).  The
``q_*`` query applies it to the batch table so the DuckDB oracle can
check it; streaming/jobs.py applies the same function to a readStream
source, and tests assert ``availableNow`` ≡ batch (SURVEY §2.3-E
note).  The watermarks that bound streaming state are applied inside
the frames; Spark's analyzer removes them from batch plans
(``EliminateEventTimeWatermark``, pinned by test_plans).

Window starts are emitted as epoch-µs BIGINT — integer in both
engines, immune to timestamp-precision drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from i3cols_spark.operators.registry import query
from i3cols_spark.sources.tables import table

_HOUR_US = 3_600_000_000
_Q15_US = 900_000_000
_GAP_US = 1_800_000_000  # 30 min session gap


@query(
    "q_stream_tumbling",
    oracle=f"""
    SELECT (epoch_us(ts) // {_HOUR_US}) * {_HOUR_US} AS window_start_us,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2)     AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events per type per 1-hour tumbling window (``tumbling_counts``
    over the events table)."""
    return tumbling_counts(table(spark, sf_dir, "events"))


def tumbling_counts(ev: DataFrame) -> DataFrame:
    """Events and rounded value per type per 1-hour tumbling window
    (Spark's epoch-aligned window()), under a 10-min watermark."""
    return (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.unix_micros("w.start").alias("window_start_us"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "q_stream_sliding",
    oracle=f"""
    SELECT (epoch_us(ts) // {_Q15_US} - k.k) * {_Q15_US} AS window_start_us,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events, generate_series(0, 3) k(k)
    GROUP BY 1
    """,
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 min (each event lands in exactly
    4 windows).  Oracle derives the same 4 window starts with integer
    µs arithmetic — the definition of sliding-window assignment."""
    return sliding_counts(table(spark, sf_dir, "events"))


def sliding_counts(ev: DataFrame) -> DataFrame:
    """Events per 1-hour window sliding every 15 min, under a 10-min
    watermark."""
    return (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_micros("w.start").alias("window_start_us"),
            "n_events",
        )
    )


@query(
    "q_stream_session",
    oracle=f"""
    WITH marked AS (
        SELECT user_id, epoch_us(ts) AS ts_us,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {_GAP_US}
                    OR lag(epoch_us(ts)) OVER w IS NULL
                    THEN 1 ELSE 0 END AS is_start
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts_us,
               sum(is_start) OVER (
                   PARTITION BY user_id ORDER BY ts_us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sid
        FROM marked
    )
    SELECT user_id,
           min(ts_us)              AS session_start_us,
           max(ts_us) + {_GAP_US}  AS session_end_us,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sessions
    GROUP BY user_id, sid
    """,
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-min inactivity gap.

    Spark: native session_window (merging state in streaming; a
    sort-based merge in batch).  Oracle: the classic gap-and-island
    construction (lag → cumulative start flags → group), proving the
    two formulations agree.  session end = last event + gap.
    """
    return session_counts(table(spark, sf_dir, "events"))


def session_counts(ev: DataFrame) -> DataFrame:
    """Events per user per 30-min-gap session window, under a 10-min
    watermark."""
    return (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            F.unix_micros("w.end").alias("session_end_us"),
            "n_events",
        )
    )


_DEDUP_ORACLE = """
    SELECT user_id, event_type,
           min(epoch_us(ts))        AS first_ts_us,
           CAST(count(*) AS BIGINT) AS n_dropped_plus_one
    FROM events
    GROUP BY user_id, event_type
    """


# SURVEY §2.3-E declares this query as ``q_stream_dedup_stateful``;
# both names are registered.
@query("q_stream_dedup_stateful", oracle=_DEDUP_ORACLE)
@query("q_stream_dedup", oracle=_DEDUP_ORACLE)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first dedup on (user_id, event_type) — the batch semantics
    of streaming dropDuplicates, with the duplicate count retained so
    the check is not vacuous.  streaming/jobs.py runs the true
    ``dropDuplicatesWithinWatermark`` variant."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.min(F.unix_micros("ts")).alias("first_ts_us"),
        F.count("*").alias("n_dropped_plus_one"),
    )


@query(
    "q_stream_join",
    oracle=f"""
    SELECT v.user_id,
           v.event_id AS view_id,
           p.event_id AS purchase_id,
           epoch_us(p.ts) - epoch_us(v.ts) AS lag_us
    FROM events v
    JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view'
     AND p.event_type = 'purchase'
     AND epoch_us(p.ts) BETWEEN epoch_us(v.ts)
                            AND epoch_us(v.ts) + {_GAP_US}
    """,
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View→purchase conversion join: each view paired with the same
    user's purchases in the following 30 minutes — the batch form of a
    watermarked stream-stream interval join (``view_purchase_pairs``;
    state per side is bounded by watermark + the 30-min join range, so
    it holds at unbounded input).

    Batch plan: an equi-join on user_id with the interval predicate as
    a post-join filter — one shuffle on the join key, never a
    cartesian expansion.
    """
    return view_purchase_pairs(table(spark, sf_dir, "events"))


def view_purchase_pairs(ev: DataFrame) -> DataFrame:
    """Each view joined to the same user's purchases in the next 30
    minutes, both sides under a 10-min watermark.  The event-time
    bound in the join condition is what lets a streaming state store
    drop a view after watermark + 30 min and a purchase after the
    watermark."""
    views = (
        ev.filter(F.col("event_type") == "view")
        .select("user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "10 minutes")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    return (
        views.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("p_ts") >= F.col("v_ts"))
            & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
        )
        .select(
            "user_id",
            "view_id",
            "purchase_id",
            (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias("lag_us"),
        )
    )


@query(
    "q_merge_latest_state",
    oracle="""
    SELECT user_id, event_type,
           CAST(epoch_us(ts) AS BIGINT) AS ts_us,
           event_id, value
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def q_merge_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge / compaction semantics: collapse an append-only event
    log to the LATEST row per key (newest ts, event_id tiebreak) — the
    state a MERGE INTO target table would hold after replaying the
    log.  The keep-first twin above (q_stream_dedup) models
    dropDuplicates; this models upsert-compaction, the other half of
    every log-to-table pipeline.

    Hot-key-proof shape: a ``max_by`` GROUP BY
    instead of a row_number window.  The window form shuffles EVERY
    row of a key to one reducer before ranking; ``max_by`` is a
    declarative aggregate, so each map task pre-combines its rows to
    one candidate per key (partial_max_by before the exchange — pinned
    by test_plans) and a hot (user, type) key ships one row per
    upstream partition instead of its whole history.  The ordering key
    is struct(ts, event_id): field-wise struct comparison gives newest
    ts with event_id tiebreak, exactly the window's ORDER BY.
    """
    ev = table(spark, sf_dir, "events")
    latest = ev.groupBy("user_id", "event_type").agg(
        F.max_by(
            F.struct(
                F.unix_micros("ts").alias("ts_us"),
                F.col("event_id").alias("event_id"),
                F.col("value").alias("value"),
            ),
            F.struct("ts", "event_id"),
        ).alias("r")
    )
    return latest.select(
        "user_id", "event_type", "r.ts_us", "r.event_id", "r.value"
    )


@query(
    "q_scd2_intervals",
    oracle="""
    SELECT user_id, event_id,
           value AS attr_value,
           epoch_us(ts) AS valid_from_us,
           lead(epoch_us(ts)) OVER w AS valid_to_us,
           lead(ts) OVER w IS NULL   AS is_current
    FROM events
    WHERE event_type = 'purchase'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history build: turn an
    append-only change log (each purchase event sets a user's current
    attribute value) into validity intervals — ``valid_from`` = the
    change's own timestamp, ``valid_to`` = the NEXT change's timestamp
    (half-open [from, to)), and the key's last row flagged
    ``is_current`` with an open interval.  This is the standard
    dimension-table versioning every warehouse CDC pipeline maintains;
    the merge-to-latest twin (q_merge_latest_state) keeps only the
    final state, this keeps the full queryable history.

    Shape: one ``lead`` window per user key — a single hash-partition
    shuffle on user_id, no join, no self-scan.  Per-key ordering is
    (ts, event_id) so simultaneous-µs changes version
    deterministically.  At 100 TB the natural layout is the log
    bucketed by user_id, making the window shuffle-free; hot keys cost
    only their own history length (no cross-key state).  Intervals are
    epoch-µs BIGINT per this module's timestamp convention.
    """
    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead(F.unix_micros("ts")).over(w)
    return ev.select(
        "user_id",
        "event_id",
        F.col("value").alias("attr_value"),
        F.unix_micros("ts").alias("valid_from_us"),
        nxt.alias("valid_to_us"),
        nxt.isNull().alias("is_current"),
    )


@query(
    "q_ts_gapfill",
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
    )
    SELECT s.user_id, epoch_us(s.day) AS day_us,
           d.day_value IS NOT NULL AS is_observed,
           last_value(d.day_value IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value
    FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
    """,
)
def q_ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: per-user daily purchase totals on a
    DENSE calendar spine (every day between the user's first and last
    purchase), gaps forward-filled with the last observed value — the
    resample + LOCF step feature pipelines run before any
    fixed-frequency model sees event data.

    Shape, outside-in: (1) one map-side-combined groupBy builds the
    sparse (user, day) aggregate — raw events never ride further;
    (2) the spine is ``sequence(min_day, max_day, 1 day)`` exploded
    per user — generated from the tiny span aggregate, never from raw
    rows, so its size is users × days regardless of event density;
    (3) a left join hangs observations on the spine (both sides
    already hash-partitioned by user from their aggregates);
    (4) ``last(ignorenulls)`` over the per-user day order carries
    observations forward.  The fill window rides the SAME user_id
    partitioning as the join — one effective repartitioning end to
    end.  At 100 TB the spine join is the canonical skew-safe shape:
    its left side is bounded by calendar length, not traffic.
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
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return spine.join(daily, ["user_id", "day"], "left").select(
        "user_id",
        F.unix_micros("day").alias("day_us"),
        F.col("day_value").isNotNull().alias("is_observed"),
        F.last("day_value", ignorenulls=True).over(w).alias("filled_value"),
    )


@query(
    "q_funnel_conversion",
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t1
          AND e.ts <= s1.t1 + INTERVAL 24 HOURS
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2
          AND e.ts <= s2.t2 + INTERVAL 24 HOURS
        GROUP BY e.user_id
    )
    SELECT CAST(CASE WHEN t3 IS NOT NULL THEN 3
                     WHEN t2 IS NOT NULL THEN 2
                     WHEN t1 IS NOT NULL THEN 1
                     ELSE 0 END AS INT) AS funnel_stage,
           CAST(count(*) AS BIGINT) AS n_users
    FROM u
    LEFT JOIN s1 USING (user_id)
    LEFT JOIN s2 USING (user_id)
    LEFT JOIN s3 USING (user_id)
    GROUP BY 1
    """,
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis: how far does each user get through
    view → click → purchase (each stage strictly after the previous
    one and within a 24 h conversion window — without the window every
    user in a long-lived log trivially completes the funnel),
    aggregated to users-per-furthest-stage — the conversion
    query of event analytics, and a sequence-pattern primitive SQL
    needs three self-joins to express.

    Spark-first shape: ONE shuffle (groupBy user) collects each
    user's (ts, event) sequence, sorted in-row, and a codegen
    ``aggregate`` HOF walks it once carrying the (t1, t2, t3) stage
    timestamps — per-user state is three longs regardless of event
    count, and no events-sized join ever happens.  The SQL oracle
    uses the equivalent three-pass join form (same values, the plan
    a relational engine would pick); at 100 TB the walk form reads
    events once vs the oracle shape's three scans + three joins.

    Skew containment: the walk only reads the three
    funnel event types, so they are filtered INSIDE the collect —
    ``collect_list`` skips nulls, so a ``when`` guard drops non-funnel
    events during the map-side partial aggregation and a hot user's
    unrelated traffic never reaches the reducer or the in-row array.
    A plain pre-``filter`` would be wrong: a user with ONLY non-funnel
    events must still surface as funnel_stage 0, so every user_id has
    to survive to the groupBy (pinned by test_funnel_stage0_users).
    """
    return funnel_stages(table(spark, sf_dir, "events"))


def funnel_stages(events: DataFrame) -> DataFrame:
    """The funnel walk over any (user_id, ts, event_id, event_type)
    frame — see ``q_funnel_conversion`` for semantics and shape."""
    ev = events.select(
        "user_id",
        F.struct(
            F.unix_micros("ts").alias("ts_us"),
            F.col("event_id").alias("eid"),
            F.col("event_type").alias("et"),
        ).alias("e"),
    )
    funnel_only = F.when(
        F.col("e.et").isin("view", "click", "purchase"), F.col("e")
    )
    seq = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list(funnel_only)).alias("seq")
    )

    nolong = F.lit(None).cast("long")
    init = F.struct(nolong.alias("t1"), nolong.alias("t2"), nolong.alias("t3"))

    def step(acc, e):
        t1 = F.when(
            acc["t1"].isNull() & (e["et"] == "view"), e["ts_us"]
        ).otherwise(acc["t1"])
        # stage checks use the PRE-update accumulator: one event can
        # satisfy at most one stage, and "after" is strict (ties at
        # the same µs do not advance — matching the oracle's ts > t).
        win = F.lit(24 * 3600 * 1_000_000)  # 24 h in µs
        t2 = F.when(
            acc["t2"].isNull()
            & acc["t1"].isNotNull()
            & (e["et"] == "click")
            & (e["ts_us"] > acc["t1"])
            & (e["ts_us"] <= acc["t1"] + win),
            e["ts_us"],
        ).otherwise(acc["t2"])
        t3 = F.when(
            acc["t3"].isNull()
            & acc["t2"].isNotNull()
            & (e["et"] == "purchase")
            & (e["ts_us"] > acc["t2"])
            & (e["ts_us"] <= acc["t2"] + win),
            e["ts_us"],
        ).otherwise(acc["t3"])
        return F.struct(t1.alias("t1"), t2.alias("t2"), t3.alias("t3"))

    walked = seq.select(F.aggregate("seq", init, step).alias("w"))
    stage = (
        F.when(F.col("w.t3").isNotNull(), 3)
        .when(F.col("w.t2").isNotNull(), 2)
        .when(F.col("w.t1").isNotNull(), 1)
        .otherwise(0)
        .cast("int")
    )
    return walked.select(stage.alias("funnel_stage")).groupBy("funnel_stage").agg(
        F.count("*").alias("n_users")
    )


@query(
    "q_rolling_active_users",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
    ),
    days AS (SELECT DISTINCT day FROM ud),
    contrib AS (
        SELECT user_id,
               unnest(generate_series(day, day + INTERVAL 6 DAY, INTERVAL 1 DAY))
                   AS wday
        FROM ud
    )
    SELECT epoch_us(c.wday) AS day_us,
           CAST(count(DISTINCT c.user_id) AS BIGINT) AS wau
    FROM contrib c JOIN days d ON c.wday = d.day
    GROUP BY 1
    """,
)
def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users (WAU) per day — the engagement
    metric every event pipeline publishes, and the textbook case where
    the obvious SQL (a BETWEEN range join of days × activity) is a
    theta join that explodes at scale.

    Spark-first shape: INVERT the window — each distinct (user, day)
    activity CONTRIBUTES to the 7 trailing window-days it can satisfy
    (an in-row ``sequence`` + explode, exactly 7× the distinct-activity
    frame, linear forever), then one distinct-count per window day.
    The join against observed days only trims phantom trailing days
    and broadcasts (|days| rows).  No range join, no per-day rescan;
    state is |users × days| pairs, not raw events.  The oracle keeps
    the range-join formulation as the independent semantic statement.
    """
    ev = table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    days = ud.select("day").distinct()
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"),
                F.col("day") + F.expr("interval 6 days"),
                F.expr("interval 1 day"),
            )
        ).alias("wday"),
    )
    return (
        contrib.join(F.broadcast(days), contrib["wday"] == days["day"])
        .groupBy("wday")
        .agg(F.countDistinct("user_id").alias("wau"))
        .select(F.unix_micros("wday").alias("day_us"), "wau")
    )


@query(
    "q_retention_cohorts",
    oracle="""
    WITH firsts AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        FROM events GROUP BY user_id
    ),
    actives AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
    ),
    sizes AS (
        SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_cohort
        FROM firsts GROUP BY cohort_week
    ),
    cells AS (
        SELECT f.cohort_week,
               CAST((epoch_us(a.week) - epoch_us(f.cohort_week))
                    // 604800000000 AS BIGINT) AS week_offset,
               CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
        FROM actives a JOIN firsts f USING (user_id)
        GROUP BY 1, 2
    )
    SELECT epoch_us(c.cohort_week) AS cohort_week_us,
           c.week_offset, c.n_active, s.n_cohort,
           CAST(c.n_active AS DOUBLE) / s.n_cohort AS retention
    FROM cells c JOIN sizes s USING (cohort_week)
    """,
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention-cohort matrix: users grouped by first-seen
    week, each cohort's share still active k weeks later — the
    engagement triangle behind every product-analytics dashboard and
    the canonical "needs two passes over user identity" query.

    Shape: TWO tiny per-user aggregates off one event scan (first-seen
    week via min, distinct active weeks) — both map-side combined,
    state = |users| and |users × weeks| — then an equi-join on user_id
    (both sides already hash-partitioned by user from their
    aggregates: one effective exchange) and a cells-sized groupBy.
    Week offsets are exact integer µs arithmetic on the two trunc'd
    weeks (calendar weeks are DST-free in UTC µs).  Cohort sizes
    broadcast back onto the cells frame.  Retention is int/int →
    bit-identical, no rounding.  At 100 TB nothing here scales with
    raw events except the first scan.
    """
    ev = table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    actives = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("week")
    ).distinct()
    sizes = firsts.groupBy("cohort_week").agg(F.count("*").alias("n_cohort"))
    week_offset = (
        (F.unix_micros("week") - F.unix_micros("cohort_week"))
        / F.lit(604_800_000_000)
    ).cast("long")
    cells = (
        actives.join(firsts, "user_id")
        .groupBy("cohort_week", week_offset.alias("week_offset"))
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    return cells.join(F.broadcast(sizes), "cohort_week").select(
        F.unix_micros("cohort_week").alias("cohort_week_us"),
        "week_offset",
        "n_active",
        "n_cohort",
        (F.col("n_active").cast("double") / F.col("n_cohort")).alias("retention"),
    )


@query(
    "q_join_point_in_time",
    oracle="""
    WITH iv AS (
        SELECT user_id, event_id AS ver_id, value AS attr_value,
               epoch_us(ts) AS f,
               lead(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS t
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT user_id, event_id, epoch_us(ts) AS click_us
        FROM events WHERE event_type = 'click'
    )
    SELECT c.user_id, c.event_id, c.click_us, iv.ver_id, iv.attr_value
    FROM c LEFT JOIN iv
      ON c.user_id = iv.user_id
     AND c.click_us >= iv.f AND (iv.t IS NULL OR c.click_us < iv.t)
    """,
)
def q_join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join — the feature-store correctness
    primitive: each fact row (clicks) reads the dimension version
    (q_scd2_intervals' purchase history) that was valid AT ITS OWN
    timestamp, never a later one (no feature leakage).

    The oracle states it relationally as an interval BETWEEN join; the
    engine NEVER builds intervals or joins — version rows and probe
    rows UNION into one stream, one window per user ordered by
    (ts, kind, event_id) carries the latest version forward with
    ``last(ignorenulls)``, and probes read it in place.  That's a
    single hash-partition shuffle with O(1) frame state; the interval
    join would re-buffer each user's history per probe.  Tie
    discipline: a probe at exactly a version's timestamp sees THAT
    version (dim rows sort before probes at equal ts — half-open
    [from, to) semantics), and equal-µs versions resolve by event_id,
    matching the SCD2 interval build.
    """
    ev = table(spark, sf_dir, "events")
    dim = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.lit(0).alias("kind"),
        "event_id",
        F.col("value").alias("attr_value"),
    )
    probe = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.lit(1).alias("kind"),
        "event_id",
        F.lit(None).cast("double").alias("attr_value"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    is_dim = F.col("kind") == 0
    carried = dim.unionByName(probe).select(
        "user_id",
        "event_id",
        "us",
        "kind",
        F.last(F.when(is_dim, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("ver_id"),
        F.last(F.when(is_dim, F.col("attr_value")), ignorenulls=True)
        .over(w)
        .alias("attr_value"),
    )
    return carried.filter(F.col("kind") == 1).select(
        "user_id",
        "event_id",
        F.col("us").alias("click_us"),
        "ver_id",
        "attr_value",
    )


@query(
    "q_seq_pattern_match",
    oracle="""
    WITH seq AS (
        SELECT user_id,
               string_agg(substr(event_type, 1, 1), ''
                          ORDER BY ts, event_id) AS s,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id
    )
    SELECT user_id, n_events,
           CAST(len(regexp_extract_all(s, 'v[^vp]*p')) AS BIGINT)
               AS n_conversions
    FROM seq
    """,
)
def q_seq_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex over event SEQUENCES — the MATCH_RECOGNIZE-lite primitive
    (row-pattern matching, SQL:2016 ch. 12) that q_funnel_conversion's
    fixed three-stage walk can't generalize to: each user's events
    collapse to a symbol string (first letter of event_type — the five
    fixture types have distinct initials), ordered by (ts, event_id)
    for a total order, and a single regex counts motif occurrences —
    here 'v[^vp]*p', a view leading to a purchase with no intervening
    view or purchase (a direct conversion).  That pattern class is
    deliberately ambiguity-free: at any start position the match is
    unique, so RE2 (DuckDB) and Java's backtracking engine (Spark)
    provably count the same non-overlapping set — verified
    exhaustively against Python re on every fixture sequence while
    designing the oracle.

    Shape: ONE shuffle (groupBy user) collects each user's
    (ts, event_id, symbol) structs, sorted IN-ROW by array_sort
    (struct field order = the sort key — no global orderBy), joined
    to a string, then regexp_count runs per row inside codegen.
    Per-user state is the user's own event string — the same bound as
    every sessionization query here; the regex never crosses users,
    so the operator scales with the widest single user, not the
    corpus.
    """
    ev = table(spark, sf_dir, "events")
    seq = (
        ev.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "ts",
                        "event_id",
                        F.substring("event_type", 1, 1).alias("sym"),
                    )
                )
            ).alias("evs"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    s = F.array_join(F.transform(F.col("evs"), lambda e: e["sym"]), "")
    return seq.select(
        "user_id",
        "n_events",
        F.regexp_count(s, F.lit(r"v[^vp]*p")).cast("bigint").alias(
            "n_conversions"
        ),
    )


@query(
    "q_merge_cdc_tombstones",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id,
           event_id AS last_event_id,
           CAST(ts_us AS BIGINT) AS last_ts_us,
           event_type AS last_type,
           value AS last_value
    FROM ranked
    WHERE rn = 1 AND event_type <> 'error'
    ORDER BY user_id
    """,
)
def q_merge_cdc_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply WITH DELETES: replaying a change log into a target
    table where the newest operation per key wins — and a DELETE
    tombstone (the 'error' terminal event stands in for the CDC 'D'
    op) suppresses the key from the final state entirely, the half of
    MERGE INTO semantics q_merge_latest_state (pure upsert) does not
    exercise.  A user whose LAST event is an error vanishes from the
    table even though earlier upserts exist — order, not presence,
    decides.

    Shape: identical hot-key-proof max_by GROUP BY as
    q_merge_latest_state (each map task pre-combines to one candidate
    per key; a hot key ships one row per upstream partition, never
    its history), with the tombstone filter applied AFTER the
    newest-wins reduction — filtering tombstones before the reduce
    would resurrect stale rows, the classic CDC-compaction bug this
    query exists to pin.  The oracle states newest-wins as a
    row_number window (DuckDB's max_by takes no composite key — the
    q_ts_ohlc oracle pattern); the Spark plan keeps the aggregate
    form, which is the one that survives hot keys.
    """
    ev = table(spark, sf_dir, "events")
    key = F.struct("ts", "event_id")
    latest = ev.groupBy("user_id").agg(
        F.max_by(
            F.struct(
                F.col("event_id").alias("last_event_id"),
                F.unix_micros("ts").alias("last_ts_us"),
                F.col("event_type").alias("last_type"),
                F.col("value").alias("last_value"),
            ),
            key,
        ).alias("r")
    )
    return (
        latest.select(
            "user_id", "r.last_event_id", "r.last_ts_us", "r.last_type",
            "r.last_value",
        )
        .filter(F.col("last_type") != "error")
        .orderBy("user_id")
    )
