"""§2.3-C (aggregation half) — global/grouped aggregates, distinct,
approximate, rollup/cube/grouping-sets, HAVING.

The reference's aggregation surface is NumPy reductions over loaded
columns, globally or per category-index slice (SURVEY §2.2); Spark's
partial+final hash aggregation is the distributed equivalent and the
category index is just a GROUP BY key.

Float discipline (registry docstring): multi-row double reductions are
rounded identically in both dialects because partial-aggregation order
is nondeterministic; integer-valued doubles (l_quantity) sum exactly
in IEEE double, so their sums stay unrounded.  DuckDB ``sum(INTEGER)``
returns HUGEINT and ``count``/``rank`` BIGINT → explicit casts keep
schemas aligned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from i3cols_spark.functions.rounding import round_half_up
from i3cols_spark.operators.registry import query
from i3cols_spark.sources.tables import table


@query(
    "q_agg_global",
    oracle="""
    SELECT CAST(count(*) AS BIGINT)                    AS n_rows,
           sum(l_quantity)                             AS sum_qty,
           round(sum(l_extendedprice), 2)              AS sum_price,
           round(avg(l_extendedprice), 4)              AS avg_price,
           min(l_extendedprice)                        AS min_price,
           max(l_extendedprice)                        AS max_price,
           round(stddev(l_extendedprice), 4)           AS std_price,
           CAST(count(DISTINCT l_suppkey) AS BIGINT)   AS n_supp
    FROM lineitem
    """,
)
def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global reductions — the np.sum/mean/min/max/std analog."""
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.round(F.stddev("l_extendedprice"), 4).alias("std_price"),
        F.countDistinct("l_suppkey").alias("n_supp"),
    )


@query(
    "q_agg_groupby",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity)                                              AS sum_qty,
           round(sum(l_extendedprice), 2)                               AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)            AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           floor(avg(l_quantity) * 10000 + 0.5) / 10000.0                  AS avg_qty,
           round(avg(l_extendedprice), 4)                               AS avg_price,
           round(avg(l_discount), 6)                                    AS avg_disc,
           CAST(count(*) AS BIGINT)                                     AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: 8 aggregates over 2 grouping keys."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
        F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        round_half_up(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@query(
    "q_agg_distinct",
    oracle="""
    SELECT l_orderkey,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped COUNT DISTINCT (np.unique per slice analog)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


@query(
    "q_agg_approx_distinct",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_5pct
    FROM events
    GROUP BY event_type
    """,
)
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++) of users per event type, emitted
    as the SURVEY §2.3 weak check itself: per group, the exact
    distinct count plus ``within_5pct`` = |approx − exact| ≤ 5%·exact.

    The raw HLL++ estimate is engine-specific (DuckDB's sketch
    differs), so the ESTIMATE can't ride a value-hash oracle — but the
    ±5% accuracy CONTRACT can: the oracle asserts TRUE per group, so a
    drifted/broken sketch flips the official row red instead of
    hiding behind a rows-only record.
    tests/test_properties.py additionally bounds the raw estimate.
    At 100 TB the approx path is THE way to count distinct users:
    fixed-size sketch, no giant shuffle of raw ids — the exact
    countDistinct here exists only to express the bound at test SF.
    """
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users"),
        (
            F.abs(
                F.approx_count_distinct("user_id", rsd=0.02)
                - F.countDistinct("user_id")
            )
            <= 0.05 * F.countDistinct("user_id")
        ).alias("within_5pct"),
    )


@query(
    "q_agg_rollup",
    oracle="""
    SELECT r.r_name, n.n_name,
           round(sum(o.o_totalprice), 2) AS revenue,
           CAST(count(*) AS BIGINT)      AS n_orders
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey   = c.c_custkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (region, nation) — hierarchical subtotals + grand total."""
    region = table(spark, sf_dir, "region")
    nation = table(spark, sf_dir, "nation")
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    # Pre-join the dimension chain once (customer grain) so the fact
    # stream probes ONE broadcast hash table instead of three in
    # sequence (r13: was three separate broadcast builds + three
    # probes per orders row; inner joins on unique PKs are
    # associative, so the values are identical).
    dims = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "r_name", "n_name")
    )
    joined = orders.join(F.broadcast(dims), orders.o_custkey == dims.c_custkey)
    return joined.rollup("r_name", "n_name").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count("*").alias("n_orders"),
    )


@query(
    "q_agg_cube",
    oracle="""
    SELECT event_type, yr,
           CAST(count(*) AS BIGINT)  AS n_events,
           round(sum(value), 2)      AS total_value
    FROM (SELECT event_type, CAST(year(ts) AS BIGINT) AS yr, value FROM events)
    GROUP BY CUBE (event_type, yr)
    """,
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE (event_type, year) — all 4 grouping combinations."""
    ev = table(spark, sf_dir, "events").withColumn(
        "yr", F.year("ts").cast("long")
    )
    return ev.cube("event_type", "yr").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "q_agg_grouping_sets",
    oracle="""
    SELECT c_mktsegment, o_orderpriority,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY GROUPING SETS ((c_mktsegment, o_orderpriority), (c_mktsegment), ())
    """,
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via spark.sql (Catalyst expands to union
    of aggregations over one shuffle — same as DuckDB's plan shape)."""
    from i3cols_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("orders", "customer"))
    return spark.sql(
        """
        SELECT c_mktsegment, o_orderpriority,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY GROUPING SETS ((c_mktsegment, o_orderpriority), (c_mktsegment), ())
        """
    )


@query(
    "q_agg_having",
    oracle="""
    SELECT l_suppkey,
           sum(l_quantity)          AS sum_qty,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    GROUP BY l_suppkey
    HAVING sum(l_quantity) > 2000
    """,
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.count("*").alias("n_items"),
        )
        .filter(F.col("sum_qty") > 2000)
    )


@query(
    "q_agg_moments",
    oracle="""
    WITH m AS (
        SELECT event_type, round(avg(value), 6) AS mu
        FROM events GROUP BY event_type
    ),
    c AS (
        SELECT e.event_type,
               CAST(count(*) AS BIGINT) AS n,
               m.mu,
               round(avg((e.value - m.mu) * (e.value - m.mu)), 6) AS m2,
               round(avg((e.value - m.mu) * (e.value - m.mu)
                         * (e.value - m.mu)), 6) AS m3,
               round(avg((e.value - m.mu) * (e.value - m.mu)
                         * (e.value - m.mu) * (e.value - m.mu)), 6) AS m4
        FROM events e JOIN m ON e.event_type = m.event_type
        GROUP BY e.event_type, m.mu
    )
    SELECT event_type, n, mu AS mean,
           round(m3 / (m2 * sqrt(m2)), 6)  AS skewness,
           round(m4 / (m2 * m2) - 3.0, 6)  AS excess_kurtosis,
           m2 AS variance_pop
    FROM c
    """,
)
def q_agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shape profiling per event type: population
    variance, skewness, and excess kurtosis from explicit central
    moments.  Built from raw columns instead of the engines' built-in
    skewness/kurtosis because those DISAGREE across engines (sample vs
    population estimators, bias corrections) — the moment formula is
    the portable ground truth, and the cross-engine discipline is the
    point of the exercise.

    Two-pass shape: pass 1 is the per-group mean (map-side-combined,
    |types| rows, broadcast back); pass 2 averages centered powers.
    Centering BEFORE the power sums avoids the catastrophic
    cancellation of the raw-moment (E[x⁴]-based) single-pass form,
    whose 1e-15 relative summation noise on ~1e12-scale sums would
    blow past any rounding precision; centered, every sum is
    well-conditioned and 6 dp rounding in both engines absorbs
    reduction-order noise.  The rounded mean is part of the contract
    (both engines center on the identical 6 dp value).
    """
    ev = table(spark, sf_dir, "events")
    mu = ev.groupBy("event_type").agg(F.round(F.avg("value"), 6).alias("mu"))
    d = F.col("value") - F.col("mu")
    c = (
        ev.join(F.broadcast(mu), "event_type")
        .groupBy("event_type", "mu")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(d * d), 6).alias("m2"),
            F.round(F.avg(d * d * d), 6).alias("m3"),
            F.round(F.avg(d * d * d * d), 6).alias("m4"),
        )
    )
    return c.select(
        "event_type",
        "n",
        F.col("mu").alias("mean"),
        F.round(F.col("m3") / (F.col("m2") * F.sqrt("m2")), 6).alias("skewness"),
        F.round(F.col("m4") / (F.col("m2") * F.col("m2")) - 3.0, 6).alias(
            "excess_kurtosis"
        ),
        F.col("m2").alias("variance_pop"),
    )


@query(
    "q_agg_string_agg",
    oracle="""
    SELECT c_nationkey,
           string_agg(c_name, ',' ORDER BY c_name) AS names,
           CAST(count(*) AS BIGINT) AS n
    FROM customer WHERE c_acctbal > 9500
    GROUP BY c_nationkey
    """,
)
def q_agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg): comma-joined
    alphabetical names of high-balance customers per nation.  Spark
    has no ordered string_agg; ``concat_ws(sort_array(collect_list))``
    states the identical deterministic result — collect_list's arrival
    order is partition-dependent, so the sort_array is CORRECTNESS,
    not cosmetics (the partition soak runs this at local[3]/7 to
    prove it).  The filter bounds per-group state; unbounded listagg
    over a hot group would be the same collect_list skew discussed at
    q_funnel_conversion.
    """
    cust = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9500)
    return cust.groupBy("c_nationkey").agg(
        F.concat_ws(",", F.sort_array(F.collect_list("c_name"))).alias("names"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_agg_entropy",
    oracle="""
    WITH c AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    t AS (
        SELECT user_id, event_type, n,
               n / sum(n) OVER (PARTITION BY user_id) AS p
        FROM c
    )
    SELECT user_id,
           round(-sum(p * ln(p)), 6) AS entropy,
           CAST(count(*) AS BIGINT) AS n_types
    FROM t GROUP BY user_id
    """,
)
def q_agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type distribution — the
    behavioural-diversity score used in bot screening (near-zero
    entropy = single-action automation) and in data-mixing quality
    gates.

    Shape: one map-side-combined (user, type) count, a window over
    that small aggregate for the probabilities (|users|·|types| rows,
    not events), and a second tiny aggregate for −Σ p·ln p.  The
    probability is exact int/int IEEE division; the ln() terms sum
    over ≤ |types| rows in nondeterministic order, so the entropy
    rounds at 6 dp in both engines (registry discipline — also
    absorbs any sub-ulp libm ln() disagreement between JVM and C
    runtimes).
    """
    ev = table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    wu = Window.partitionBy("user_id")
    t = c.select(
        "user_id", (F.col("n") / F.sum("n").over(wu)).alias("p")
    )
    return t.groupBy("user_id").agg(
        F.round(-F.sum(F.col("p") * F.log("p")), 6).alias("entropy"),
        F.count(F.lit(1)).alias("n_types"),
    )


#: Count-min sketch geometry for q_agg_sketch_countmin: small enough
#: that collisions are REAL at fixture scale (29/150 users overcounted
#: at sf0.01, max overcount 120), so the oracle verifies the collision
#: path and the min-reduce, not just a no-op identity.
_CMS_DEPTH = 4
_CMS_WIDTH = 128


def cms_bucket(key_col, d_col):
    """Count-min cell for (key, row) under the cross-engine md5 hash
    family: 32 bits of md5("d:key") mod the grid width.  Shared by the
    batch sketch and its streaming twin (streaming/jobs.py) so both
    populate the identical grid."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(d_col.cast("string"), F.lit(":"), key_col.cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % _CMS_WIDTH
    )


def cms_cells(keyed: DataFrame) -> DataFrame:
    """Each row of ``keyed`` once per depth row ``d``, with its grid
    cell ``bucket`` for the key ``user_id`` — the depth explode of
    q_agg_sketch_countmin and its streaming twin."""
    return keyed.select(
        "*", F.explode(F.array([F.lit(d) for d in range(_CMS_DEPTH)])).alias("d")
    ).withColumn("bucket", cms_bucket(F.col("user_id"), F.col("d")))


@query(
    "q_agg_sketch_countmin",
    oracle=f"""
    WITH counts AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY user_id
    ),
    hashed AS (
        SELECT user_id, cnt, d,
               ('0x' || substr(md5(CAST(d AS VARCHAR) || ':' ||
                                   CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                   % {_CMS_WIDTH} AS bucket
        FROM counts,
             (SELECT unnest([{", ".join(str(d) for d in range(_CMS_DEPTH))}]) AS d) ds
    ),
    sketch AS (
        SELECT d, bucket, CAST(sum(cnt) AS BIGINT) AS bsum
        FROM hashed GROUP BY d, bucket
    ),
    est AS (
        SELECT h.user_id, h.cnt, CAST(min(s.bsum) AS BIGINT) AS est
        FROM hashed h JOIN sketch s USING (d, bucket)
        GROUP BY h.user_id, h.cnt
    )
    SELECT user_id, cnt, est, est - cnt AS overcount
    FROM est
    ORDER BY est DESC, user_id
    LIMIT 20
    """,
)
def q_agg_sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation (Cormode & Muthukrishnan
    2005) with a CROSS-ENGINE hash family, audited against the exact
    counts: estimate each user's event frequency from a depth-4 ×
    width-128 CMS grid and emit the top-20 by ESTIMATE with the true
    count and the collision overcount alongside.  This is the sketch
    q_agg_heavy_hitters' docstring names as the unbounded-key-domain
    escape — here it gets its own oracle instead of staying prose.

    Hash family is md5 of ``d:key`` truncated to 32 bits mod width —
    deterministic and identical in both engines (the
    q_text_minhash_signature convention), so the ENTIRE sketch —
    bucket placement, row sums, min-reduce, collision overcounts — is
    value-hash-checked by DuckDB, not just sanity-bounded.  The
    geometry is deliberately small so collisions actually occur at
    fixture scale (comment at _CMS_WIDTH).

    Scale shape: the sketch is a FIXED d×w = 512-cell grid built by
    one map-side-combined aggregation — partial grids per partition
    merge by cell-wise addition exactly like production CMS state, so
    at 100 TB the shuffle for the sketch is |tasks|·512 rows no matter
    the key cardinality.  The estimate probe broadcasts the 512-row
    grid back over the key set; nothing quadratic, nothing
    key-cardinality-sized ever sits on one node.  (The exact counts
    exist here because the query's OUTPUT audits estimate vs truth;
    a pure-sketch deployment drops that branch and keeps the same
    grid.)
    """
    ev = table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    hashed = cms_cells(counts)
    sketch = hashed.groupBy("d", "bucket").agg(F.sum("cnt").alias("bsum"))
    est = (
        hashed.join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("user_id", "cnt")
        .agg(F.min("bsum").alias("est"))
    )
    return (
        est.select(
            "user_id", "cnt", "est", (F.col("est") - F.col("cnt")).alias("overcount")
        )
        .orderBy(F.desc("est"), F.asc("user_id"))
        .limit(20)
    )


#: Partitioned-Bloom geometry for q_agg_sketch_bloom: k = 3 hash
#: functions, each owning a 2048-bit array.  Sized so false positives
#: REALLY occur at fixture scale (18 at sf0.01) and saturation is
#: visible at sf0.1 (fp ≈ 0.84 — the filter honestly reports its own
#: undersizing; production sizes m per the n·k/m fill formula).
_BLOOM_K = 3
_BLOOM_BITS = 2048


@query(
    "q_agg_sketch_bloom",
    oracle=f"""
    WITH members AS (
        SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 475000
    ),
    hs AS (SELECT unnest([{", ".join(str(h) for h in range(_BLOOM_K))}]) AS h),
    bits AS (
        SELECT DISTINCT h,
               ('0x' || substr(md5(CAST(h AS VARCHAR) || ':' ||
                                   CAST(k AS VARCHAR)), 1, 8))::BIGINT
                   % {_BLOOM_BITS} AS bit
        FROM members, hs
    ),
    probes AS (
        SELECT c_custkey AS k, h,
               ('0x' || substr(md5(CAST(h AS VARCHAR) || ':' ||
                                   CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT
                   % {_BLOOM_BITS} AS bit
        FROM customer, hs
    ),
    hits AS (
        SELECT p.k FROM probes p JOIN bits b USING (h, bit)
        GROUP BY p.k HAVING count(*) = {_BLOOM_K}
    ),
    stats AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM members) AS n_members,
               (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_probes,
               (SELECT CAST(count(*) AS BIGINT) FROM hits)     AS n_maybe
    )
    SELECT n_members, n_probes, n_maybe,
           n_maybe - n_members AS n_false_pos,
           floor((n_maybe - n_members) * 1000000.0
                 / (n_probes - n_members) + 0.5) / 1000000.0 AS fp_rate
    FROM stats
    """,
)
def q_agg_sketch_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned Bloom filter (k hash functions, one bit array each
    — Putze/Sanders/Singler's blocked variant) with the CROSS-ENGINE
    md5 hash family, audited end-to-end: build the filter over the
    custkeys holding a >475k order, probe EVERY customer, and report
    members / maybes / false positives / fp-rate in one row.  Because
    the hash family is deterministic in both engines, the oracle
    value-checks the exact bit placements and the exact set of false
    positives — not a statistical bound.  (q_join_bloom_prefilter uses
    Spark's built-in filter inside a join; THIS query pins bloom
    semantics itself, the same division as minhash vs its signature
    twin.)

    Membership has no false negatives by construction (every member's
    k bits are set), so n_false_pos = n_maybe − n_members exactly.

    Scale shape: the filter state is bounded by GEOMETRY, not data —
    at most k·m = 6144 distinct (h, bit) rows regardless of member
    cardinality — built by one map-side-combined distinct and
    broadcast to the probe side (plan-tested), which is precisely how
    a bloom pre-filter deploys against a 100 TB probe table.  The
    probe side never shuffles: explode k hashes, broadcast-semi-join,
    one partial count.  fp_rate is an exact-integer ratio → HALF_UP
    in both dialects (registry discipline).
    """
    from i3cols_spark.functions.rounding import round_half_up as half_up

    hs = F.array([F.lit(h) for h in range(_BLOOM_K)])

    def hbit(key_col):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("h").cast("string"),
                            F.lit(":"),
                            key_col.cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % _BLOOM_BITS
        )

    members = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 475000)
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    bits = (
        members.select("k", F.explode(hs).alias("h"))
        .select("h", hbit(F.col("k")).alias("bit"))
        .distinct()
    )
    probes = (
        table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("k"))
        .select("k", F.explode(hs).alias("h"))
        .select("k", "h", hbit(F.col("k")).alias("bit"))
    )
    maybe = (
        probes.join(F.broadcast(bits), ["h", "bit"], "left_semi")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("nbits"))
        .filter(F.col("nbits") == _BLOOM_K)
        .agg(F.count(F.lit(1)).alias("n_maybe"))
    )
    n_members = members.agg(F.count(F.lit(1)).alias("n_members"))
    n_probes = table(spark, sf_dir, "customer").agg(
        F.count(F.lit(1)).alias("n_probes")
    )
    return (
        n_members.crossJoin(n_probes)
        .crossJoin(maybe)
        .select(
            "n_members",
            "n_probes",
            "n_maybe",
            (F.col("n_maybe") - F.col("n_members")).alias("n_false_pos"),
            half_up(
                (F.col("n_maybe") - F.col("n_members"))
                / (F.col("n_probes") - F.col("n_members")),
                6,
            ).alias("fp_rate"),
        )
    )


#: K-minimum-values synopsis size: with the 32-bit md5 hash space the
#: estimator is (k−1)·2^32 / h_k.  k=64 keeps the fixture estimate
#: usefully wrong (+30% at 1.5k keys, −7% at 15k — the k-vs-accuracy
#: trade stated, not hidden) while the synopsis stays 64 values.
_KMV_K = 64


@query(
    "q_agg_sketch_kmv",
    oracle=f"""
    WITH keys AS (SELECT DISTINCT o_custkey AS k FROM orders),
    hashed AS (
        SELECT k, ('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8))::BIGINT AS h
        FROM keys
    ),
    kmv AS (SELECT h FROM hashed ORDER BY h LIMIT {_KMV_K}),
    syn AS (
        SELECT CAST(max(h) AS DOUBLE) AS hk, CAST(count(*) AS BIGINT) AS kk
        FROM kmv
    ),
    ex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM keys)
    SELECT n_exact,
           CAST(floor((kk - 1) * 4294967296.0 / hk) AS BIGINT) AS n_estimate,
           floor(abs(CAST(floor((kk - 1) * 4294967296.0 / hk) AS BIGINT)
                     - n_exact) * 1000000.0 / n_exact + 0.5) / 1000000.0
               AS rel_err
    FROM ex, syn
    """,
)
def q_agg_sketch_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-cardinality estimator (Bar-Yossef et
    al. 2002) under the cross-engine md5 hash family, audited against
    the exact count — completing the sketch trio with CMS (frequency,
    q_agg_sketch_countmin) and Bloom (membership, q_agg_sketch_bloom):
    keep the k smallest 32-bit hash values of the key set; if they
    fill the prefix [0, h_k], the domain holds ≈ (k−1)·2^32/h_k
    distinct keys.  Where q_agg_approx_distinct's HLL is rows-only
    evidence (engine-internal registers), KMV's synopsis is pure
    order statistics of a deterministic hash — so estimate AND error
    are value-hash-checked by DuckDB exactly.

    Scale shape: the synopsis is TakeOrderedAndProject — a k-element
    heap per partition, k rows per task to the driver merge, never a
    global sort (the same reason q_topk scales); the estimate is one
    1-row aggregate over 64 values.  KMV synopses MERGE like the
    other sketches (union two, keep the k smallest), which is the
    distributed/streaming form.  The deliberately small k keeps the
    fixture's estimation error VISIBLE (+30%/−7%); rel_err is an
    integer ratio → HALF_UP in both dialects.
    """
    from i3cols_spark.functions.rounding import round_half_up as half_up

    keys = (
        table(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    hashed = keys.select(
        F.conv(F.substring(F.md5(F.col("k").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        .alias("h")
    )
    syn = (
        hashed.orderBy("h")
        .limit(_KMV_K)
        .agg(
            F.max("h").cast("double").alias("hk"),
            F.count(F.lit(1)).alias("kk"),
        )
    )
    ex = keys.agg(F.count(F.lit(1)).alias("n_exact"))
    est = F.floor((F.col("kk") - 1) * F.lit(4294967296.0) / F.col("hk")).cast(
        "bigint"
    )
    return ex.crossJoin(syn).select(
        "n_exact",
        est.alias("n_estimate"),
        half_up(
            F.abs(est - F.col("n_exact")) / F.col("n_exact"), 6
        ).alias("rel_err"),
    )


@query(
    "q_agg_sketch_kmv_setops",
    oracle=f"""
    WITH keys AS (
        SELECT o_custkey AS k,
               max(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS in_a,
               max(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS in_b
        FROM orders WHERE o_orderstatus IN ('P', 'F')
        GROUP BY o_custkey
    ),
    hashed AS (
        SELECT k, in_a, in_b,
               ('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8))::BIGINT AS h
        FROM keys
    ),
    kmv AS (SELECT * FROM hashed ORDER BY h, k LIMIT {_KMV_K}),
    syn AS (
        SELECT CAST(max(h) AS DOUBLE) AS hk,
               CAST(count(*) AS BIGINT) AS kk,
               CAST(sum(in_a * in_b) AS BIGINT) AS k_inter
        FROM kmv
    ),
    ex AS (
        SELECT CAST(sum(in_a) AS BIGINT) AS n_a,
               CAST(sum(in_b) AS BIGINT) AS n_b,
               CAST(count(*) AS BIGINT) AS n_union,
               CAST(sum(in_a * in_b) AS BIGINT) AS n_inter
        FROM keys
    )
    SELECT n_a, n_b, n_union, n_inter,
           CAST(floor((kk - 1) * 4294967296.0 / hk) AS BIGINT) AS est_union,
           CAST(floor(k_inter * ((kk - 1) * 4294967296.0 / hk) / kk)
                AS BIGINT) AS est_inter,
           floor(k_inter * 1000000.0 / kk + 0.5) / 1000000.0 AS jaccard_est,
           floor(n_inter * 1000000.0 / n_union + 0.5) / 1000000.0
               AS jaccard_exact
    FROM ex, syn
    """,
)
def q_agg_sketch_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV SET ALGEBRA (Beyer et al., SIGMOD 2007): the property that
    makes k-minimum-values more than a distinct counter is that one
    synopsis per set answers UNION and INTERSECTION cardinalities
    without re-scanning either set.  The k smallest hashes of A ∪ B
    are a uniform sample of the union's hash space, so the fraction of
    synopsis members lying in A ∩ B estimates the Jaccard similarity,
    and est_inter = jaccard × est_union — here audited against the
    exact sizes of two overlapping customer sets ('P'-status vs
    'F'-status order custkeys, 92% Jaccard at sf0.01).

    Everything is deterministic order statistics of the md5 hash
    family (registry discipline), so — unlike HLL set operations —
    estimate, Jaccard AND their exact twins are all value-hash-checked
    by DuckDB.  Tie-break (h, k) pins the synopsis when two keys share
    a 32-bit hash prefix.

    Scale shape: ONE scan builds per-key membership flags
    (map-side-combined groupBy), the synopsis is TakeOrderedAndProject
    (k-element heap per partition, k rows to the driver merge), and
    the estimates are a 1-row aggregate over 64 values.  At 100 TB
    each set's synopsis is built independently where the data lives
    and merged by union-keep-k-smallest — the same mergeability the
    CMS grid and Bloom arrays rely on.
    """
    keys = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus").isin("P", "F"))
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(
            F.max(
                F.when(F.col("o_orderstatus") == "P", 1).otherwise(0)
            ).alias("in_a"),
            F.max(
                F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
            ).alias("in_b"),
        )
    )
    hashed = keys.select(
        "k",
        "in_a",
        "in_b",
        F.conv(F.substring(F.md5(F.col("k").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        .alias("h"),
    )
    syn = (
        hashed.orderBy("h", "k")
        .limit(_KMV_K)
        .agg(
            F.max("h").cast("double").alias("hk"),
            F.count(F.lit(1)).alias("kk"),
            F.sum(F.col("in_a") * F.col("in_b")).alias("k_inter"),
        )
    )
    ex = keys.agg(
        F.sum("in_a").alias("n_a"),
        F.sum("in_b").alias("n_b"),
        F.count(F.lit(1)).alias("n_union"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("n_inter"),
    )
    est_union = F.floor(
        (F.col("kk") - 1) * F.lit(4294967296.0) / F.col("hk")
    ).cast("bigint")
    return ex.crossJoin(syn).select(
        "n_a",
        "n_b",
        "n_union",
        "n_inter",
        est_union.alias("est_union"),
        F.floor(
            F.col("k_inter")
            * ((F.col("kk") - 1) * F.lit(4294967296.0) / F.col("hk"))
            / F.col("kk")
        )
        .cast("bigint")
        .alias("est_inter"),
        round_half_up(F.col("k_inter") / F.col("kk"), 6).alias("jaccard_est"),
        round_half_up(F.col("n_inter") / F.col("n_union"), 6).alias(
            "jaccard_exact"
        ),
    )


#: Histogram-sketch geometry: 256 equi-width cells over the observed
#: [min, max].  Like the CMS grid, the synopsis is FIXED-SIZE and
#: merges by cell-wise addition — the mergeable-quantile analog the
#: exact distinct-value engine (stats.exact_percentiles) is not: its
#: state is |distinct values|, a histogram's is 256 cells forever.
_HIST_BINS = 256

#: Audited quantiles (match the exact engine's h=(n-1)p definition on
#: the oracle side via quantile_cont).
_HIST_QS = (0.25, 0.50, 0.75, 0.90, 0.99)


@query(
    "q_agg_sketch_histogram",
    oracle=f"""
    WITH ext AS (
        SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx,
               CAST(count(*) AS BIGINT) AS n
        FROM orders
    ),
    cells AS (
        -- binning divisor mirrors the Spark-side degenerate-width
        -- guard: constant column -> all rows bin 0 in
        -- BOTH engines instead of a NULL-bin divergence; the ESTIMATE
        -- width below stays unguarded exactly like the Spark side.
        SELECT CAST(least({_HIST_BINS - 1},
                          floor((o_totalprice - mn)
                                / (CASE WHEN mx > mn
                                        THEN (mx - mn) / {_HIST_BINS}.0
                                        ELSE 1.0 END)))
                    AS BIGINT) AS bin,
               CAST(count(*) AS BIGINT) AS cnt
        FROM orders, ext GROUP BY 1
    ),
    cum AS (
        SELECT bin, cnt,
               sum(cnt) OVER (ORDER BY bin) AS cum,
               sum(cnt) OVER (ORDER BY bin) - cnt AS cum_before
        FROM cells
    ),
    est AS (
        SELECT CAST(p.q AS DOUBLE) AS pct,
               min(CASE WHEN cum >= p.q * ext.n
                         AND cum_before < p.q * ext.n THEN
                   mn + ((mx - mn) / {_HIST_BINS}.0)
                        * (bin + (p.q * ext.n - cum_before) / cnt)
               END) AS est
        FROM cum, ext,
             (VALUES (0.25), (0.50), (0.75), (0.90), (0.99))
                 AS p(q)
        GROUP BY 1
    ),
    exact AS (
        SELECT CAST(q AS DOUBLE) AS pct,
               CASE q WHEN 0.25 THEN q25 WHEN 0.50 THEN q50
                      WHEN 0.75 THEN q75 WHEN 0.90 THEN q90
                      ELSE q99 END AS exact
        FROM (SELECT quantile_cont(o_totalprice, 0.25) q25,
                     quantile_cont(o_totalprice, 0.50) q50,
                     quantile_cont(o_totalprice, 0.75) q75,
                     quantile_cont(o_totalprice, 0.90) q90,
                     quantile_cont(o_totalprice, 0.99) q99 FROM orders),
             (VALUES (0.25), (0.50), (0.75), (0.90), (0.99)) AS p(q)
    )
    SELECT est.pct,
           round(est.est, 4) AS est_price,
           round(exact.exact, 4) AS exact_price,
           round(abs(est.est - exact.exact) / exact.exact, 6) AS rel_err
    FROM est JOIN exact USING (pct)
    """,
)
def q_agg_sketch_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width HISTOGRAM QUANTILE sketch — the fourth and last
    member of the mergeable-synopsis family (CMS = frequency, Bloom =
    membership, KMV = cardinality, histogram = QUANTILES): 256 bins
    over [min, max] of o_totalprice, the quantile read off the
    cumulative bin counts with linear interpolation inside the
    bracketing bin, audited per quantile against the exact
    quantile_cont answer (rel_err ≤ 0.2% at every audited q on the
    fixture's near-uniform prices).

    Unlike stats.exact_percentiles (whose reduction state is the
    distinct-VALUE histogram — exact, but data-dependent in size),
    this synopsis is 256 cells forever and merges by cell-wise ADD,
    so partial histograms from independent shards/streams compose —
    the same property the CMS grid ships.  The price is bounded,
    quantifiable bias inside a bin, which the rel_err column reports
    rather than hides.

    Determinism: bin edges are IEEE doubles computed identically in
    both engines (min/max/count are exact, the bin index is one
    subtract-divide-floor), cumulative counts are integers, and the
    interpolation is the same expression shape on both sides; the
    4/6 dp rounding is the continuous-value discipline.

    Scale shape: pass 1 is a 1-row min/max/count aggregate; pass 2 is
    a map-side-combined groupBy onto ≤256 cells (the extrema row
    broadcast into the scan, never a shuffle key); the quantile pick
    is a window + conditional-min over 256 rows.  Two scans total —
    at 100 TB the sketch state per task is 2 KB regardless of row
    count, and a streaming twin would maintain the same grid
    incrementally.
    """
    orders = table(spark, sf_dir, "orders").select("o_totalprice")
    ext = hist_extrema(orders)
    width = _hist_width()
    cells = hist_cells(orders.join(F.broadcast(ext)))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = cells.select(
        "bin",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        (F.sum("cnt").over(w) - F.col("cnt")).alias("cum_before"),
    )
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(q) for q in _HIST_QS])).alias("pct")
    )
    target = F.col("pct") * F.col("n")
    est = (
        cum.join(F.broadcast(ext))
        .join(F.broadcast(qs))
        .groupBy("pct")
        .agg(
            F.min(
                F.when(
                    (F.col("cum") >= target) & (F.col("cum_before") < target),
                    F.col("mn")
                    + width
                    * (
                        F.col("bin")
                        + (target - F.col("cum_before")) / F.col("cnt")
                    ),
                )
            ).alias("est")
        )
    )
    from i3cols_spark.operators.stats import exact_percentiles

    exact = exact_percentiles(
        orders.withColumn("__g", F.lit(1)),
        "__g",
        "o_totalprice",
        {f"q{int(q * 100)}": q for q in _HIST_QS},
    )
    exact_long = exact.select(
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(float(q)) for q in _HIST_QS]),
                F.array(*[F.col(f"q{int(q * 100)}") for q in _HIST_QS]),
            )
        ).alias("pct", "exact")
    )
    return est.join(exact_long, "pct").select(
        "pct",
        F.round("est", 4).alias("est_price"),
        F.round("exact", 4).alias("exact_price"),
        F.round(F.abs(F.col("est") - F.col("exact")) / F.col("exact"), 6).alias(
            "rel_err"
        ),
    )


def hist_extrema(orders: DataFrame) -> DataFrame:
    """The 1-row (mn, mx, n) of ``o_totalprice`` that fixes the
    histogram geometry."""
    return orders.agg(
        F.min("o_totalprice").alias("mn"),
        F.max("o_totalprice").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )


def _hist_width() -> "F.Column":
    return (F.col("mx") - F.col("mn")) / F.lit(float(_HIST_BINS))


def hist_cells(priced: DataFrame) -> DataFrame:
    """(bin, cnt) of the ≤256-cell equi-width grid over a frame of
    (o_totalprice, mn, mx) — q_agg_sketch_histogram and its streaming
    twin.  Binning guard: a constant-valued column makes
    the width 0 and the unguarded index NULL (double div-by-zero), so
    the index falls back to width 1.0 and maps everything to bin 0;
    the quantile ESTIMATE keeps the true width (0 then), so the
    degenerate quantile is exactly mn."""
    bin_width = F.when(F.col("mx") > F.col("mn"), _hist_width()).otherwise(
        F.lit(1.0)
    )
    return (
        priced.select(
            F.least(
                F.lit(_HIST_BINS - 1),
                F.floor((F.col("o_totalprice") - F.col("mn")) / bin_width),
            )
            .cast("bigint")
            .alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


#: HyperLogLog geometry: p = 8 → m = 256 registers (SE ≈ 1.04/√m ≈
#: 6.5%), 24-bit remainder for the rank.  Small enough that the
#: sf0.01 fixture lands in the LINEAR-COUNTING regime and sf0.1 in
#: the raw-HLL regime — both branches of the estimator are exercised
#: and value-hash-checked.
_HLL_M = 256
_HLL_REM_BITS = 24


def hll_hashes(ev: DataFrame) -> DataFrame:
    """One ``h32`` per row: 32 bits of md5(user_id), the cross-engine
    HLL hash family."""
    return ev.select(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        .alias("h32")
    )


def hll_registers(hashes: DataFrame) -> DataFrame:
    """(bucket, m_rank) registers of an ``h32`` frame: the top 8 bits
    pick the bucket, the rank is 24 − len(bin(w)) + 1 of the 24-bit
    remainder ``w``.  Registers merge by MAX, so duplicate hashes (the
    streaming twin skips the batch distinct) cannot move one."""
    parts = hashes.select(
        F.shiftright(F.col("h32"), _HLL_REM_BITS).alias("bucket"),
        F.pmod(F.col("h32"), F.lit(2**_HLL_REM_BITS)).alias("w"),
    )
    rank = F.when(F.col("w") == 0, F.lit(_HLL_REM_BITS + 1)).otherwise(
        F.lit(_HLL_REM_BITS) - F.length(F.bin(F.col("w"))) + 1
    )
    return parts.groupBy("bucket").agg(F.max(rank).alias("m_rank"))


@query(
    "q_agg_sketch_hll",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                           AS BIGINT) AS h32
      FROM events
    ), parts AS (
      SELECT h32 // {2**_HLL_REM_BITS} AS bucket,
             h32 % {2**_HLL_REM_BITS} AS w
      FROM h
    ), regs AS (
      SELECT bucket,
             max(CASE WHEN w = 0 THEN {_HLL_REM_BITS + 1}
                      ELSE {_HLL_REM_BITS} - length(bin(w)) + 1 END) AS m_rank
      FROM parts GROUP BY bucket
    ), full_regs AS (
      SELECT r.bucket, coalesce(regs.m_rank, 0) AS m_rank
      FROM (SELECT unnest(generate_series(0, {_HLL_M - 1})) AS bucket) r
      LEFT JOIN regs ON regs.bucket = r.bucket
    ), est AS (
      SELECT sum(pow(2.0, -m_rank)) AS denom,
             CAST(sum(CASE WHEN m_rank = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zeros
      FROM full_regs
    ), ex AS (
      SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct FROM events
    )
    SELECT floor((0.7213 / (1.0 + 1.079 / {_HLL_M}.0)) * {_HLL_M}.0 * {_HLL_M}.0
                 / denom * 1000000 + 0.5) / 1000000.0 AS hll_raw,
           zeros,
           CASE WHEN (0.7213 / (1.0 + 1.079 / {_HLL_M}.0)) * {_HLL_M}.0 * {_HLL_M}.0
                     / denom < 2.5 * {_HLL_M}.0 AND zeros > 0
                THEN floor({_HLL_M}.0 * ln({_HLL_M}.0 / zeros) * 1000000 + 0.5)
                     / 1000000.0
                ELSE floor((0.7213 / (1.0 + 1.079 / {_HLL_M}.0)) * {_HLL_M}.0
                           * {_HLL_M}.0 / denom * 1000000 + 0.5) / 1000000.0
           END AS hll_estimate,
           exact_distinct,
           floor(abs(CASE WHEN (0.7213 / (1.0 + 1.079 / {_HLL_M}.0)) * {_HLL_M}.0
                               * {_HLL_M}.0 / denom < 2.5 * {_HLL_M}.0
                               AND zeros > 0
                          THEN {_HLL_M}.0 * ln({_HLL_M}.0 / zeros)
                          ELSE (0.7213 / (1.0 + 1.079 / {_HLL_M}.0)) * {_HLL_M}.0
                               * {_HLL_M}.0 / denom END
                     - exact_distinct) / exact_distinct * 1000000 + 0.5)
               / 1000000.0 AS rel_err
    FROM est CROSS JOIN ex
    """,
)
def q_agg_sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog (Flajolet 2007) under the md5 cross-engine hash
    family — the sketch that was rows-only as q_agg_approx_distinct
    (engine-native HLLs differ) rebuilt as an EXPLICIT register
    array, so bucket placement, leading-zero ranks, the harmonic-mean
    estimate, the linear-counting small-range correction AND the
    realized error are all value-hash-checked.  Completing the
    synopsis family: CMS (frequency), Bloom (membership), KMV
    (cardinality + set algebra), histogram (quantiles), HLL
    (cardinality in O(m) registers vs KMV's O(k) hashes).

    The geometry (m = 256) is chosen so the fixture exercises BOTH
    estimator branches: sf0.01's 150 distinct users sit below the
    2.5m linear-counting threshold (estimate = m·ln(m/zeros)), sf0.1
    sits above it (raw harmonic mean) — an estimator whose correction
    path is never executed is untested prose.  Exact distinct and
    relative error are reported alongside (the bootstrap-CI
    discipline: the sketch audits itself).

    Determinism: the rank is 24 − len(bin(w)) + 1 — both
    engines' bin() renders without leading zeros, so the leading-zero
    count is pure integer/string arithmetic; 2^−rank sums are exact
    dyadics; ln is the only libm exposure, absorbed by HALF_UP 6 dp.

    Scale shape: one distinct-collapse of the key hashes, one
    map-side-combined 256-register max-aggregate (registers merge by
    MAX — the mergeability test executes this), dense registers via a
    broadcast 256-row spine; the estimate is a 1-row fold.  At 100 TB
    the shuffle is ≤256 rows per task regardless of key cardinality.
    """
    ev = table(spark, sf_dir, "events")
    regs = hll_registers(hll_hashes(ev).distinct())
    spine = spark.range(_HLL_M).select(F.col("id").alias("bucket"))
    full_regs = spine.join(F.broadcast(regs), "bucket", "left").select(
        F.coalesce("m_rank", F.lit(0)).alias("m_rank")
    )
    alpha = 0.7213 / (1.0 + 1.079 / _HLL_M)
    est = full_regs.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("m_rank"))).alias("denom"),
        F.sum(F.when(F.col("m_rank") == 0, 1).otherwise(0))
        .cast("bigint").alias("zeros"),
    )
    exact = ev.agg(F.countDistinct("user_id").cast("bigint").alias("exact_distinct"))
    raw = F.lit(alpha) * F.lit(float(_HLL_M)) * F.lit(float(_HLL_M)) / F.col("denom")
    lc = F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / F.col("zeros"))
    use_lc = (raw < F.lit(2.5 * _HLL_M)) & (F.col("zeros") > 0)
    estimate = F.when(use_lc, lc).otherwise(raw)
    from i3cols_spark.functions.rounding import round_half_up

    return est.crossJoin(exact).select(
        round_half_up(raw, 6).alias("hll_raw"),
        "zeros",
        round_half_up(estimate, 6).alias("hll_estimate"),
        "exact_distinct",
        round_half_up(
            F.abs(estimate - F.col("exact_distinct")) / F.col("exact_distinct"), 6
        ).alias("rel_err"),
    )
