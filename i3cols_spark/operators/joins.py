"""§2.3-B — the join family.

The reference's only "join" is positional alignment of equal-length
column arrays (SURVEY §2.2: row *i* everywhere is event *i*); we
materialize the key and expose the full relational family.  Physical
strategy notes per query: Catalyst picks broadcast-hash vs sort-merge
from size estimates; we hint where the 100 TB-scale choice is known
better than the estimate (dimension tables → ``broadcast``, fact-fact
→ ``merge``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from i3cols_spark.operators.registry import query
from i3cols_spark.sources.tables import materialize, spread, table


@query(
    "q_join_inner_hash",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_nationkey
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q_join_inner_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ customer — customer is small → broadcast-hash join.

    At 100 TB the customer dim is still ~GBs: broadcast beats shuffling
    the orders fact table; AQE would also convert post-filter.
    """
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    return orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey, "inner"
    ).select("o_orderkey", "o_totalprice", "c_name", "c_nationkey")


@query(
    "q_join_sortmerge",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, o.o_orderstatus
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def q_join_sortmerge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders — both large at scale → sort-merge join.

    The ``merge`` hint pins SMJ (at 100 TB neither side broadcasts;
    local-scale size estimates would otherwise pick BHJ and the test
    wouldn't exercise the scale-path plan).
    """
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").hint("merge")
    return li.join(orders, li.l_orderkey == orders.o_orderkey, "inner").select(
        "l_orderkey", "l_linenumber", "l_quantity", "o_orderstatus"
    )


@query(
    "q_join_broadcast",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, p.p_brand, p.p_retailprice
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    """,
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ part with an explicit broadcast hint (tiny dim side)."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    return li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "l_orderkey", "l_linenumber", "p_brand", "p_retailprice"
    )


@query(
    "q_join_left_outer",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    """,
)
def q_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer LEFT JOIN orders — keeps customers without orders."""
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return customer.join(orders, customer.c_custkey == orders.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "q_join_full_outer",
    oracle="""
    SELECT n.n_nationkey, n.n_name, s.s_suppkey, s.s_name
    FROM nation n FULL JOIN supplier s ON n.n_nationkey = s.s_nationkey
    """,
)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation FULL JOIN supplier — nulls on both unmatched sides."""
    nation = table(spark, sf_dir, "nation")
    supplier = table(spark, sf_dir, "supplier")
    return nation.join(
        supplier, nation.n_nationkey == supplier.s_nationkey, "full"
    ).select("n_nationkey", "n_name", "s_suppkey", "s_name")


@query(
    "q_join_semi",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with ≥1 order — left-semi (np.intersect1d analog)."""
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "q_join_anti",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
    )
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no large order — left-anti (np.setdiff1d analog).

    The >300000 predicate keeps the result non-empty at every SF
    (every customer has *some* order in this data, so a bare anti-join
    would be a vacuous 0-row check).
    """
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "q_join_theta_range",
    oracle="""
    SELECT e1.user_id, CAST(count(*) AS BIGINT) AS n_pairs
    FROM events e1 JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts > e1.ts
     AND e2.ts <= e1.ts + INTERVAL 1 HOUR
    GROUP BY e1.user_id
    """,
)
def q_join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi range self-join: follower events within 1 h, same user,
    counted per user.

    Relationally this is the keyed range join the oracle runs (equi on
    user_id + time-range residual — the plan q_stream_join uses to
    emit actual pairs).  Because this query only needs per-event
    FOLLOWER COUNTS, the engine evaluates it as an ordered window
    instead: ``count(*) over (partition by user order by ts range
    between current+1µs and current+1h)``.  The join form materializes
    every same-user pair before the range filter — intermediate rows
    grow with the square of per-user event density (measured 9.4× wall
    at a 10× density probe); the range-frame window is one shuffle on
    user_id and a sorted scan whose frame endpoints advance
    monotonically — linear per user at any density.
    """
    hour_us = 3_600_000_000
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    w = W.partitionBy("user_id").orderBy("us").rangeBetween(1, hour_us)
    return (
        ev.withColumn("followers", F.count("*").over(w))
        .groupBy("user_id")
        .agg(F.sum("followers").alias("n_pairs"))
        .filter(F.col("n_pairs") > 0)  # inner-join semantics: pairless users absent
    )


@query(
    "q_join_asof",
    oracle="""
    SELECT p.event_id, p.user_id, c.event_id AS asof_click_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (
        -- one click per (user, ts): max event_id — ASOF's pick among
        -- equal-ts clicks is otherwise unspecified in BOTH engines
        SELECT user_id, ts, max(event_id) AS event_id
        FROM events WHERE event_type = 'click'
        GROUP BY user_id, ts
    ) c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase → most recent prior-or-equal click of
    the same user.

    Spark has no native as-of physical operator (SURVEY §4.3), so we
    use the union-and-carry-forward emulation: tag both streams, sort
    within user, and carry the last click id forward with
    ``last(..., ignorenulls)``.  This is ONE shuffle on user_id and no
    join at all — it scales better than the naive
    join+row_number emulation (which shuffles twice and materializes
    all candidate pairs).  Ties at equal ts order clicks first
    (kind 0 < kind 1), matching ASOF's ``>=`` semantics; among clicks
    at the SAME ts the trailing ``click_id`` sort key makes ``last``
    pick the max event_id deterministically (the oracle dedupes its
    click stream to the same max — either engine's untied pick would
    be run-order-dependent).
    """
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.lit(0).alias("kind"),
        F.lit(None).cast("long").alias("purchase_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("click_id"),
        F.lit(1).alias("kind"),
        F.col("event_id").alias("purchase_id"),
    )
    tagged = clicks.unionByName(purchases)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "kind", "click_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        tagged.withColumn("asof_click_id", F.last("click_id", ignorenulls=True).over(w))
        .filter(F.col("kind") == 1)
        .select(F.col("purchase_id").alias("event_id"), "user_id", "asof_click_id")
    )


@query(
    "q_join_asof_tolerance",
    oracle="""
    SELECT p.event_id, p.user_id,
           CASE WHEN epoch_us(p.ts) - epoch_us(c.ts) <= 3600000000
                THEN c.event_id END AS asof_click_id,
           CASE WHEN epoch_us(p.ts) - epoch_us(c.ts) <= 3600000000
                THEN epoch_us(p.ts) - epoch_us(c.ts) END AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (
        SELECT user_id, ts, max(event_id) AS event_id
        FROM events WHERE event_type = 'click'
        GROUP BY user_id, ts
    ) c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH A STALENESS BOUND — the serving-correct form of
    q_join_asof: each purchase matches its latest prior click only if
    that click is ≤ 1 hour old, else NULL (plus the exact µs gap).  A
    feature older than the tolerance is worse than no feature — the
    bound is what point-in-time feature stores actually enforce.

    Same single-pass shape as the parent: union-tag both streams, one
    window per user carries the last click (ts, id) forward via
    last(ignorenulls), then the tolerance is a pure projection over
    the carried struct — no second join, no per-row range probe.  The
    oracle uses DuckDB's native ASOF JOIN and re-applies the bound as
    a CASE, pinning both the nearest-prior choice and the cutoff
    arithmetic (µs integers — exact cross-engine).  Equal-ts clicks
    dedupe to max event_id in both engines first (ASOF's pick among
    ties is otherwise unspecified).
    """
    tol_us = 3_600_000_000
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .select(
            "user_id",
            "ts",
            F.struct(F.unix_micros("ts").alias("cts"), F.col("click_id")).alias(
                "click"
            ),
            F.lit(0).alias("kind"),
            F.lit(None).cast("long").alias("purchase_id"),
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(None)
        .cast("struct<cts:bigint,click_id:bigint>")
        .alias("click"),
        F.lit(1).alias("kind"),
        F.col("event_id").alias("purchase_id"),
    )
    tagged = clicks.unionByName(purchases)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "kind", F.col("click.click_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    gap = F.unix_micros("ts") - F.col("last_click.cts")
    in_tol = F.col("last_click").isNotNull() & (gap <= tol_us)
    return (
        tagged.withColumn(
            "last_click", F.last("click", ignorenulls=True).over(w)
        )
        .filter(F.col("kind") == 1)
        .select(
            F.col("purchase_id").alias("event_id"),
            "user_id",
            F.when(in_tol, F.col("last_click.click_id")).alias("asof_click_id"),
            F.when(in_tol, gap).alias("gap_us"),
        )
    )


@query(
    "q_join_multiway_star",
    oracle="""
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM region r
    JOIN nation n    ON n.n_regionkey = r.r_regionkey
    JOIN customer c  ON c.c_nationkey = n.n_nationkey
    JOIN orders o    ON o.o_custkey   = c.c_custkey
    JOIN lineitem l  ON l.l_orderkey  = o.o_orderkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
      AND o.o_orderdate >= TIMESTAMP '1995-01-01'
    GROUP BY n.n_name
    """,
)
def q_join_multiway_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H-Q5-shaped star join (scan+filter+join+agg).

    region and nation are broadcast unconditionally (dims bounded by
    geography).  customer GROWS with scale factor, so facts⋈dims is
    deliberately left to AQE: at small SF it converts to broadcast at
    runtime; at 100 TB it stays a shuffled join — a hard-coded
    ``broadcast(dims)`` measured 14.5× slower at 10× data (driver-side
    hash-table build on 1.5 M rows) and would OOM the driver at scale.
    """
    region = table(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    nation = table(spark, sf_dir, "nation")
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= "1995-01-01")
    li = table(spark, sf_dir, "lineitem")
    dims = (
        customer.join(
            F.broadcast(nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)),
            customer.c_nationkey == F.col("n_nationkey"),
        )
    ).select("c_custkey", "n_name")
    facts = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "o_custkey", "l_extendedprice", "l_discount"
    )
    return (
        facts.join(dims, facts.o_custkey == dims.c_custkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


#: Bloom prefilter geometry: m bits across 64-bit words, k probe
#: hashes.  Correctness never depends on these (an exact semi-join
#: runs after the prefilter); they only set the false-positive rate
#: that determines how many non-matching rows still pay the shuffle.
_BLOOM_M = 1 << 14
_BLOOM_K = 3


def _bloom_probe(key: str, bloom: str = "bloom", m: int = _BLOOM_M, k: int = _BLOOM_K):
    """AND of k bit-tests of column ``key`` against the word-index→mask
    map column ``bloom``.  Built as a SQL expr because ``shiftleft``
    only accepts a column shift amount in its SQL form — still pure
    codegen arithmetic, no UDF anywhere in the probe."""
    tests = []
    for seed in range(k):
        pos = f"pmod(xxhash64({key}, {seed}), {m})"
        tests.append(
            f"(coalesce(element_at({bloom}, CAST({pos} DIV 64 AS INT)),"
            f" CAST(0 AS BIGINT))"
            f" & shiftleft(CAST(1 AS BIGINT), CAST({pos} % 64 AS INT))) != 0"
        )
    return F.expr(" AND ".join(tests))


@query(
    "q_join_bloom_prefilter",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_custkey IN (
        SELECT c_custkey FROM customer WHERE c_acctbal > 9000
    )
    """,
)
def q_join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join accelerated by a hand-built Bloom prefilter — the
    runtime-filter technique Spark applies to shuffle joins
    (spark.sql.optimizer.runtime.bloomFilter), expressed explicitly so
    the mechanism itself is on the tested surface.

    Build side: the filtered customer keys hash into an m-bit bitmap
    held as ONE row — explode k seeds per key, bucket bits into 64-bit
    words with a map-side-combined ``bit_or`` groupBy (≤ m/64 = 256
    rows), then fold the words into a word→mask map.  No driver
    collect: the 1-row bitmap broadcasts as a nested-loop join, so the
    build stays declarative end to end.  Probe side: every orders row
    tests k bits with pure column arithmetic (xxhash64 + shift/AND —
    whole-stage codegen, no UDF).  Rows failing ANY bit — the vast
    majority when the build side is selective — are dropped BEFORE the
    exact left-semi join, so at 100 TB the shuffle moves only probable
    matches plus the small false-positive tail; the semi join then
    removes the false positives, which is why the oracle is the plain
    IN-subquery: the prefilter is invisible in the result, only in the
    plan.
    """
    keys = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select("c_custkey")
    )
    positions = keys.select(
        F.explode(
            F.array(*[
                F.pmod(F.xxhash64("c_custkey", F.lit(s)), F.lit(_BLOOM_M))
                for s in range(_BLOOM_K)
            ])
        ).alias("pos")
    )
    words = positions.groupBy(
        F.expr("CAST(pos DIV 64 AS INT)").alias("word")
    ).agg(
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
        ).alias("mask")
    )
    bloom = words.agg(
        F.map_from_entries(F.collect_list(F.struct("word", "mask"))).alias("bloom")
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    prefiltered = orders.crossJoin(F.broadcast(bloom)).filter(
        _bloom_probe("o_custkey")
    )
    return prefiltered.join(
        keys, prefiltered.o_custkey == keys.c_custkey, "left_semi"
    ).select("o_orderkey", "o_custkey", "o_totalprice")


@query(
    "q_join_salted_skew",
    oracle="""
    SELECT c.c_nationkey,
           round(sum(e.value), 2) AS total_value,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_nationkey
    """,
)
def q_join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant equi-join via explicit salting
    (sources/ingest.py::salted_join): the event stream — whose user_id
    distribution is Zipf-shaped, the classic hot-key join — salts into
    8 sub-keys while the dimension side replicates across all salts,
    so one hot user spreads over 8 reducers instead of pinning one.

    Registered as a checked query (not just a library helper +
    unit test) because the technique's whole claim is result
    invariance: the oracle is the PLAIN join — salting must be
    invisible in the values and visible only in the exchange keys
    ((user_id, __salt) instead of user_id, pinned by
    tests/test_plans.py::test_salted_join_matches_plain_join's plan
    half).  AQE skew-split handles moderate skew on its own; explicit
    salting is the fallback for single-key extremes where even a
    split partition is one task.
    """
    from i3cols_spark.sources.ingest import salted_join

    ev = table(spark, sf_dir, "events").select("user_id", "value")
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    return (
        salted_join(ev, cust, "user_id", n_salts=8)
        .groupBy("c_nationkey")
        .agg(
            F.round(F.sum("value"), 2).alias("total_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def _bucketed_mirror(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write-once bucketed mirror of (lineitem, orders) hash-bucketed
    on the join key — the pay-the-shuffle-once layout of
    sources/ingest.write_bucketed, cached per dataset CONTENT by
    sources/mirrors.write_once (warehouse home, fingerprint marker,
    temp-dir build published by directory swap), and REGISTERED in the
    session catalog via bucketed-DDL over the published files, so the
    mirror survives across driver sessions the way a real warehouse
    table does.

    Returns the two catalog table names.
    """
    import os

    from i3cols_spark.sources.mirrors import dataset_tag, write_once

    tag = dataset_tag(sf_dir)
    srcs = [
        os.path.join(sf_dir, "lineitem.parquet"),
        os.path.join(sf_dir, "orders.parquet"),
    ]
    specs = {
        f"bm_lineitem_{tag}": (
            "lineitem",
            ("l_orderkey", "l_extendedprice", "l_discount"),
            "l_orderkey bigint, l_extendedprice double, l_discount double",
            "l_orderkey",
        ),
        f"bm_orders_{tag}": (
            "orders",
            ("o_orderkey", "o_orderstatus"),
            "o_orderkey bigint, o_orderstatus string",
            "o_orderkey",
        ),
    }
    for tname, (src, cols, ddl_cols, key) in specs.items():

        def build(out: str, tname=tname, src=src, cols=cols, key=key) -> None:
            # bucketBy writes only through saveAsTable; the table it
            # registers points at the temp dir and is re-registered
            # over the published path below
            spark.sql(f"DROP TABLE IF EXISTS {tname}")
            (
                table(spark, sf_dir, src)
                .select(*cols)
                .write.mode("overwrite")
                .bucketBy(8, key)
                .sortBy(key)
                .option("path", out)
                .format("parquet")
                .saveAsTable(tname)
            )

        loc, built = write_once(
            spark,
            "bucketed_mirror",
            tname,
            srcs,
            build,
            {"n_buckets": 8, "key": key},
        )
        if built or not spark.catalog.tableExists(tname):
            # register the SAME bucket spec over the published files
            spark.sql(f"DROP TABLE IF EXISTS {tname}")
            spark.sql(
                f"CREATE TABLE {tname} ({ddl_cols}) USING parquet "
                f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO 8 BUCKETS "
                f"LOCATION '{loc}'"
            )
    return tuple(specs)


@query(
    "q_join_bucketed",
    oracle="""
    SELECT o.o_orderstatus,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join over the write-once BUCKETED mirror: both sides
    pre-hashed into 8 co-located buckets on the join key, so the join
    itself plans with ZERO exchanges (tests/test_plans.py asserts it)
    — the shuffle was paid once at layout time, the way a 100 TB
    warehouse keeps its biggest fact tables joinable every hour
    without re-shuffling 100 TB every hour.

    The oracle is the plain join over the raw parquet: identical
    values, different physical life.  The ``merge`` hint pins SMJ at
    fixture scale (Catalyst would broadcast the small side and the
    plan wouldn't demonstrate co-location; at real scale SMJ is what
    AQE picks anyway).
    """
    bl_name, bo_name = _bucketed_mirror(spark, sf_dir)
    bl = spark.table(bl_name).hint("merge")
    bo = spark.table(bo_name)
    return (
        bl.join(bo, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q_join_fuzzy_names",
    oracle="""
    SELECT c.c_custkey, s.s_suppkey,
           CAST(levenshtein(substr(c.c_name, 10, 9),
                            substr(s.s_name, 10, 9)) AS INT) AS edit_dist
    FROM customer c JOIN supplier s
      ON substr(c.c_name, 10, 6) = substr(s.s_name, 10, 6)
     AND levenshtein(substr(c.c_name, 10, 9), substr(s.s_name, 10, 9)) <= 1
    """,
)
def q_join_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity resolution across two registries: customers
    matched to suppliers whose 9-digit name suffix is within edit
    distance 1 — the approximate-string-join every dedup/linkage
    pipeline needs where keys were typed, OCR'd, or re-issued.

    A naive fuzzy join is the cross product (|C|·|S| Levenshtein
    calls); this plan BLOCKS on the first 6 suffix digits — an
    ordinary equi-join key, so it hash-partitions like any join — and
    pays the quadratic comparison only inside a block.  One
    substitution in the last 3 digits keeps the block key intact, so
    distance ≤ 1 matches are preserved EXCEPT edits in the blocking
    prefix — the standard blocking trade-off, declared (a production
    linkage would union a second pass blocked on the suffix).  Both
    engines implement plain Levenshtein identically on ASCII;
    distance is exact INT, no rounding.  At 100 TB block sizes are
    bounded by the key design (fixed 1000-suffix range), so the
    per-block quadratic term is constant and the total is linear in
    rows, AQE handling any residual block skew.
    """
    # spread(): the fixture's single-file customer scan would run the
    # whole blocked-Levenshtein probe in ONE task (r12 stage audit);
    # at production file counts this is a no-op (sources/tables.py).
    cust = spread(table(spark, sf_dir, "customer"), spark).select(
        "c_custkey",
        F.substring("c_name", 10, 6).alias("blk_c"),
        F.substring("c_name", 10, 9).alias("sfx_c"),
    )
    supp = table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.substring("s_name", 10, 6).alias("blk_s"),
        F.substring("s_name", 10, 9).alias("sfx_s"),
    )
    dist = F.levenshtein("sfx_c", "sfx_s")
    return (
        cust.join(supp, (F.col("blk_c") == F.col("blk_s")) & (dist <= 1))
        .select(
            "c_custkey",
            "s_suppkey",
            dist.cast("int").alias("edit_dist"),
        )
    )


@query(
    "q_join_interval_grid",
    oracle="""
    WITH iv AS (
        SELECT o_orderkey, o_orderpriority,
               least(d0, d1) AS s, greatest(d0, d1) AS e
        FROM (
            SELECT o.o_orderkey, o.o_orderpriority,
                   CAST(epoch(o.o_orderdate) / 86400 AS BIGINT)     AS d0,
                   CAST(epoch(max(l.l_shipdate)) / 86400 AS BIGINT) AS d1
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
        )
    )
    SELECT a.o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(max(least(a.e, b.e) - greatest(a.s, b.s)) AS BIGINT)
               AS max_overlap_days
    FROM iv a JOIN iv b
      ON a.o_orderpriority = b.o_orderpriority
     AND a.o_orderkey < b.o_orderkey
     AND a.s <= b.e AND b.s <= a.e
    GROUP BY a.o_orderpriority
    """,
)
def q_join_interval_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap PAIR AGGREGATE via a SWEEP-LINE, with ZERO
    pair enumeration: per order-priority class, the count of pairs of
    order activity intervals [orderdate, max shipdate] that overlap,
    plus the widest overlap — O(n log n), never Θ(pairs).

    History: this query originally enumerated
    candidate pairs through a grid-cell equi-join and claimed the
    Θ(true pairs) cost (~1.7 B at sf0.1, 353 s) was "inherent to the
    overlap-count semantics".  It is inherent only to pair
    EMISSION; the registered output is an AGGREGATE, and both of its
    columns fall to classic sweep-line identities over the day-value
    distribution (the q_agg_percentile / q_stats_spearman
    distribution-path discipline):

    * ``n_pairs`` by complement: overlapping = C(n,2) − disjoint, and
      a pair is disjoint iff one interval's end is strictly before
      the other's start — so disjoint = Σ over distinct start-days s
      of start_cnt(s) · |{intervals with e < s}|, a running sum of
      end-day counts merged with start-day counts on ONE per-priority
      window over DISTINCT DAY VALUES (≤ the ~2.5 k-day fixture span,
      regardless of row count).  Each disjoint pair is counted exactly
      once, at its later start (e_a < s_b ≤ e_b excludes the mirror).
    * ``max_overlap_days`` by the prior-end running max: order
      distinct start-days ascending; for start-day s the best partner
      for ANY interval starting at s among earlier-or-equal starters
      is either (a) the largest prior end E (pair overlap =
      min(E, max_e(s)) − s, achieved by the actual interval holding
      E, an upper bound by monotonicity of min) or (b) the two
      largest ends within the same start-day (overlap =
      second_max_e(s) − s).  Negative candidates are exactly the
      non-overlapping ones and lose the max; ties in start collapse
      into the same day row, so every unordered pair is considered.

    Plan shape: ONE corpus-sized shuffle (the per-(priority, s, e)
    count — map-side combinable, materialised and reused by all
    three consumers like q_text_bm25_search's tf), then every window
    and join runs on day-granular rows bounded by the calendar span —
    the whole tail is scale-FREE in the row count, and the 100×
    fixed-span densification that made the grid plan quadratic leaves
    this plan's cost unchanged.  The grid-binning pattern itself
    remains the right tool for pair-EMITTING interval/spatial joins
    (q_join_radius_2d, where output is Θ(pairs) anyway); sweep ≡
    brute-force pair enumeration is property-pinned on a small slice
    in tests/test_properties.py.

    The oracle states the semantics as the plain range self-join —
    O(block²) comparisons DuckDB can afford at oracle SF.  Day
    arithmetic is integer (epoch-days), so counts and max-overlap are
    exact cross-engine; least/greatest normalizes reversed endpoints
    in the synthetic data identically in both dialects.
    """
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    epoch_days = lambda c: (F.unix_timestamp(c) / 86400).cast("long")  # noqa: E731
    iv = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(F.max("l_shipdate").alias("ship_end"))
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.least(
                epoch_days(F.col("o_orderdate")), epoch_days(F.col("ship_end"))
            ).alias("s"),
            F.greatest(
                epoch_days(F.col("o_orderdate")), epoch_days(F.col("ship_end"))
            ).alias("e"),
        )
    )
    # The one corpus-sized reduction: interval counts per distinct
    # (priority, start-day, end-day) — everything after is day-sized.
    sec = (
        iv.groupBy("priority", "s", "e")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .transform(materialize)  # consumed 3× (starts, ends, same-day top-2)
    )

    # --- n_pairs: C(n,2) minus disjoint pairs, distribution path ----
    starts = sec.groupBy("priority", F.col("s").alias("val")).agg(
        F.sum("cnt").alias("start_cnt")
    )
    ends = sec.groupBy("priority", F.col("e").alias("val")).agg(
        F.sum("cnt").alias("end_cnt")
    )
    # tag orders starts BEFORE ends at equal day value, so the
    # inclusive running end-sum at a start row counts only e < s
    # (strict — touching intervals overlap with 0 days, not disjoint).
    events = starts.select(
        "priority", "val", F.lit(0).alias("tag"), "start_cnt",
        F.lit(0).cast("long").alias("end_cnt"),
    ).unionByName(
        ends.select(
            "priority", "val", F.lit(1).alias("tag"),
            F.lit(0).cast("long").alias("start_cnt"), "end_cnt",
        )
    )
    w_run = (
        W.partitionBy("priority")
        .orderBy("val", "tag")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    per_prio = (
        events.withColumn("ends_before", F.sum("end_cnt").over(w_run))
        .groupBy("priority")
        .agg(
            F.sum("start_cnt").cast("long").alias("n"),
            F.sum(F.col("start_cnt") * F.col("ends_before"))
            .cast("long")
            .alias("disjoint"),
        )
        .select(
            "priority",
            # integer DIV keeps the C(n,2) arithmetic exact in long
            # space (the `/` operator would detour through double).
            (F.expr("n * (n - 1) DIV 2") - F.col("disjoint"))
            .cast("long")
            .alias("n_pairs"),
        )
    )

    # --- max_overlap_days: prior-end running max over start-days ----
    w_top = W.partitionBy("priority", "s").orderBy(
        F.desc("e"), F.desc("cnt")
    )
    w_day_n = W.partitionBy("priority", "s")
    byday = (
        sec.withColumn("n_s", F.sum("cnt").over(w_day_n))
        .withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= 2)
        .groupBy("priority", "s")
        .agg(
            F.max("n_s").alias("n_s"),
            F.max("e").alias("max_e"),
            # 2nd-largest end this day: the top row's own e when it
            # carries ≥2 intervals, else the runner-up row's e.
            F.max(
                F.when(
                    (F.col("rn") == 1) & (F.col("cnt") >= 2), F.col("e")
                ).otherwise(F.when(F.col("rn") == 2, F.col("e")))
            ).alias("max2_e"),
        )
    )
    w_prior = (
        W.partitionBy("priority")
        .orderBy("s")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    # NB: Spark's least() SKIPS nulls (unlike SQL's strict NULL-in →
    # NULL-out), so the empty w_prior frame on the first start-day per
    # priority would otherwise collapse candidate (a) to max_e - s — a
    # phantom self-overlap of the earliest interval.
    prior_max = F.max("max_e").over(w_prior)
    cand = F.greatest(
        F.when(
            prior_max.isNotNull(),
            F.least(prior_max, F.col("max_e")) - F.col("s"),
        ),
        F.when(F.col("n_s") >= 2, F.col("max2_e") - F.col("s")),
    )
    widest = (
        byday.select("priority", cand.alias("cand"))
        .groupBy("priority")
        .agg(F.max("cand").cast("long").alias("max_overlap_days"))
    )

    return (
        per_prio.join(widest, "priority")
        .filter(F.col("n_pairs") > 0)
        .select("priority", "n_pairs", "max_overlap_days")
    )


@query(
    "q_join_interval_overlap",
    oracle="""
    WITH iv AS (
        SELECT o.o_orderkey, o.o_totalprice,
               o.o_orderdate AS iv_start, max(l.l_shipdate) AS iv_end
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderkey, o.o_totalprice, o.o_orderdate
    ),
    win AS (
        SELECT CAST(m AS BIGINT) AS month_idx,
               TIMESTAMP '1994-01-01' + to_months(CAST(m AS INT)) AS w_start,
               TIMESTAMP '1994-01-01' + to_months(CAST(m + 1 AS INT)) AS w_end
        FROM unnest(generate_series(0, 23)) AS g(m)
    )
    SELECT w.month_idx, epoch_us(w.w_start) AS window_start_us,
           CAST(count(*) AS BIGINT)         AS n_orders,
           round(sum(iv.o_totalprice), 2)   AS total_price
    FROM iv JOIN win w
      ON iv.iv_start < w.w_end AND w.w_start <= iv.iv_end
    GROUP BY w.month_idx, w.w_start
    """,
)
def q_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: each order's fulfillment interval
    [o_orderdate, max(l_shipdate)] against 24 monthly calendar windows
    — "which orders were in flight during month m" — the temporal-
    overlap primitive behind campaign attribution, capacity planning,
    and SCD-interval auditing (q_scd2_intervals builds the intervals;
    this query JOINS on them).

    Overlap is half-open vs closed: interval [s, e] overlaps window
    [ws, we) iff s < we AND ws <= e.  An order spanning k month
    boundaries lands in k+1 windows — deliberately n:m, which is what
    distinguishes this from q_join_asof (latest-before) and
    q_join_theta_range (band predicate on scalars).

    Scale shape: intervals come from ONE join+groupBy on o_orderkey
    (orders⋈lineitem co-partition on the key; at 100 TB bucket both on
    orderkey — q_join_bucketed pins that layout).  The calendar side
    is 24 rows → explicit ``broadcast``; Catalyst plans the overlap as
    BroadcastNestedLoopJoin, which is exactly right for a tiny
    window dimension.  When BOTH interval sides are large, the plan
    switches to the grid trick (explode each interval to the months it
    touches, equi-join on month, re-check the exact predicate) —
    q_join_radius_2d pins that pattern in 2-D; the fixture keeps the
    dimension side small so the oracle stays quadratic-free.
    """
    orders = table(spark, sf_dir, "orders")
    lineitem = table(spark, sf_dir, "lineitem")
    iv = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy("o_orderkey", "o_totalprice", "o_orderdate")
        .agg(F.max("l_shipdate").alias("iv_end"))
        .select(
            F.col("o_totalprice"),
            F.col("o_orderdate").alias("iv_start"),
            "iv_end",
        )
    )
    win = spark.range(0, 24).select(
        F.col("id").cast("long").alias("month_idx"),
        F.add_months(F.lit("1994-01-01").cast("timestamp"), F.col("id").cast("int"))
        .cast("timestamp").alias("w_start"),
        F.add_months(F.lit("1994-01-01").cast("timestamp"), F.col("id").cast("int") + 1)
        .cast("timestamp").alias("w_end"),
    )
    return (
        iv.join(
            F.broadcast(win),
            (iv.iv_start < win.w_end) & (win.w_start <= iv.iv_end),
        )
        .groupBy("month_idx", F.unix_micros("w_start").alias("window_start_us"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


#: Node-id offset separating the supplier key space from customers in
#: the entity-resolution match graph (far above any fixture key).
_ER_SUPP_OFFSET = 1_099_511_627_776  # 2^40, the BFS convention


@query(
    "q_entity_resolution",
    oracle=rf"""
    WITH RECURSIVE raw AS (
        SELECT c.c_custkey AS cust,
               s.s_suppkey + {_ER_SUPP_OFFSET} AS supp
        FROM customer c JOIN supplier s
          ON substr(c.c_name, 10, 6) = substr(s.s_name, 10, 6)
         AND levenshtein(substr(c.c_name, 10, 9), substr(s.s_name, 10, 9)) <= 1
    ),
    edges AS (
        SELECT cust AS a, supp AS b FROM raw
        UNION ALL
        SELECT supp, cust FROM raw
    ),
    reach(src, dst) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    comp AS (
        SELECT src AS node, min(dst) AS entity_id FROM reach GROUP BY src
    )
    SELECT CASE WHEN node < {_ER_SUPP_OFFSET} THEN 'customer' ELSE 'supplier' END
               AS kind,
           CAST(CASE WHEN node < {_ER_SUPP_OFFSET} THEN node
                     ELSE node - {_ER_SUPP_OFFSET} END AS BIGINT) AS key,
           CAST(entity_id AS BIGINT) AS entity_id,
           CAST(count(*) OVER (PARTITION BY entity_id) AS BIGINT) AS entity_size
    FROM comp
    ORDER BY entity_id, kind, key
    """,
)
def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution CLOSED INTO CANONICAL ENTITIES: the blocked
    fuzzy name matches of q_join_fuzzy_names (edit distance ≤ 1 on
    the 9-digit name suffix, equi-blocked on its 6-digit prefix) are
    edges of a customer↔supplier match graph, and hook+pointer-jump
    connected components assign every MATCHED record its canonical
    entity_id (= min node id of the component) — the step that turns
    pairwise linkage into a master-data identity, exactly as
    q_dedup_*_cluster_rep turns near-dup pairs into cluster
    representatives.  Output is one row per matched record with its
    entity id and entity size; unmatched records are their own
    entities by definition and are deliberately not materialized
    (at 100 TB the interesting output is the match closure, not an
    identity row per record).

    Scale shape: the match join is the blocked equi-join (linear,
    per-block quadratic bounded by key design — q_join_fuzzy_names'
    analysis); components run on the MATCH-graph, whose size is the
    number of fuzzy matches, not the number of records; supplier ids
    move to a disjoint +2^40 key space (the BFS convention) so one
    long column carries both registries.  The oracle is the textbook
    recursive-CTE closure over the same edges, so every entity label
    is value-hash-checked.
    """
    from i3cols_spark.operators.graph import connected_components

    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"), F.substring("c_name", 10, 9).alias("cn")
    )
    supp = table(spark, sf_dir, "supplier").select(
        (F.col("s_suppkey") + F.lit(_ER_SUPP_OFFSET)).alias("supp"),
        F.substring("s_name", 10, 9).alias("sn"),
    )
    # Materialize the match edges once: the levenshtein block join is
    # the query's whole cost, and its three downstream consumers (CC's
    # edge checkpoint, the nodes-union label checkpoint, and the loop)
    # run as separate jobs — the r12 stage audit caught the join
    # re-executing 3x (1 + the union's 2 branches) without this.
    raw = (
        cust.join(
            supp,
            (F.substring("cn", 1, 6) == F.substring("sn", 1, 6))
            & (F.levenshtein("cn", "sn") <= 1),
        )
        .select("cust", "supp")
        .transform(materialize, lazy=True)
    )
    edges = raw.select(F.col("cust").alias("a"), F.col("supp").alias("b"))
    nodes = (
        edges.select(F.col("a").alias("id"))
        .union(edges.select(F.col("b").alias("id")))
        .distinct()
    )
    comp = connected_components(nodes, edges)
    w_ent = W.partitionBy("comp")
    return (
        comp.select(
            F.when(F.col("id") < _ER_SUPP_OFFSET, F.lit("customer"))
            .otherwise(F.lit("supplier")).alias("kind"),
            F.when(F.col("id") < _ER_SUPP_OFFSET, F.col("id"))
            .otherwise(F.col("id") - _ER_SUPP_OFFSET).cast("bigint").alias("key"),
            F.col("comp").cast("bigint").alias("entity_id"),
            F.count(F.lit(1)).over(w_ent).cast("bigint").alias("entity_size"),
        )
        .orderBy("entity_id", "kind", "key")
    )


@query(
    "q_join_asof_nearest",
    oracle="""
    WITH cl AS (
      SELECT user_id, ts, max(event_id) AS click_id
      FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ), p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), prev AS (
      SELECT p.event_id, p.user_id, p.ts, c.click_id AS prev_id, c.ts AS prev_ts
      FROM p ASOF LEFT JOIN cl c ON p.user_id = c.user_id AND p.ts >= c.ts
    ), paired AS (
      SELECT pr.event_id, pr.user_id, pr.prev_id, pr.prev_ts,
             c2.click_id AS next_id, c2.ts AS next_ts, pr.ts
      FROM prev pr
      ASOF LEFT JOIN cl c2 ON pr.user_id = c2.user_id AND pr.ts < c2.ts
    )
    SELECT event_id, user_id,
           CASE WHEN prev_id IS NULL AND next_id IS NULL THEN NULL
                WHEN next_id IS NULL THEN prev_id
                WHEN prev_id IS NULL THEN next_id
                WHEN date_diff('microsecond', prev_ts, ts)
                     <= date_diff('microsecond', ts, next_ts) THEN prev_id
                ELSE next_id END AS nearest_click_id,
           CASE WHEN prev_id IS NULL AND next_id IS NULL THEN NULL
                WHEN next_id IS NULL THEN date_diff('microsecond', prev_ts, ts)
                WHEN prev_id IS NULL THEN date_diff('microsecond', ts, next_ts)
                ELSE least(date_diff('microsecond', prev_ts, ts),
                           date_diff('microsecond', ts, next_ts))
                END AS gap_us
    FROM paired
    """,
)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-direction as-of join — the third as-of flavor (backward
    = q_join_asof, staleness-bounded = q_join_asof_tolerance): each
    purchase matches the click of the same user with the smallest
    |time gap| in EITHER direction, ties preferring the earlier
    (backward) click — sensor-fusion / sparse-feature alignment
    semantics, where the closest observation matters and "after" is
    as good as "before".

    Spark shape: the SAME single-shuffle union-and-carry plan as
    q_join_asof, run in both directions over one (user_id)-
    partitioned (ts, kind, id) sort: backward candidate =
    last(click, ignorenulls) over the preceding frame, forward =
    first(click, ignorenulls) over the FOLLOWING frame — equal-ts
    clicks sort before the purchase (kind 0 < 1), so the backward
    side owns ties at gap 0 exactly like the oracle's >=/< split.
    One shuffle, two window passes over the same partitioning, no
    join, no candidate materialization.  Gaps are exact µs BIGINTs;
    clicks pre-dedupe to max event_id per (user, ts) (the q_join_asof
    determinism rule).
    """
    ev = table(spark, sf_dir, "events")
    cl = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    tagged = cl.select(
        "user_id", "ts", F.lit(0).alias("kind"),
        F.struct(F.unix_micros(F.col("ts").cast("timestamp")).alias("c_us"),
                 F.col("click_id")).alias("c"),
        F.lit(None).cast("bigint").alias("purchase_id"),
    ).unionAll(
        p.select(
            "user_id", "ts", F.lit(1).alias("kind"),
            F.lit(None).cast("struct<c_us:bigint,click_id:bigint>").alias("c"),
            F.col("event_id").alias("purchase_id"),
        )
    )
    w = W.partitionBy("user_id").orderBy("ts", "kind", "purchase_id")
    carried = tagged.select(
        "user_id", "ts", "kind", "purchase_id",
        F.last("c", ignorenulls=True)
        .over(w.rowsBetween(W.unboundedPreceding, 0)).alias("prev"),
        F.first("c", ignorenulls=True)
        .over(w.rowsBetween(0, W.unboundedFollowing)).alias("nxt"),
    ).filter(F.col("kind") == 1)
    p_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap_prev = p_us - F.col("prev.c_us")
    gap_next = F.col("nxt.c_us") - p_us
    nearest = (
        F.when(F.col("prev").isNull() & F.col("nxt").isNull(),
               F.lit(None).cast("bigint"))
        .when(F.col("nxt").isNull(), F.col("prev.click_id"))
        .when(F.col("prev").isNull(), F.col("nxt.click_id"))
        .when(gap_prev <= gap_next, F.col("prev.click_id"))
        .otherwise(F.col("nxt.click_id"))
    )
    gap = (
        F.when(F.col("prev").isNull() & F.col("nxt").isNull(),
               F.lit(None).cast("bigint"))
        .when(F.col("nxt").isNull(), gap_prev)
        .when(F.col("prev").isNull(), gap_next)
        .otherwise(F.least(gap_prev, gap_next))
    )
    return carried.select(
        F.col("purchase_id").alias("event_id"),
        "user_id",
        nearest.alias("nearest_click_id"),
        gap.cast("bigint").alias("gap_us"),
    )


@query(
    "q_join_asof_forward",
    oracle="""
    SELECT p.event_id, p.user_id, c.event_id AS next_click_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (
        -- one click per (user, ts): min event_id — ASOF's pick among
        -- equal-ts clicks is otherwise unspecified in BOTH engines
        SELECT user_id, ts, min(event_id) AS event_id
        FROM events WHERE event_type = 'click'
        GROUP BY user_id, ts
    ) c
      ON p.user_id = c.user_id AND p.ts <= c.ts
    """,
)
def q_join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join — each purchase matched to the NEXT click at
    or after it, per user: the attribution direction q_join_asof
    (last click BEFORE) leaves open, completing the as-of family
    (backward / forward / nearest / tolerance).  "What did the user
    do right after buying" is the post-purchase-behavior spelling of
    the same streaming-ETL primitive.

    Same union-and-carry emulation as q_join_asof, mirrored: tag both
    streams, sort within user by (ts, tag) with clicks AFTER
    purchases at equal ts (the join is inclusive, p.ts <= c.ts), and
    each purchase takes the FIRST non-null click id in the forward
    frame — one shuffle on user_id, one ordered scan, no range join.
    Equal-ts clicks are pre-collapsed to min event_id so both
    engines' pick is pinned.

    At 100 TB: identical cost shape to q_join_asof — the union sorts
    once per user partition; the forward frame scans monotonically.
    """
    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.lit(0).alias("tag"),
        F.lit(None).cast("long").alias("click_id"),
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("click_id"))
        .select(
            F.lit(None).cast("long").alias("event_id"),
            "user_id", "ts", F.lit(1).alias("tag"), "click_id",
        )
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "tag", "click_id")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    merged = purchases.unionByName(clicks).withColumn(
        "next_click_id", F.first("click_id", ignorenulls=True).over(w)
    )
    return merged.filter(F.col("tag") == 0).select(
        "event_id", "user_id", F.col("next_click_id").alias("next_click_id")
    )


@query(
    "q_join_interval_pairs",
    oracle="""
    WITH iv AS (
        SELECT o_orderkey, least(d0, d1) AS s, greatest(d0, d1) AS e
        FROM (
            SELECT o.o_orderkey,
                   CAST(epoch(o.o_orderdate) / 86400 AS BIGINT)     AS d0,
                   CAST(epoch(max(l.l_shipdate)) / 86400 AS BIGINT) AS d1
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            WHERE o.o_orderpriority = '1-URGENT'
              AND o.o_orderdate >= TIMESTAMP '1995-01-01'
              AND o.o_orderdate <  TIMESTAMP '1995-04-01'
            GROUP BY o.o_orderkey, o.o_orderdate
        )
    )
    SELECT a.o_orderkey AS key_a, b.o_orderkey AS key_b,
           CAST(least(a.e, b.e) - greatest(a.s, b.s) AS BIGINT)
               AS overlap_days
    FROM iv a JOIN iv b
      ON a.o_orderkey < b.o_orderkey
     AND a.s <= b.e AND b.s <= a.e
    """,
)
def q_join_interval_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-EMITTING interval-overlap join via GRID BINNING — the
    pattern whose AGGREGATE sibling (q_join_interval_grid) was
    rewritten as a sweep-line in round 10: when the output IS the
    pair list, Θ(pairs) is the output's own size and the grid is the
    right plan (the 1-D twin of q_join_radius_2d's 2-D cells).  The
    fixture slice is BOUNDED (one priority class, the first 1995 quarter of
    start dates) so the emitted pair set stays output-bound at every
    SF — the production framing for pair emission is always a
    bounded window of interest, never all history.

    The grid, outside-in: (1) every interval explodes to the 28-day
    cells it covers; (2) candidates meet through an ordinary
    EQUI-join on (cell, salt) — shuffle-partitionable, no nested
    loop; (3) the exact overlap predicate filters same-cell
    non-overlaps; (4) the one-cell rule cell = floor(max(s_a,
    s_b)/W) counts each surviving pair exactly once (the cell
    holding the later start is covered by both sides iff they
    overlap, and it is unique) — no dedup shuffle.  Cost is
    Σ_cell n_cell², data-adaptive like a spatial join.

    SALTING (round-11 probe finding): a bounded window of interest
    has FEW populated cells (~8 here), so a plain cell equi-join's
    reduce parallelism is |cells| — and worse, when the filtered
    slice is small enough for AQE to coalesce its aggregate to one
    partition and broadcast side b, the entire Σ n_cell² pair
    generation ran as ONE task (measured: a single 988-s-and-counting
    task at ×10 before this fix).  The classic replicate-one-side
    salt restores cluster-proportional parallelism: side a carries
    salt_a = xxhash64(key) mod S, side b is exploded over ALL S salt
    values, the join key becomes (cell, salt), and side a is
    explicitly hash-repartitioned on it (defeating the AQE coalesce).
    Each unordered pair still meets exactly once per shared cell
    (a's single salt picks one of b's S replicas) and the one-cell
    rule dedups across cells exactly as before, so output values are
    unchanged — only the task grid changes: |cells|·S reduce buckets
    instead of |cells|.  S is a fixed constant; raising it with the
    cluster buys parallelism at a REAL cost — this is a SELF-join, so
    the replicated side b is the full exploded cell set, and its
    shuffle (or broadcast, which clears the threshold S× sooner)
    volume multiplies by S.  The trade is sound because the pair
    generation is Σ n_cell² while the replication is S·Σ n_cell, but
    size S against the slice, not for free.

    The oracle states the same join as a plain range self-join —
    affordable on the bounded slice, which is the very asymmetry the
    grid removes at scale.  Integer epoch-day arithmetic throughout.
    """
    W_DAYS = 28
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1995-04-01")
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    epoch_days = lambda c: (F.unix_timestamp(c) / 86400).cast("long")  # noqa: E731
    iv = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("ship_end"))
        .select(
            "o_orderkey",
            F.least(
                epoch_days(F.col("o_orderdate")), epoch_days(F.col("ship_end"))
            ).alias("s"),
            F.greatest(
                epoch_days(F.col("o_orderdate")), epoch_days(F.col("ship_end"))
            ).alias("e"),
        )
    )
    SALTS = 32
    cells = iv.select(
        "o_orderkey",
        "s",
        "e",
        F.explode(
            F.sequence(
                F.floor(F.col("s") / W_DAYS), F.floor(F.col("e") / W_DAYS)
            )
        ).alias("cell"),
    )
    a = (
        cells.withColumn(
            "salt", F.pmod(F.xxhash64("o_orderkey"), F.lit(SALTS))
        )
        # explicit hash repartition on the join key: without it AQE
        # coalesces the small filtered slice to ONE partition and the
        # whole pair generation runs as one task (see docstring).
        .repartition(SALTS, "cell", "salt")
        .alias("a")
    )
    b = cells.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(SALTS - 1)))
    ).alias("b")
    return (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.salt") == F.col("b.salt"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
        )
        .filter(
            (F.col("a.s") <= F.col("b.e"))
            & (F.col("b.s") <= F.col("a.e"))
            & (
                F.col("a.cell")
                == F.floor(
                    F.greatest(F.col("a.s"), F.col("b.s")) / W_DAYS
                )
            )
        )
        .select(
            F.col("a.o_orderkey").alias("key_a"),
            F.col("b.o_orderkey").alias("key_b"),
            (
                F.least(F.col("a.e"), F.col("b.e"))
                - F.greatest(F.col("a.s"), F.col("b.s"))
            )
            .cast("long")
            .alias("overlap_days"),
        )
    )
