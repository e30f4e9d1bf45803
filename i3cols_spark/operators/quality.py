"""Data-quality auditing and source round-trip queries.

The validation layer a production pipeline runs BEFORE promoting a
snapshot: declarative rule checks (null / range / referential /
freshness) aggregated into one violation report, plus a concentration
statistic (Gini) for imbalance monitoring — and registered round-trip
scans through the engine's non-parquet sources (JSON-lines, CSV), so
format fidelity itself is on the oracle-checked surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from i3cols_spark.operators.registry import query
from i3cols_spark.sources.mirrors import dataset_tag, write_once
from i3cols_spark.sources.tables import table


@query(
    "q_quality_rules",
    oracle="""
    SELECT 'lineitem_qty_range' AS rule,
           CAST(count(*) AS BIGINT) AS n_checked,
           CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_discount_bounds',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.5
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'orders_nonneg_total',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders_custkey_resolves',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'events_ts_in_window',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN ts < TIMESTAMP '2023-01-01'
                          OR ts >= TIMESTAMP '2026-01-01'
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM events
    """,
)
def q_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit — the Great-Expectations-style
    gate run before a snapshot promotes: range rules (quantity,
    discount, price), a referential rule (every order's customer
    resolves — expressed as a LEFT-join null count, which Catalyst
    executes as one shuffle, not per-row lookups), and a freshness
    window on event timestamps.  One row per rule with checked /
    violation counts, so the report is tiny whatever the data volume.

    Scale shape: each per-table rule family is ONE conditional
    aggregation over that table's scan (all range rules on lineitem
    share a single pass); the referential rule is the only join.  At
    100 TB the audit costs one scan per audited table plus one
    key-partitioned join per FK rule — and the rule rows union
    map-side (no shuffle for the final assembly).
    """
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    ev = table(spark, sf_dir, "events")

    def rule(df: DataFrame, name: str, bad) -> DataFrame:
        return df.agg(
            F.lit(name).alias("rule"),
            F.count(F.lit(1)).alias("n_checked"),
            F.sum(F.when(bad, 1).otherwise(0)).cast("long").alias("n_violations"),
        ).select("rule", "n_checked", "n_violations")

    qty = rule(
        li, "lineitem_qty_range",
        (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50),
    )
    disc = rule(
        li, "lineitem_discount_bounds",
        (F.col("l_discount") < 0) | (F.col("l_discount") > 0.5),
    )
    total = rule(orders, "orders_nonneg_total", F.col("o_totalprice") < 0)
    fk = rule(
        orders.join(cust, orders.o_custkey == cust.c_custkey, "left"),
        "orders_custkey_resolves",
        F.col("c_custkey").isNull(),
    )
    fresh = rule(
        ev, "events_ts_in_window",
        (F.col("ts") < F.lit("2023-01-01").cast("timestamp"))
        | (F.col("ts") >= F.lit("2026-01-01").cast("timestamp")),
    )
    return qty.unionAll(disc).unionAll(total).unionAll(fk).unionAll(fresh)


@query(
    "q_agg_gini",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT revenue,
               row_number() OVER (ORDER BY revenue, o_custkey) AS rk,
               count(*) OVER () AS n
        FROM per_cust
    )
    SELECT round(
               2.0 * sum(rk * revenue) / (n * sum(revenue))
               - (n + 1.0) / n, 6) AS gini,
           CAST(n AS BIGINT) AS n_customers
    FROM ranked GROUP BY n
    """,
)
def q_agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration across customers —
    the imbalance statistic data-mixing pipelines watch (is one
    source/customer dominating the corpus?), via the rank formula
    G = 2·Σ(rank·x) / (n·Σx) − (n+1)/n over ascending revenue.

    Shape: one map-side-combined per-customer aggregate, a single
    global-order window over the |customers|-sized aggregate (the
    only total sort — of aggregates, never of facts; ties break on
    custkey so ranks are reproducible), and a 1-row rollup.  The
    revenue sums round at 2 dp before ranking in both engines, the
    final statistic at 6 dp.
    """
    per_cust = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    wr = W.orderBy("revenue", "o_custkey")
    ranked = per_cust.select(
        "revenue",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("n"),
    )
    return ranked.groupBy("n").agg(
        F.round(
            2.0 * F.sum(F.col("rk") * F.col("revenue"))
            / (F.col("n") * F.sum("revenue"))
            - (F.col("n") + 1.0) / F.col("n"),
            6,
        ).alias("gini"),
        F.col("n").cast("long").alias("n_customers"),
    ).select("gini", "n_customers")


def _format_mirror(spark: SparkSession, sf_dir: str, fmt: str) -> str:
    """Write-once JSONL/CSV mirror of the orders table — the engine's
    non-parquet source fidelity under the shared mirror protocol."""
    src = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        # o_orderdate arrives TIMESTAMP_NTZ in some fixture flavors;
        # the UTC-pinned session makes the cast lossless (tables.py).
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("o_date_us"),
    )

    def build(out: str) -> None:
        w = src.coalesce(4).write.mode("overwrite")
        if fmt == "json":
            w.json(out)
        elif fmt == "json_gz":
            w.option("compression", "gzip").json(out)
        elif fmt == "orc":
            w.orc(out)
        elif fmt == "arrowipc":
            w.format("arrowipc").option("path", out).save()
        else:
            w.option("header", True).csv(out)

    path, _ = write_once(
        spark,
        f"{fmt}_mirror",
        f"orders_{dataset_tag(sf_dir)}",
        [os.path.join(sf_dir, "orders.parquet")],
        build,
        {"format": fmt, "version": 1},
    )
    return path


_ORDERS_MIRROR_SCHEMA = (
    "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_date_us bigint"
)

_SOURCE_ORACLE = """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total,
           CAST(min(epoch_us(o_orderdate)) AS BIGINT) AS first_date_us
    FROM orders
    GROUP BY o_orderstatus
"""


def _source_scan(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    path = _format_mirror(spark, sf_dir, fmt)
    if fmt == "arrowipc":
        df = (
            spark.read.format("arrowipc")
            .option("path", path)
            .option("schema", _ORDERS_MIRROR_SCHEMA)
            .load()
        )
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.min("o_date_us").alias("first_date_us"),
        )
    reader = spark.read.schema(_ORDERS_MIRROR_SCHEMA)
    if fmt in ("json", "json_gz"):
        df = reader.json(path)
    elif fmt == "orc":
        df = reader.orc(path)
    else:
        df = reader.option("header", True).csv(path)
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
        F.min("o_date_us").alias("first_date_us"),
    )


@query("q_source_jsonl_scan", oracle=_SOURCE_ORACLE)
def q_source_jsonl_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source fidelity on the checked surface: orders
    round-trip through a write-once JSONL mirror
    (sources/ingest.extract_jsonl's read path with an EXPLICIT
    schema — schema inference would cost a second scan of 100 TB and
    is the classic JSONL anti-pattern), then aggregate; the oracle
    reads the ORIGINAL parquet, so any serialization loss (float
    text round-trip, timestamp flattening, null handling) breaks the
    hash.  Timestamps travel as epoch-µs BIGINT — the portable JSONL
    convention this engine's ingest layer uses."""
    return _source_scan(spark, sf_dir, "json")


@query("q_source_orc_scan", oracle=_SOURCE_ORACLE)
def q_source_orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source fidelity, same contract as q_source_jsonl_scan: the
    engine's THIRD columnar-adjacent format behind the shared
    write-once mirror protocol.  ORC is the other big-data columnar
    standard a migrating warehouse actually holds; Spark's native
    reader gives predicate pushdown and column pruning like parquet.
    DuckDB does not read ORC, so — exactly as with the text formats —
    the oracle reads the ORIGINAL parquet and the hash pins the full
    binary round trip (type widths, timestamp µs convention, nulls).
    """
    return _source_scan(spark, sf_dir, "orc")


@query("q_source_arrow_scan", oracle=_SOURCE_ORACLE)
def q_source_arrow_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC source fidelity, same contract as the JSONL/CSV/ORC
    mirrors — but through the engine's OWN Spark-4 Python DataSource
    (sources/arrow_ipc.py) rather than a built-in reader: the
    write-once mirror is produced by the custom writer (per-task
    part files + atomic manifest commit, so failed/speculative task
    orphans are unreachable), and the scan re-reads it with one input
    partition per manifested file, each task yielding mmap'd
    ``pyarrow.RecordBatch`` objects straight into Spark's arrow read
    path.  The oracle reads the ORIGINAL parquet, so the hash pins
    the full custom-sink → custom-source binary round trip (int64
    widths, float64 totals, epoch-µs convention)."""
    from i3cols_spark.sources.arrow_ipc import register_arrow_ipc

    register_arrow_ipc(spark)
    return _source_scan(spark, sf_dir, "arrowipc")


@query("q_source_jsonl_gz_scan", oracle=_SOURCE_ORACLE)
def q_source_jsonl_gz_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzip-compressed JSONL source fidelity — the explicit
    compress/decompress evidence for SURVEY §2.1-S8 beyond parquet's
    internal codecs: the mirror is written with Spark's gzip text
    codec (the dominant wire format for crawl dumps and log
    deliveries), the scan decompresses transparently, and the oracle
    reads the ORIGINAL parquet so the hash pins the full
    compress → decompress → parse round trip.  Scale note: .gz is
    NOT splittable — one file = one task — so the mirror is written
    pre-split into multiple part files; at 100 TB the file count
    provides the parallelism (and zstd/bzip2 would be the splittable
    upgrade path)."""
    return _source_scan(spark, sf_dir, "json_gz")


@query("q_source_csv_scan", oracle=_SOURCE_ORACLE)
def q_source_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source fidelity, same contract as q_source_jsonl_scan
    (headered CSV, explicit schema, epoch-µs timestamps): the oracle
    reads the original parquet, pinning the full text round trip."""
    return _source_scan(spark, sf_dir, "csv")


def _schema_evo_mirror(spark: SparkSession, sf_dir: str) -> str:
    """Write-once two-epoch parquet layout simulating schema drift:
    epoch v1 (even order keys) was written BEFORE o_orderstatus
    existed; epoch v2 (odd keys) carries the added column.  One
    directory, two file generations — the normal state of any 100 TB
    dataset that has been appended to for years."""

    def build(out: str) -> None:
        src = table(spark, sf_dir, "orders")
        v1 = src.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        v2 = src.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
        )
        v1.coalesce(2).write.mode("overwrite").parquet(os.path.join(out, "v1"))
        v2.coalesce(2).write.mode("overwrite").parquet(os.path.join(out, "v2"))

    path, _ = write_once(
        spark,
        "schema_evo_mirror",
        f"orders_{dataset_tag(sf_dir)}",
        [os.path.join(sf_dir, "orders.parquet")],
        build,
        {"format": "parquet-2epoch", "version": 1},
    )
    return path


_EVO_SCHEMA = (
    "o_orderkey bigint, o_custkey bigint, o_totalprice double, "
    "o_orderstatus string"
)


@query(
    "q_source_schema_evolution",
    oracle="""
    SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus
                ELSE '<pre-evolution>' END AS status,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY 1
    """,
)
def q_source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: one dataset, two file generations — the
    older files PREDATE the o_orderstatus column — scanned as a single
    DataFrame in which pre-evolution rows surface the added column as
    NULL.  The oracle recomputes the expected groups from the original
    orders table, so the null-fill semantics (not just row counts) are
    value-hash-checked.

    Scale shape: the read passes the UNIFIED schema explicitly, which
    is the 100 TB path — Spark fills absent parquet columns with null
    per file, no ``mergeSchema`` footer sweep over millions of files
    at planning time (a catalog owns the schema; inference is the
    anti-pattern, same argument as q_source_jsonl_scan).  The
    mergeSchema inference path is equivalence-tested against this
    explicit-schema read in tests/test_ingest.py.  recursiveFileLookup
    keeps the two generations one logical dataset without inventing
    partition columns from the directory names.
    """
    path = _schema_evo_mirror(spark, sf_dir)
    df = (
        spark.read.schema(_EVO_SCHEMA)
        .option("recursiveFileLookup", True)
        .parquet(path)
    )
    return df.groupBy(
        F.coalesce("o_orderstatus", F.lit("<pre-evolution>")).alias("status")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


#: Deterministic corruption injected into the bad-records mirror —
#: three genuinely malformed JSONL lines (unquoted token, free text,
#: truncated object).  Valid-but-sparse records are NOT here: JSON
#: with missing fields parses to nulls and must not count as corrupt.
_BAD_LINES = (
    '{"o_orderkey": 17, "o_totalprice": oops}',
    "this is not json at all",
    '{"o_orderkey":',
)


def _badrecords_mirror(spark: SparkSession, sf_dir: str) -> str:
    """Write-once JSONL mirror of orders with a trailing part file of
    malformed lines — the fixture for PERMISSIVE-mode ingest."""

    def build(out: str) -> None:
        src = table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
        )
        src.coalesce(4).write.mode("overwrite").json(out)
        with open(os.path.join(out, "part-corrupt.json"), "w") as fh:
            fh.write("\n".join(_BAD_LINES) + "\n")

    path, _ = write_once(
        spark,
        "badrecords_mirror",
        f"orders_{dataset_tag(sf_dir)}",
        [os.path.join(sf_dir, "orders.parquet")],
        build,
        {"format": "jsonl-corrupt", "version": 1, "n_bad": len(_BAD_LINES)},
    )
    return path


@query(
    "q_source_badrecords",
    oracle=f"""
    SELECT o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY o_orderstatus
    UNION ALL
    SELECT '<corrupt>', {len(_BAD_LINES)}, CAST(NULL AS DOUBLE)
    """,
)
def q_source_badrecords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode ingest over a JSONL dataset with malformed
    lines: good rows aggregate normally, corrupt lines are captured in
    ``_corrupt_record`` and surface as their own '<corrupt>' group —
    never silently dropped (at 100 TB a feed WILL contain garbage, and
    the two failure modes that matter are losing good rows with it or
    aborting the whole read; PERMISSIVE + an explicit corrupt bucket
    is the production middle road; FAILFAST is the validation twin).
    The oracle pins both halves: group totals from the original table
    AND the exact injected corrupt count.

    The corrupt classification is part of the same single-pass
    aggregation (a grouping expression over ``_corrupt_record`` IS
    NULL) — deliberately, because Spark disallows plans that
    reference ONLY the corrupt column, and a second pass over 100 TB
    just to count garbage would be absurd anyway.  Schema is explicit
    (scale discipline, q_source_jsonl_scan) with the corrupt column
    declared in it.
    """
    path = _badrecords_mirror(spark, sf_dir)
    df = spark.read.schema(
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, _corrupt_record string"
    ).json(path)
    status = (
        F.when(F.col("_corrupt_record").isNotNull(), F.lit("<corrupt>"))
        .otherwise(F.col("o_orderstatus"))
        .alias("status")
    )
    return df.groupBy(status).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


#: k-anonymity audit ladder: group-size thresholds spanning the
#: interesting range at every fixture SF (k=10 bites at sf0.01,
#: k=100 at sf0.1 — a single k would be vacuously all-pass or
#: all-fail at one of them).
_KANON_KS = (5, 10, 25, 100)


@query(
    "q_quality_k_anonymity",
    oracle=f"""
    WITH groups AS (
        SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS sz
        FROM customer GROUP BY 1, 2
    )
    SELECT k,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN sz < k THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating,
           CAST(sum(CASE WHEN sz < k THEN sz ELSE 0 END) AS BIGINT)
               AS rows_at_risk,
           CAST(min(sz) AS BIGINT) AS min_group,
           floor(sum(CASE WHEN sz < k THEN sz ELSE 0 END) * 1000000.0
                 / sum(sz) + 0.5) / 1000000.0 AS risk_fraction
    FROM groups,
         (VALUES {", ".join(f"({k})" for k in _KANON_KS)}) AS ks(k)
    GROUP BY k
    """,
)
def q_quality_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney 2002) over the customer
    quasi-identifier pair (nation, market segment): a released row is
    re-identifiable when its quasi-identifier combination is shared
    by fewer than k records, so the audit reports — per k on a
    threshold ladder — how many equivalence classes violate, how many
    rows sit in them, and the exposed fraction.  The governance
    counterpart to q_text_pii_scrub: scrubbing direct identifiers
    does nothing about quasi-identifier joinability, and a
    training-data release pipeline needs BOTH signals.

    Shape: one map-side-combined groupBy builds the equivalence-class
    histogram (state = |distinct quasi-identifier combos|, the
    exact_percentiles argument); the ladder is a 4-row broadcast
    cross and the audit a second tiny aggregate over |classes| rows.
    Integer ratio → HALF_UP in both dialects.  At 100 TB the only
    corpus-sized stage is the first groupBy — the audit never
    shuffles raw rows.
    """
    groups = (
        table(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in _KANON_KS])).alias("k")
    )
    from i3cols_spark.functions.rounding import round_half_up as half_up

    viol = F.when(F.col("sz") < F.col("k"), 1).otherwise(0)
    at_risk = F.when(F.col("sz") < F.col("k"), F.col("sz")).otherwise(0)
    return (
        groups.join(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum(viol).alias("n_violating"),
            F.sum(at_risk).alias("rows_at_risk"),
            F.min("sz").alias("min_group"),
            half_up(F.sum(at_risk) / F.sum("sz"), 6).alias("risk_fraction"),
        )
    )


def dp_laplace_noise(
    key: "F.Column", eps: "F.Column", secret: str | None = None
) -> "F.Column":
    """Deterministic Laplace(1/eps) noise for a released cell: an
    md5-derived dyadic uniform u = (h32 + 0.5)/2^32 through the
    inverse CDF -(1/eps)*sign(u-1/2)*ln(1-2|u-1/2|).  Hash-seeded so
    batch, streaming and task-retry executions all realize the SAME
    noise (per-epoch RNGs would silently break epsilon accounting);
    shared by q_quality_dp_counts and streaming.jobs
    stream_dp_class_counts, whose equality test is exactly this
    determinism claim.

    SECURITY: with ``secret=None`` the noise is a pure
    function of the PUBLIC cell key, so anyone can recompute and
    subtract it — that form is a CROSS-ENGINE DETERMINISM TEST
    VECTOR, not a privacy mechanism, and must never guard a real
    release.  A production release MUST pass ``secret`` — a
    config-supplied value (e.g. ``spark.conf``/vault, never committed)
    mixed into the hash preimage, making the noise unpredictable to
    anyone without the seed while keeping retry/stream determinism
    for everyone with it."""
    if secret is not None:
        key = F.concat(F.lit(secret), F.lit("|"), key)
    u = (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint").cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    return (
        -(F.lit(1.0) / eps)
        * F.signum(u - F.lit(0.5))
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u - F.lit(0.5)))
    )


def dp_classes(cust: DataFrame, nat: DataFrame) -> DataFrame:
    """The (nation, segment) class histogram ``true_count`` of
    customer joined to the broadcast nation dim."""
    return (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_count"))
    )


def dp_release(classes: DataFrame) -> DataFrame:
    """Add the cell's Laplace ``noise`` (keyed nation|segment|eps_label
    at ``eps``) and the HALF_UP 6-dp ``noisy_count`` to a class frame
    carrying ``eps_label``/``eps`` — q_quality_dp_counts and its
    streaming twin."""
    from i3cols_spark.functions.rounding import round_half_up

    key = F.concat_ws("|", "nation", "segment", "eps_label")
    return classes.withColumn("noise", dp_laplace_noise(key, F.col("eps"))).withColumn(
        "noisy_count", round_half_up(F.col("true_count") + F.col("noise"), 6)
    )


@query(
    "q_quality_dp_counts",
    oracle="""
    WITH classes AS (
      SELECT n.n_name AS nation, c.c_mktsegment AS segment,
             CAST(count(*) AS BIGINT) AS true_count
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ), ladder AS (
      SELECT * FROM (VALUES ('0.5', 0.5), ('2.0', 2.0)) AS t(eps_label, eps)
    ), noised AS (
      SELECT nation, segment, true_count, eps_label, eps,
             -(1.0 / eps)
               * sign(((CAST(('0x' || substr(md5(nation || '|' || segment || '|' || eps_label), 1, 8)) AS BIGINT)
                        + 0.5) / 4294967296.0) - 0.5)
               * ln(1.0 - 2.0 * abs(((CAST(('0x' || substr(md5(nation || '|' || segment || '|' || eps_label), 1, 8)) AS BIGINT)
                                      + 0.5) / 4294967296.0) - 0.5)) AS noise
      FROM classes CROSS JOIN ladder
    )
    SELECT nation, segment, eps_label, true_count,
           floor((true_count + noise) * 1000000 + 0.5) / 1000000.0 AS noisy_count,
           floor(avg(abs(noise)) OVER (PARTITION BY eps_label)
                 * 1000000 + 0.5) / 1000000.0 AS mean_abs_noise
    FROM noised
    ORDER BY eps_label, nation, segment
    """,
)
def q_quality_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private histogram release (Dwork et al. 2006,
    the Laplace mechanism): the mitigation for exactly the exposure
    q_quality_k_anonymity audits — class counts over the same
    (nation, market-segment) quasi-identifier are released with
    Laplace(sensitivity 1 / ε) noise on an ε ladder, so small
    equivalence classes can no longer be distinguished from empty
    ones.  Emits the true count alongside (this is the mechanism's
    audit query, not a release) plus the realized mean |noise| per ε —
    which must sit near its theoretical 1/ε, so the mechanism audits
    its own calibration the way q_stats_bootstrap_ci audits its SE.

    Determinism (the whole trick): the noise is NOT drawn from an RNG
    — each released cell derives a uniform from the md5 cross-engine
    hash family (u = (h32 + 0.5)/2^32 ∈ (0,1), exactly dyadic so
    u = 0.5 is unreachable) and pushes it through the Laplace inverse
    CDF −(1/ε)·sign(u−½)·ln(1−2|u−½|).  Both engines compute the
    identical double: the ln argument is bit-exact dyadic arithmetic,
    so the only cross-engine exposure is libm-vs-JVM ln (≤1 ulp),
    absorbed by HALF_UP 6 dp.

    THIS QUERY IS A MECHANISM TEST VECTOR, NOT A PRIVATE RELEASE:
    it hashes the public cell key with NO secret seed —
    which is precisely what makes it cross-engine checkable — so its
    noise is recomputable by anyone and carries zero ε-DP guarantee
    (it also emits true_count, which no release would).  The
    production shape keeps hash-seeded determinism (re-running on
    1000 executors or resuming a failed job must realize the same
    noise — per-task RNGs silently break ε accounting on retry) but
    mixes a config-supplied secret into the preimage:
    ``dp_laplace_noise(key, eps, secret=<vault value>)``.

    Scale shape: one map-side-combined groupBy builds the class
    histogram (customer joins the 25-row nation dim broadcast); the
    ε ladder cross-joins 125 class rows × 2 — everything after the
    first aggregation is class-cardinality-sized, raw rows are never
    shuffled twice.
    """
    from i3cols_spark.functions.rounding import round_half_up as half_up

    classes = dp_classes(table(spark, sf_dir, "customer"), table(spark, sf_dir, "nation"))
    ladder = spark.createDataFrame(
        [("0.5", 0.5), ("2.0", 2.0)], "eps_label string, eps double"
    )
    noised = dp_release(classes.crossJoin(F.broadcast(ladder)))
    return (
        noised.select(
            "nation", "segment", "eps_label", "true_count", "noisy_count",
            half_up(
                F.avg(F.abs(F.col("noise"))).over(W.partitionBy("eps_label")), 6
            ).alias("mean_abs_noise"),
        )
        .orderBy("eps_label", "nation", "segment")
    )


def _arrow_tt_mirror(spark: SparkSession, sf_dir: str) -> str:
    """Write-once TWO-COMMIT arrowipc layout for the time-travel
    query: commit v1 = orders strictly before 1995-01-01, commit v2
    appends the rest — so snapshot v1 is the historical table state
    and HEAD (v2) is the full table."""
    from i3cols_spark.sources.arrow_ipc import register_arrow_ipc

    register_arrow_ipc(spark)
    src = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("o_date_us"),
    )
    cutoff = F.unix_micros(F.lit("1995-01-01").cast("timestamp"))

    def build(out: str) -> None:
        (src.filter(F.col("o_date_us") < cutoff).coalesce(2)
         .write.format("arrowipc").option("path", out).mode("append").save())
        (src.filter(F.col("o_date_us") >= cutoff).coalesce(2)
         .write.format("arrowipc").option("path", out).mode("append").save())

    path, _ = write_once(
        spark,
        "arrowipc_tt_mirror",
        f"orders_{dataset_tag(sf_dir)}",
        [os.path.join(sf_dir, "orders.parquet")],
        build,
        {"format": "arrowipc", "commits": 2, "cutoff": "1995-01-01"},
    )
    return path


@query(
    "q_source_arrow_timetravel",
    oracle="""
    WITH v1 AS (
      SELECT 'v1' AS snapshot,
             CAST(count(*) AS BIGINT) AS n_orders,
             round(sum(o_totalprice), 2) AS total,
             CAST(max(epoch_us(o_orderdate)) AS BIGINT) AS last_date_us
      FROM orders WHERE o_orderdate < TIMESTAMP '1995-01-01'
    ), head AS (
      SELECT 'head' AS snapshot,
             CAST(count(*) AS BIGINT) AS n_orders,
             round(sum(o_totalprice), 2) AS total,
             CAST(max(epoch_us(o_orderdate)) AS BIGINT) AS last_date_us
      FROM orders
    )
    SELECT * FROM v1 UNION ALL SELECT * FROM head
    ORDER BY snapshot
    """,
)
def q_source_arrow_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-isolation time travel on the engine's own table
    format: the arrowipc mirror is committed twice (pre-1995 orders,
    then the rest appended), and this query reads snapshot v1 AND the
    HEAD through ``option("versionAsOf", ...)`` — one immutable
    manifest per commit, exactly the Delta/Iceberg contract reduced
    to its distributed-correctness core (sources/arrow_ipc.py).  The
    oracle restates both snapshots from the ORIGINAL parquet with the
    commit-boundary date filter, so the hash pins (a) that v1 is
    bit-stable after later appends and (b) that HEAD sees every
    commit — i.e. the snapshot axis itself, not just file fidelity
    (q_source_arrow_scan's contract).  Storage reclaim is the
    explicit ``vacuum()`` (tested separately); readers of vacuumed
    versions fail loudly.

    Scale: a snapshot read costs one driver-side JSON manifest +
    one InputPartition per file, identical to the head read; the
    aggregates are single map-side-combined passes.
    """
    path = _arrow_tt_mirror(spark, sf_dir)

    def agg(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.lit(tag).alias("snapshot"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.max("o_date_us").alias("last_date_us"),
        ).select("snapshot", "n_orders", "total", "last_date_us")

    def rd(version: str | None) -> DataFrame:
        r = (
            spark.read.format("arrowipc")
            .option("path", path)
            .option("schema", _ORDERS_MIRROR_SCHEMA)
        )
        if version is not None:
            r = r.option("versionAsOf", version)
        return r.load()

    v1 = agg(rd("1"), "v1")
    head = agg(rd(None), "head")
    return v1.unionAll(head).orderBy("snapshot")


@query(
    "q_quality_l_diversity",
    oracle="""
    WITH classes AS (
      SELECT n.n_name AS nation, c.c_mktsegment AS segment,
             CAST(floor(c.c_acctbal / 2000) AS BIGINT) AS bal_band
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    ), per_class AS (
      SELECT nation, segment,
             CAST(count(*) AS BIGINT) AS class_size,
             CAST(count(DISTINCT bal_band) AS BIGINT) AS l_distinct
      FROM classes GROUP BY 1, 2
    )
    SELECT l AS l_threshold,
           CAST(count(*) FILTER (WHERE l_distinct < l) AS BIGINT)
               AS violating_classes,
           CAST(coalesce(sum(class_size) FILTER (WHERE l_distinct < l), 0)
                AS BIGINT) AS rows_exposed,
           CAST(min(l_distinct) AS BIGINT) AS min_l
    FROM per_class CROSS JOIN (VALUES (2), (3), (5)) AS t(l)
    GROUP BY l ORDER BY l
    """,
)
def q_quality_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007) — the
    governance metric k-anonymity misses: a class can be large (k
    passes) while every member shares the same SENSITIVE value, so
    joining the quasi-identifier still discloses it.  Per l on a
    threshold ladder: classes whose distinct-sensitive-value count
    (account-balance band, the stand-in for any sensitive attribute)
    falls below l, the rows inside them, and the corpus-wide minimum
    l.  Completes the privacy trio: k-anonymity (class size), DP
    release (noise), l-diversity (within-class attribute diversity).

    Shape: one groupBy builds the per-class (size, distinct-sensitive)
    profile — count(DISTINCT) is the only expansion and is bounded by
    |classes|×|bands|; the ladder audit is a 125-row cross join.  Raw
    rows never shuffle twice.  All outputs are exact integers.
    """
    cust = table(spark, sf_dir, "customer")
    nat = table(spark, sf_dir, "nation")
    per_class = (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("class_size"),
            F.countDistinct(
                F.floor(F.col("c_acctbal") / 2000).cast("bigint")
            ).cast("bigint").alias("l_distinct"),
        )
    )
    ladder = spark.createDataFrame([(2,), (3,), (5,)], "l_threshold bigint")
    viol = F.col("l_distinct") < F.col("l_threshold")
    return (
        per_class.crossJoin(F.broadcast(ladder))
        .groupBy("l_threshold")
        .agg(
            F.count(F.when(viol, 1)).cast("bigint").alias("violating_classes"),
            F.coalesce(F.sum(F.when(viol, F.col("class_size"))), F.lit(0))
            .cast("bigint").alias("rows_exposed"),
            F.min("l_distinct").cast("bigint").alias("min_l"),
        )
        .orderBy("l_threshold")
    )


@query(
    "q_agg_pareto",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue
      FROM orders GROUP BY 1
    ), ranked AS (
      SELECT revenue,
             row_number() OVER (ORDER BY revenue DESC, o_custkey) AS rk,
             count(*) OVER () AS n,
             sum(revenue) OVER () AS total,
             sum(revenue) OVER (ORDER BY revenue DESC, o_custkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM per_cust
    )
    SELECT CAST(t.frac AS DOUBLE) AS revenue_frac,
           CAST(min(rk) FILTER (WHERE cum >= t.frac * total) AS BIGINT)
               AS customers_needed,
           floor(CAST(min(rk) FILTER (WHERE cum >= t.frac * total) AS DOUBLE)
                 / max(n) * 1000000 + 0.5) / 1000000.0 AS customer_frac
    FROM ranked CROSS JOIN (VALUES (0.5), (0.8), (0.9)) AS t(frac)
    GROUP BY t.frac ORDER BY t.frac
    """,
)
def q_agg_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration curve read at 50/80/90% — "how many
    customers cover X% of revenue", the actionable form of the scalar
    q_agg_gini (a curation pipeline asks the same of sources: how
    many domains cover 80% of the corpus, and should the tail be
    downsampled?).  The answer here: 36% of customers cover half the
    revenue, 67% cover 80% — a mildly concentrated book.

    Shape: the q_agg_gini skeleton — one map-side-combined
    per-customer aggregate, one ordered cumulative window over the
    |customers|-sized aggregate (a sort of aggregates, never of
    facts; (revenue DESC, custkey) total order), and a 3-row ladder
    fold.  Revenue canonicalizes at 2 dp before ranking; the
    cumulative fold is frame-ordered (identical left-fold both
    engines); crossing ranks are exact integers and the coverage
    fraction is an integer ratio → HALF_UP 6 dp.
    """
    from i3cols_spark.functions.rounding import round_half_up

    per_cust = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    w_ord = W.orderBy(F.desc("revenue"), "o_custkey")
    w_all = W.partitionBy()
    ranked = per_cust.select(
        "revenue",
        F.row_number().over(w_ord).alias("rk"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum("revenue").over(w_all).alias("total"),
        F.sum("revenue").over(w_ord.rowsBetween(W.unboundedPreceding, 0)).alias("cum"),
    )
    ladder = spark.createDataFrame(
        [(0.5,), (0.8,), (0.9,)], "revenue_frac double"
    )
    crossed = F.col("cum") >= F.col("revenue_frac") * F.col("total")
    return (
        ranked.crossJoin(F.broadcast(ladder))
        .groupBy("revenue_frac")
        .agg(
            F.min(F.when(crossed, F.col("rk"))).cast("bigint")
            .alias("customers_needed"),
            round_half_up(
                F.min(F.when(crossed, F.col("rk"))).cast("double") / F.max("n"), 6
            ).alias("customer_frac"),
        )
        .orderBy("revenue_frac")
    )


@query(
    "q_quality_psi_drift",
    oracle="""
    WITH base AS (
      SELECT o_totalprice AS v FROM orders
      WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
    ), cur AS (
      SELECT o_totalprice AS v FROM orders
      WHERE o_orderdate >= DATE '2000-01-01' AND o_orderdate < DATE '2001-01-01'
    ), edges AS (
      SELECT min(v) AS lo, max(v) AS hi FROM base
    ), binned AS (
      SELECT least(9, greatest(0,
                 CAST(floor((b.v - e.lo) / ((e.hi - e.lo) / 10.0)) AS BIGINT)))
                 AS bin,
             1 AS is_base, 0 AS is_cur
      FROM base b CROSS JOIN edges e
      UNION ALL
      SELECT least(9, greatest(0,
                 CAST(floor((c.v - e.lo) / ((e.hi - e.lo) / 10.0)) AS BIGINT))),
             0, 1
      FROM cur c CROSS JOIN edges e
    ), counts AS (
      SELECT bin,
             CAST(sum(is_base) AS BIGINT) AS nb,
             CAST(sum(is_cur) AS BIGINT) AS nc
      FROM binned GROUP BY bin
    ), tot AS (
      SELECT CAST(sum(nb) AS BIGINT) AS tb, CAST(sum(nc) AS BIGINT) AS tc
      FROM counts
    ), frac AS (
      SELECT bin, nb, nc,
             (nb + 0.5) / (tb + 5.0) AS p,
             (nc + 0.5) / (tc + 5.0) AS q
      FROM counts CROSS JOIN tot
    )
    SELECT bin, nb AS n_baseline, nc AS n_current,
           floor(p * 1000000 + 0.5) / 1000000.0 AS p_baseline,
           floor(q * 1000000 + 0.5) / 1000000.0 AS q_current,
           floor((p - q) * ln(p / q) * 1000000 + 0.5) / 1000000.0 AS psi_term,
           floor(sum((p - q) * ln(p / q)) OVER ()
                 * 1000000 + 0.5) / 1000000.0 AS psi_total
    FROM frac ORDER BY bin
    """,
)
def q_quality_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index (the standard production drift
    monitor for deployed-model inputs): decile-binned distribution of
    order totals in a CURRENT window vs a BASELINE year, PSI =
    Σ(p−q)·ln(p/q) with Laplace-(+½) smoothing so empty bins cannot
    produce infinities — the distribution-level complement to
    q_snapshot_diff's row-level diff and q_stats_ks_test's
    two-sample D (PSI is binned, smoothed and additive per bin, which
    is why scorecard monitoring standardized on it; <0.1 stable,
    >0.25 drifted).  This fixture is stationary by construction
    (PSI ≈ 0.003) — the audit's value is the per-bin decomposition.

    Shape: bin edges are one 2-scalar aggregate over the baseline
    (broadcast); both periods bin with the same per-row codegen
    expression (edge-clamped with least/greatest) and reduce in ONE
    map-side-combined union pass; fractions, terms and the total are
    windows over the 10-row bin table.  Counts are exact integers;
    the smoothed fractions are integer-derived ratios → HALF_UP 6 dp;
    ln is the only libm exposure.
    """
    from i3cols_spark.functions.rounding import round_half_up

    orders = table(spark, sf_dir, "orders")
    base = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select(F.col("o_totalprice").alias("v"))
    cur = orders.filter(
        (F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("2001-01-01").cast("timestamp"))
    ).select(F.col("o_totalprice").alias("v"))
    edges = base.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))

    def binned(df: DataFrame, b: int, c: int) -> DataFrame:
        bin_expr = F.least(
            F.lit(9),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col("v") - F.col("lo"))
                    / ((F.col("hi") - F.col("lo")) / F.lit(10.0))
                ).cast("bigint"),
            ),
        )
        return df.crossJoin(F.broadcast(edges)).select(
            bin_expr.alias("bin"),
            F.lit(b).alias("is_base"),
            F.lit(c).alias("is_cur"),
        )

    counts = (
        binned(base, 1, 0).unionAll(binned(cur, 0, 1))
        .groupBy("bin")
        .agg(
            F.sum("is_base").cast("bigint").alias("nb"),
            F.sum("is_cur").cast("bigint").alias("nc"),
        )
    )
    w_all = W.partitionBy()
    p = (F.col("nb") + F.lit(0.5)) / (F.sum("nb").over(w_all) + F.lit(5.0))
    q = (F.col("nc") + F.lit(0.5)) / (F.sum("nc").over(w_all) + F.lit(5.0))
    term = (p - q) * F.log(p / q)
    return (
        counts.select(
            "bin",
            F.col("nb").alias("n_baseline"),
            F.col("nc").alias("n_current"),
            round_half_up(p, 6).alias("p_baseline"),
            round_half_up(q, 6).alias("q_current"),
            round_half_up(term, 6).alias("psi_term"),
            round_half_up(F.sum(term).over(w_all), 6).alias("psi_total"),
        )
        .orderBy("bin")
    )


@query(
    "q_source_arrow_version_diff",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_added,
           round(sum(o_totalprice), 2) AS added_revenue,
           CAST(min(epoch_us(o_orderdate)) AS BIGINT) AS first_added_us
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q_source_arrow_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style SNAPSHOT DIFF on the engine's own table format: what
    arrived between arrowipc snapshot v1 and HEAD, computed as an
    anti-join of two versionAsOf reads and aggregated per order
    status — the "what changed since the version my downstream last
    consumed" read every incremental pipeline runs against a
    Delta/Iceberg table, here exercised against our own manifest
    protocol (q_source_arrow_timetravel checks the snapshots
    individually; THIS checks the difference semantics between them).
    The oracle restates the added set from the original parquet with
    the commit-boundary filter, so a v1 row leaking into the diff or
    an appended row missing from HEAD both break the hash.

    Scale: two manifest-priced snapshot reads; the anti-join keys are
    orderkeys (sort-merge at scale, the diff never materializes
    payload columns for the v1 side — column pruning pushes only
    o_orderkey through the probe side).
    """
    path = _arrow_tt_mirror(spark, sf_dir)

    def rd(version: str | None) -> DataFrame:
        r = (
            spark.read.format("arrowipc")
            .option("path", path)
            .option("schema", _ORDERS_MIRROR_SCHEMA)
        )
        if version is not None:
            r = r.option("versionAsOf", version)
        return r.load()

    added = rd(None).join(
        rd("1").select("o_orderkey"), "o_orderkey", "left_anti"
    )
    return (
        added.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_added"),
            F.round(F.sum("o_totalprice"), 2).alias("added_revenue"),
            F.min("o_date_us").cast("bigint").alias("first_added_us"),
        )
        .orderBy("o_orderstatus")
    )


def fk_audit(child: DataFrame, ckey: str, parent: DataFrame, pkey: str,
             name: str) -> DataFrame:
    """One FK relation's audit row: ``n_child`` child rows, ``n_orphans``
    of them without a parent, and the ``fk_ok`` verdict — one left join
    of the child's key onto the parent's key.  The parent projection is
    deduplicated so the join preserves the child row count even when
    ``pkey`` is not unique (a no-op for a primary key)."""
    joined = child.select(F.col(ckey).alias("__ck")).join(
        parent.select(F.col(pkey).alias("__pk")).dropDuplicates(["__pk"]),
        F.col("__ck") == F.col("__pk"),
        "left",
    )
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_child"),
        F.count(F.when(F.col("__pk").isNull(), 1))
        .cast("long")
        .alias("n_orphans"),
    ).select(
        F.lit(name).alias("relation"),
        "n_child",
        "n_orphans",
        (F.col("n_orphans") == 0).alias("fk_ok"),
    )


@query(
    "q_quality_referential_integrity",
    oracle="""
    WITH rels AS (
        SELECT 'orders->customer' AS relation,
               (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_child,
               (SELECT CAST(count(*) AS BIGINT) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey))
                   AS n_orphans
        UNION ALL
        SELECT 'lineitem->orders',
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey))
        UNION ALL
        SELECT 'lineitem->part',
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM part p
                                  WHERE p.p_partkey = l.l_partkey))
        UNION ALL
        SELECT 'lineitem->supplier',
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                  WHERE s.s_suppkey = l.l_suppkey))
        UNION ALL
        SELECT 'customer->nation',
               (SELECT CAST(count(*) AS BIGINT) FROM customer),
               (SELECT CAST(count(*) AS BIGINT) FROM customer c
                WHERE NOT EXISTS (SELECT 1 FROM nation n
                                  WHERE n.n_nationkey = c.c_nationkey))
    )
    SELECT relation, n_child, n_orphans, n_orphans = 0 AS fk_ok
    FROM rels ORDER BY relation
    """,
)
def q_quality_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit — orphan counts for the five FK
    relations of the star schema (orders→customer, lineitem→orders/
    part/supplier, customer→nation), one row per relation with the
    pass/fail verdict.  The declarative-DQ sibling of
    q_quality_rules: every warehouse load gate runs exactly this
    before exposing a partition, because ONE orphan silently turns
    every downstream inner join into row loss.

    Shape: each relation is ONE pass — a left join of the child's key
    column onto the parent's (unique) primary key, with n_child and
    n_orphans counted in a single map-side-combined aggregate over the
    joined stream (r13: the former anti-join form scanned each child
    TWICE — once for the bare count, once under the anti join — and
    stitched the two single-row aggregates with a crossJoin, i.e. two
    jobs + a broadcast build per relation).  A left join against a
    unique PK preserves child row count exactly, a NULL/unmatched key
    surfaces as a NULL parent key (never NOT IN's null trap), so the
    counts are identical; the five audits remain independent scans a
    scheduler can overlap.  Output is five rows of exact integers.
    """

    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    out = (
        fk_audit(orders, "o_custkey", table(spark, sf_dir, "customer"),
                 "c_custkey", "orders->customer")
        .unionAll(fk_audit(li, "l_orderkey", orders, "o_orderkey",
                           "lineitem->orders"))
        .unionAll(fk_audit(li, "l_partkey", table(spark, sf_dir, "part"),
                           "p_partkey", "lineitem->part"))
        .unionAll(fk_audit(li, "l_suppkey", table(spark, sf_dir, "supplier"),
                           "s_suppkey", "lineitem->supplier"))
        .unionAll(fk_audit(table(spark, sf_dir, "customer"), "c_nationkey",
                           table(spark, sf_dir, "nation"), "n_nationkey",
                           "customer->nation"))
    )
    return out.orderBy("relation")


@query(
    "q_quality_embedding_audit",
    oracle="""
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    st AS (
        SELECT vec_id, label,
               CAST(len(v) AS BIGINT) AS dim,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
               CAST(len(list_filter(v, x -> isnan(x) OR x IS NULL))
                    AS BIGINT) AS n_bad
        FROM e
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(count(CASE WHEN dim <> 64 THEN 1 END) AS BIGINT)
               AS n_wrong_dim,
           CAST(count(CASE WHEN n_bad > 0 THEN 1 END) AS BIGINT)
               AS n_nonfinite,
           CAST(count(CASE WHEN nrm = 0 THEN 1 END) AS BIGINT) AS n_zero,
           round(min(nrm), 6) AS min_norm,
           round(max(nrm), 6) AS max_norm,
           round(avg(nrm), 6) AS mean_norm
    FROM st GROUP BY label
    ORDER BY label
    """,
)
def q_quality_embedding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-column QA — the vector-side declarative audit a
    similarity/ANN pipeline gates on before building any index: per
    label, counts of wrong-dimension rows, non-finite components and
    zero vectors, plus the norm range (an unnormalized batch or a
    scale drift shows up as a norm-range explosion long before recall
    degrades).  Complements q_profile_columns (scalar columns) and
    q_embedding_outliers (semantic outliers) with the STRUCTURAL
    checks.

    Shape: pure in-row array arithmetic (length / in-order fold for
    the norm / filter-count for non-finites) + one |labels|-row
    aggregate — fuses into the scan; min/max are order-independent,
    the mean norm is the one multi-row float reduction → all three
    rounded 6 dp in both dialects.
    """
    from i3cols_spark.functions.vectors import as_double

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double("embedding").alias("v")
    )
    nrm = F.sqrt(
        F.aggregate(
            F.transform("v", lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    n_bad = F.size(F.filter("v", lambda x: F.isnan(x) | x.isNull())).cast("long")
    st = emb.select(
        "label",
        F.size("v").cast("long").alias("dim"),
        nrm.alias("nrm"),
        n_bad.alias("n_bad"),
    )
    return (
        st.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.count(F.when(F.col("dim") != 64, 1)).cast("long").alias("n_wrong_dim"),
            F.count(F.when(F.col("n_bad") > 0, 1)).cast("long").alias("n_nonfinite"),
            F.count(F.when(F.col("nrm") == 0, 1)).cast("long").alias("n_zero"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
            F.round(F.avg("nrm"), 6).alias("mean_norm"),
        )
        .orderBy("label")
    )


@query(
    "q_quality_freshness",
    oracle="""
    WITH anchor AS (
      SELECT max(epoch_us(ts)) AS a FROM events
    ), f AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_rows,
             max(epoch_us(ts)) AS last_us,
             CAST(sum(CASE WHEN epoch_us(ts) >= t.a - 604800000000
                      THEN 1 ELSE 0 END) AS BIGINT) AS rows_7d,
             CAST(sum(CASE WHEN epoch_us(ts) >= t.a - 1209600000000
                       AND epoch_us(ts) < t.a - 604800000000
                      THEN 1 ELSE 0 END) AS BIGINT) AS rows_prior_7d
      FROM events, anchor t
      GROUP BY event_type, t.a
    )
    SELECT event_type, n_rows, last_us,
           floor((t.a - last_us) / 3600000000.0 * 1000000 + 0.5)
               / 1000000.0 AS staleness_hours,
           rows_7d, rows_prior_7d,
           CASE WHEN rows_prior_7d > 0
                THEN floor(rows_7d * 1.0 / rows_prior_7d * 1000000 + 0.5)
                     / 1000000.0
                ELSE CAST(NULL AS DOUBLE) END AS wow_ratio,
           (t.a - last_us) > 86400000000 AS stale_24h
    FROM f, anchor t
    ORDER BY event_type
    """,
)
def q_quality_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-feed freshness and volume audit: for every event type
    (standing in for an ingest feed), last-arrival staleness against
    the global clock anchor, trailing-7-day row volume vs the prior
    7-day window (week-over-week ratio), and a 24-hour staleness
    flag — the data-ops health check a pipeline runs BEFORE trusting
    a partition for training, complementing the structural audits
    (q_quality_referential_integrity = FK shape,
    q_quality_embedding_audit = vector shape, THIS = arrival shape).

    All interval arithmetic is integer epoch-micros against a 1-row
    broadcast anchor; staleness and the WoW ratio are single
    divisions of exact integers → HALF_UP 6 dp; a feed with an empty
    prior week reports NULL ratio (not a fake ∞), and the flag stays
    a plain boolean so the gate is machine-checkable.

    Scale: ONE map-side-combined pass over the event stream with
    conditional-count accumulators — |feeds| output rows, no second
    scan for the window counts.
    """
    ev = table(spark, sf_dir, "events")
    anchor = ev.agg(F.max(F.unix_micros("ts")).alias("a"))
    us = F.unix_micros("ts")
    f = (
        ev.crossJoin(F.broadcast(anchor))
        .groupBy("event_type", "a")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.max(us).alias("last_us"),
            F.sum(
                F.when(us >= F.col("a") - F.lit(604800000000), 1).otherwise(0)
            )
            .cast("long")
            .alias("rows_7d"),
            F.sum(
                F.when(
                    (us >= F.col("a") - F.lit(1209600000000))
                    & (us < F.col("a") - F.lit(604800000000)),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("rows_prior_7d"),
        )
    )
    from i3cols_spark.functions.rounding import round_half_up

    return f.select(
        "event_type",
        "n_rows",
        "last_us",
        round_half_up(
            (F.col("a") - F.col("last_us")) / F.lit(3600000000.0), 6
        ).alias("staleness_hours"),
        "rows_7d",
        "rows_prior_7d",
        F.when(
            F.col("rows_prior_7d") > 0,
            round_half_up(
                F.col("rows_7d") * 1.0 / F.col("rows_prior_7d"), 6
            ),
        )
        .otherwise(F.lit(None).cast("double"))
        .alias("wow_ratio"),
        ((F.col("a") - F.col("last_us")) > F.lit(86400000000)).alias(
            "stale_24h"
        ),
    ).orderBy("event_type")
