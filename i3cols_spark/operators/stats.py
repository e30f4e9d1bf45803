"""Statistical aggregates + deterministic sampling (§2.2 completions
and training-pipeline extensions).

The reference's statistics surface is NumPy reductions over loaded
columns — ``np.percentile`` / ``np.median`` / ``np.corrcoef`` /
``np.cov`` / ``np.polyfit(deg=1)`` are all one-liners its users run on
i3cols-loaded arrays (SURVEY §2.2's NumPy-delegated surface).  Spark's
exact ``percentile``, ``corr``/``covar_*`` and ``regr_*`` aggregates
are the distributed equivalents: single-pass, partial+final merged,
no driver materialization.

Deterministic sampling is the piece a 100 TB training-data pipeline
adds on top: reproducible train/eval splits and per-source mixture
rates must not depend on partitioning, executor count, or RNG state.
The standard trick is a content hash threshold — a row is sampled iff
a hex prefix of ``md5(key)`` falls below a per-stratum cutoff.  That
is a pure per-row projection + filter (no shuffle, no state, pushes
down to the scan), works identically in any engine that has md5, and
resampling with a larger rate yields a superset (nested samples).

Float discipline (registry docstring): multi-row double reductions
rounded identically in both dialects; corr/covar/regr rounded at 6 dp
(single-pass covariance accumulation differs across engines in the
last few ulps — see scalar_funcs.py q_math_funcs note); interpolated
percentiles at 4 dp.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from i3cols_spark.functions.rounding import round_half_up
from i3cols_spark.operators.registry import query
from i3cols_spark.sources.tables import materialize, spread, table


def knuth_u16(key: Column) -> Column:
    """The cross-engine deterministic uniform hash shared by the
    sampling family: ``(key mod 2^16) · 2654435761 mod 2^16`` as a
    DOUBLE in [0, 65536).  Callers shift/scale it into their own unit
    interval (``/65536`` half-open, or ``(+1)/65537`` open).

    Reduce the key mod 2^16 BEFORE the Knuth multiply: mathematically
    identical ((a mod m)·k mod m ≡ a·k mod m), but the product stays
    < 2^48 for ANY key, where the raw multiply overflows int64 at
    key ≈ 3.5e9 (Spark wraps / ANSI-errors, DuckDB promotes to
    HUGEINT — cross-engine divergence at large key ranges).  pmod
    keeps negative keys non-negative, matching the oracle's
    ``((x % m) + m) % m`` spelling.  Extracted in round 12 so a future
    correction (e.g. widening the modulus) lands once, not per-copy.
    """
    return F.pmod(
        F.pmod(key, F.lit(65536)) * F.lit(2654435761), F.lit(65536)
    ).cast("double")


def exact_percentiles(
    df: DataFrame, key: str, value: str, ps: dict[str, float]
) -> DataFrame:
    """Exact interpolated percentiles per group, computed from the
    VALUE DISTRIBUTION instead of Spark's ``percentile`` aggregate.

    ``percentile``/``median`` buffer every raw value of a group inside
    one aggregation buffer (×1 per call), so five percentiles over a
    handful of huge groups concentrate 5×|group| doubles on single
    reducers — measured 7.9× wall at a 10× probe, OOM at real scale.
    Here the heavy reduction is ``groupBy(key, value).count()`` —
    map-side combinable, state = |distinct values| not |rows| — then a
    cumulative sum over each group's distinct values and one
    conditional-min pass picks the two bracketing values per requested
    percentile (h = (n-1)p, the same linear-interpolation definition
    DuckDB's ``quantile_cont`` uses).  Skewed raw rows never shuffle;
    only the distinct-value histogram does.

    NULL values are dropped before building the distribution —
    quantile_cont / np.percentile ignore nulls, whereas the histogram
    cumsum would otherwise count them (Spark sorts nulls first asc).
    """
    return exact_percentiles_multi(df, key, {value: ps})


def exact_percentiles_multi(
    df: DataFrame, key: str, specs: dict[str, dict[str, float]]
) -> DataFrame:
    """``exact_percentiles`` over SEVERAL value columns in ONE scan:
    the columns are unpivoted via ``stack`` into (key, vcol, value)
    rows, so one groupBy builds every column's
    distinct-value histogram together and one window pass cumsums each
    (key, vcol) distribution — the table is read once however many
    columns are profiled, vs one full scan per column in the naive
    form.  Values are cast to double (the interpolated result type
    anyway) to share the stacked column.
    """
    cols = list(specs)
    # Percentile names are flattened into shared __h_/__lo_/__hi_
    # aliases across value columns — a repeated name under two vcols
    # would make the F.col references ambiguous at plan time (round-11
    # self-review), so fail loudly here instead.
    all_names = [n for c in cols for n in specs[c]]
    if len(all_names) != len(set(all_names)):
        dupes = sorted({n for n in all_names if all_names.count(n) > 1})
        raise ValueError(
            f"exact_percentiles_multi: percentile names must be unique "
            f"across value columns, got duplicates {dupes}"
        )
    stack_args = ", ".join(
        f"'{c}', CAST({c} AS DOUBLE)" for c in cols
    )
    stacked = df.select(
        F.col(key),
        F.expr(f"stack({len(cols)}, {stack_args}) AS (vcol, value)"),
    ).filter(F.col("value").isNotNull())

    dist = stacked.groupBy(key, "vcol", "value").agg(F.count("*").alias("cnt"))
    wcum = (
        Window.partitionBy(key, "vcol")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    d = dist.withColumn("cum", F.sum("cnt").over(wcum)).withColumn(
        "tot", F.sum("cnt").over(Window.partitionBy(key, "vcol"))
    )

    def bracket(vcol: str, p: float, name: str) -> list[Column]:
        here = F.col("vcol") == vcol
        h = (F.col("tot") - 1) * F.lit(float(p))
        return [
            F.min(F.when(here, h)).alias(f"__h_{name}"),
            F.min(
                F.when(here & (F.col("cum") >= F.floor(h) + 1), F.col("value"))
            ).alias(f"__lo_{name}"),
            F.min(
                F.when(here & (F.col("cum") >= F.ceil(h) + 1), F.col("value"))
            ).alias(f"__hi_{name}"),
        ]

    aggs = [
        c
        for vcol, ps in specs.items()
        for name, p in ps.items()
        for c in bracket(vcol, p, name)
    ]
    out = d.groupBy(key).agg(*aggs)
    final = [F.col(key)]
    for ps in specs.values():
        for name in ps:
            h, lo, hi = (F.col(f"__{x}_{name}") for x in ("h", "lo", "hi"))
            final.append((lo + (h - F.floor(h)) * (hi - lo)).alias(name))
    return out.select(*final)


@query(
    "q_agg_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price,
           round(quantile_cont(l_extendedprice, 0.50), 4) AS p50_price,
           round(quantile_cont(l_extendedprice, 0.75), 4) AS p75_price,
           round(median(l_extendedprice), 4)              AS median_price,
           round(quantile_cont(l_quantity, 0.90), 4)      AS p90_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group — np.percentile analog,
    matching DuckDB ``quantile_cont`` (same h = (n-1)p linear
    interpolation) to 4 dp.

    Computed via ``exact_percentiles_multi`` (stacked distribution
    cumsum + bracket pick), NOT Spark's ``percentile`` aggregate — see
    ``exact_percentiles`` for why the buffering aggregate fails at
    scale (7.9× at the 10× probe).  Both value columns ride ONE
    lineitem scan (the two-call form read the table twice);
    ``approx_percentile`` (bounded-state sketch) remains the alternative
    when even the distinct-value histogram is too wide.
    """
    li = table(spark, sf_dir, "lineitem")
    both = exact_percentiles_multi(
        li,
        "l_returnflag",
        {
            "l_extendedprice": {
                "p25_price": 0.25, "p50_price": 0.50, "p75_price": 0.75,
            },
            "l_quantity": {"p90_qty": 0.90},
        },
    )
    return both.select(
        "l_returnflag",
        F.round("p25_price", 4).alias("p25_price"),
        F.round("p50_price", 4).alias("p50_price"),
        F.round("p75_price", 4).alias("p75_price"),
        F.round("p50_price", 4).alias("median_price"),
        F.round("p90_qty", 4).alias("p90_qty"),
    )


@query(
    "q_agg_stats_corr",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_extendedprice, l_quantity), 6)           AS corr_price_qty,
           round(covar_samp(l_extendedprice, l_quantity), 6)     AS covs_price_qty,
           round(covar_pop(l_extendedprice, l_quantity), 6)      AS covp_price_qty,
           round(regr_slope(l_extendedprice, l_quantity), 6)     AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6)        AS r2,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_pairs
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_stats_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics per group — np.corrcoef / np.cov /
    np.polyfit(deg=1) analog, as single-pass distributed aggregates.

    corr / covar_samp / covar_pop / regr_slope / regr_intercept /
    regr_r2 / regr_count all merge partial (n, Σx, Σy, Σxy, Σx²)
    states, so one shuffle of constant-size state per group regardless
    of SF.
    """
    li = table(spark, sf_dir, "lineitem")
    y, x = "l_extendedprice", "l_quantity"
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr(y, x), 6).alias("corr_price_qty"),
        F.round(F.covar_samp(y, x), 6).alias("covs_price_qty"),
        F.round(F.covar_pop(y, x), 6).alias("covp_price_qty"),
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.regr_count(y, x).cast("bigint").alias("n_pairs"),
    )


#: Per-stratum hex cutoffs on the first 4 md5 digits (rate = cutoff/0x10000):
#: urgent 25%, high 12.5%, rest ~3.1% — a typical quality-tiered mixture.
_STRATA_CUTOFFS = (("1-URGENT", "4000"), ("2-HIGH", "2000"))
_DEFAULT_CUTOFF = "0800"


@query(
    "q_sample_stratified",
    oracle=f"""
    SELECT o_orderkey, o_orderpriority, o_totalprice
    FROM orders
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4) <
          CASE o_orderpriority
               WHEN '{_STRATA_CUTOFFS[0][0]}' THEN '{_STRATA_CUTOFFS[0][1]}'
               WHEN '{_STRATA_CUTOFFS[1][0]}' THEN '{_STRATA_CUTOFFS[1][1]}'
               ELSE '{_DEFAULT_CUTOFF}' END
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample of orders by priority.

    Hash-threshold sampling: keep a row iff the first 4 hex digits of
    ``md5(key)`` sort below the stratum's cutoff.  Engine-independent
    (md5 of the decimal key string), reproducible under any
    partitioning, and nested (a 25% sample contains the 12.5% one —
    lets train/eval splits shrink or grow without resampling).  Unlike
    ``df.sample``/TABLESAMPLE this is exact-per-row, so the oracle can
    hash-match the actual sampled rows, and unlike a RNG it never
    depends on task scheduling.  The plan is a pure filter over the
    scan — no shuffle at any SF.
    """
    orders = table(spark, sf_dir, "orders")
    cutoff = F.when(
        F.col("o_orderpriority") == _STRATA_CUTOFFS[0][0], F.lit(_STRATA_CUTOFFS[0][1])
    ).when(
        F.col("o_orderpriority") == _STRATA_CUTOFFS[1][0], F.lit(_STRATA_CUTOFFS[1][1])
    ).otherwise(F.lit(_DEFAULT_CUTOFF))
    bucket = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 4)
    return orders.filter(bucket < cutoff).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )


#: Split boundaries on the 4-hex-digit bucket space (0x10000 buckets):
#: test < 0x0800 (3.125%), val < 0x1000 (next 3.125%), train = rest.
_TEST_HI, _VAL_HI = "0800", "1000"


@query(
    "q_split_assign",
    oracle=f"""
    SELECT doc_id, lang,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '{_TEST_HI}'
                THEN 'test'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '{_VAL_HI}'
                THEN 'val'
                ELSE 'train' END AS split
    FROM documents
    """,
)
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment for every document.

    Same hash-threshold scheme as q_sample_stratified but a 3-way
    CASE over the bucket space instead of a filter: every row gets a
    stable split label that is independent of partitioning, ordering
    and cluster size, and adjusting a boundary moves only the rows in
    the affected bucket range (no global reshuffle of the split).
    Pure projection — no shuffle, no state, safe at any SF; in a real
    pipeline the label becomes a ``partitionBy`` column on write so
    each split prunes to its own files.
    """
    docs = table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    split = (
        F.when(bucket < _TEST_HI, "test")
        .when(bucket < _VAL_HI, "val")
        .otherwise("train")
    )
    return docs.select("doc_id", "lang", split.alias("split"))


@query(
    "q_agg_approx_percentile",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           TRUE AS p25_rank_ok,
           TRUE AS p50_rank_ok,
           TRUE AS p75_rank_ok
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile of extended price per return flag — the
    bounded-state sketch twin of q_agg_percentile, emitted as the
    SURVEY §2.3 weak check itself (the q_agg_approx_distinct r8
    precedent): per group, the exact row count plus one boolean per
    quantile asserting the estimate sits within the ±1% RANK band —
    ``p_rank_ok`` = |fraction of rows ≤ estimate − p| ≤ 0.01.

    The raw estimate is engine-specific (Spark's G-K sketch vs
    DuckDB's t-digest), so the VALUE can't ride a hash oracle — but
    the rank-accuracy CONTRACT can: the oracle asserts TRUE per
    group/quantile, so a drifted sketch flips the official row red
    instead of hiding behind a rows-only record.
    tests/test_properties.py still bounds the raw estimates.

    Scale shape: pass 1 is the fixed-size sketch per group (map-side
    merged — THE quantile you run at 100 TB); pass 2 broadcasts the
    ≤|groups| estimate rows back onto the scan to measure each
    estimate's true rank, an audit that costs one more scan at test
    SF and is dropped (not the operator) in production.
    """
    li = table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    q = F.approx_percentile(
        "l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)), F.lit(10000)
    )
    est = li.groupBy("l_returnflag").agg(q.alias("__q"))
    joined = li.join(F.broadcast(est), "l_returnflag")

    def rank_ok(idx: int, p: float):
        frac = F.avg(
            (F.col("l_extendedprice") <= F.col("__q")[idx]).cast("double")
        )
        return F.abs(frac - F.lit(p)) <= F.lit(0.01)

    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        rank_ok(0, 0.25).alias("p25_rank_ok"),
        rank_ok(1, 0.50).alias("p50_rank_ok"),
        rank_ok(2, 0.75).alias("p75_rank_ok"),
    )


@query(
    "q_profile_columns",
    oracle="""
    SELECT 'l_quantity' AS column_name,
           CAST(count(*) AS BIGINT)                          AS n_rows,
           CAST(count(*) - count(l_quantity) AS BIGINT)      AS n_nulls,
           CAST(count(DISTINCT l_quantity) AS BIGINT)        AS n_distinct,
           round(min(l_quantity), 6)                         AS min_val,
           round(max(l_quantity), 6)                         AS max_val
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice',
           CAST(count(*) AS BIGINT),
           CAST(count(*) - count(l_extendedprice) AS BIGINT),
           CAST(count(DISTINCT l_extendedprice) AS BIGINT),
           round(min(l_extendedprice), 6),
           round(max(l_extendedprice), 6)
    FROM lineitem
    UNION ALL
    SELECT 'l_discount',
           CAST(count(*) AS BIGINT),
           CAST(count(*) - count(l_discount) AS BIGINT),
           CAST(count(DISTINCT l_discount) AS BIGINT),
           round(min(l_discount), 6),
           round(max(l_discount), 6)
    FROM lineitem
    UNION ALL
    SELECT 'l_tax',
           CAST(count(*) AS BIGINT),
           CAST(count(*) - count(l_tax) AS BIGINT),
           CAST(count(DISTINCT l_tax) AS BIGINT),
           round(min(l_tax), 6),
           round(max(l_tax), 6)
    FROM lineitem
    """,
)
def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (null rate / distinct count / min / max) for a
    set of numeric columns — the ``ANALYZE``/data-quality summary every
    ingest pipeline runs before training jobs trust a table.

    ONE scan computes every metric for every column (all aggregates in
    a single partial+final pass; the oracle's UNION ALL re-scans per
    column, which is fine for DuckDB correctness but would be k full
    reads at 100 TB).  The wide 1-row aggregate is then unpivoted to
    (column_name, metrics) rows with a per-row ``stack`` — no second
    shuffle.  distinct counts are exact here for oracle parity; swap
    ``approx_count_distinct`` at scales where exact distinct becomes
    its own shuffle problem.
    """
    cols = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    li = table(spark, sf_dir, "lineitem")
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.round(F.min(c), 6).alias(f"{c}__min"),
            F.round(F.max(c), 6).alias(f"{c}__max"),
        ]
    wide = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__rows, {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(column_name, n_rows, n_nulls, n_distinct, min_val, max_val)"
    )


@query(
    "q_sample_mixture",
    oracle="""
    WITH counts AS (
        SELECT lang, count(*) AS n FROM documents GROUP BY lang
    ),
    m AS (SELECT min(n) AS n_min FROM counts),
    rates AS (
        SELECT lang,
               CAST(floor(CAST(n_min AS DOUBLE) * 65536 / n) AS BIGINT) AS cutoff
        FROM counts, m
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN rates r ON d.lang = r.lang
    WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
          < r.cutoff
    """,
)
def q_sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing: downsample every language shard to the
    SMALLEST language's size so the output mixture is uniform — the
    mixture-weighting step of training-data assembly, with the rates
    COMPUTED from the data (q_sample_stratified's fixed-rate twin).
    The fixture's languages are genuinely skewed (en ≈ 2.5× the
    others), so the rebalance is non-vacuous.

    Two-phase shape: per-source counts (one tiny agg) broadcast back
    as integer bucket cutoffs over the 16-bit md5-prefix space; the
    sample itself is the same deterministic hash-threshold filter as
    every sampler here — reproducible under any partitioning and
    nested (raising a source's target share strictly grows its
    sample).  Expected size = n_min per source (±binomial noise —
    hash-threshold sampling is exact-per-row, not exact-count; an
    exact-count variant would need a per-source rank, one window).
    """
    docs = table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n"))
    n_min = counts.agg(F.min("n").alias("n_min"))
    rates = counts.crossJoin(F.broadcast(n_min)).select(
        "lang",
        F.floor(F.col("n_min").cast("double") * 65536 / F.col("n")).cast("long").alias("cutoff"),
    )
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast("long")
    return (
        docs.join(F.broadcast(rates), "lang")
        .filter(bucket < F.col("cutoff"))
        .select("doc_id", "lang", "source")
    )


@query(
    "q_sample_fixed_n",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey
    LIMIT 100
    """,
)
def q_sample_fixed_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size uniform sample — the distributed
    replacement for reservoir sampling: take the N rows with the
    SMALLEST content hash.  md5 is uniform over keys, so hash-rank
    order is a uniform permutation; the same N rows come back under
    any partitioning, any cluster size, any execution order, and the
    sample is stable under appends (a new row only enters by evicting
    the current max — classic bottom-k / KMV semantics, the same
    structure KMV distinct-count sketches use).

    Plan: ``TakeOrderedAndProject`` — each task keeps an N-row heap,
    the driver merges heaps; no full sort, no shuffle of the data, no
    RNG state.  A rate-based sample (q_sample_stratified) cannot
    promise an exact N; this cannot promise a rate — together they
    cover both sampling contracts a pipeline needs.
    """
    orders = table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.md5(F.col("o_orderkey").cast("string")), F.col("o_orderkey"))
        .limit(100)
    )


#: |z| threshold shared by the batch operator and the streaming twin.
ZSCORE_THRESHOLD = 3.0


def zscore_stats(ev: DataFrame) -> DataFrame:
    """Per-type (μ, σ) reference statistics for the anomaly screen —
    rounded at 6 dp (multi-row reductions, registry discipline).
    Shared by q_anomaly_zscore and streaming.jobs.stream_anomaly_screen
    so the two twins can never drift apart."""
    return ev.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("mu"),
        F.round(F.stddev_samp("value"), 6).alias("sigma"),
    )


def zscore_screen(ev: DataFrame, stats: DataFrame) -> DataFrame:
    """Score rows against a (event_type, mu, sigma) stats frame and
    keep |z| ≥ ZSCORE_THRESHOLD — broadcast join + per-row projection,
    batch and streaming alike.  HALF_UP at 4 dp, not round(): z is a
    ratio of 6-dp decimals over 2-dp fixture values — the same
    rational structure whose 4-dp .5 boundary hit mad_screen for real
    at sf0.1 (round-11 self-review; see mad_screen).  The σ=0 guard
    (constant group) keeps both engines NULL-consistent — unguarded,
    Spark's x/0 yields NULL (row dropped) while DuckDB's IEEE float
    path yields ±inf (row KEPT); the oracle carries the matching
    ``sigma <> 0`` predicate."""
    z = F.when(
        F.col("sigma") != 0,
        round_half_up((F.col("value") - F.col("mu")) / F.col("sigma"), 4),
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) >= ZSCORE_THRESHOLD)
        .select("event_id", "event_type", "value", "z")
    )


def _mad_parts(ev: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared construction of the MAD reference frames: per-type
    median ``m``, the deviation stream ``d`` (events + md + |value−md|)
    and the per-type MAD ``s``.  One builder feeds both mad_stats and
    q_anomaly_mad so the batch and streaming twins can never drift."""
    m = exact_percentiles(ev, "event_type", "value", {"md": 0.5}).select(
        "event_type", F.round("md", 6).alias("md")
    )
    d = ev.join(F.broadcast(m), "event_type").withColumn(
        "ad", F.abs(F.col("value") - F.col("md"))
    )
    s = exact_percentiles(d, "event_type", "ad", {"mad": 0.5}).select(
        "event_type", F.round("mad", 6).alias("mad")
    )
    return m, d, s


def mad_stats(ev: DataFrame) -> DataFrame:
    """Per-type (median, MAD) reference stats, 6-dp rounded.  Shared by
    q_anomaly_mad and streaming.jobs.stream_anomaly_mad_screen so the
    batch and streaming twins can never drift apart (the zscore_stats
    pattern); both medians ride the distinct-value-histogram engine
    (exact_percentiles), never Spark's value-buffering median."""
    m, _d, s = _mad_parts(ev)
    return m.join(s, "event_type")


def mad_screen(ev: DataFrame, stats: DataFrame) -> DataFrame:
    """Score rows against a (event_type, md, mad) stats frame and keep
    |modified z| ≥ 3.5 — broadcast join + projection, batch and
    streaming alike.  HALF_UP at 4 dp, not round(): the fixture's
    2-dp values make the score a rational that can land exactly on a
    4-dp .5 boundary — one sf0.1 row measured 3.85225, rounding
    3.8522 (DuckDB half-even) vs 3.8523 (Spark HALF_UP) before this
    (functions/rounding.py)."""
    return (
        ev.join(F.broadcast(stats), "event_type")
        .withColumn("rz", _mad_rz())
        .filter(F.abs(F.col("rz")) >= 3.5)
        .select("event_id", "event_type", "value", "rz")
    )


def _mad_rz() -> Column:
    """The modified z-score expression over (value, md, mad) columns —
    ONE definition shared by mad_screen and q_anomaly_mad's fused
    batch plan so the score can never drift between them.

    MAD = 0 guard (a group where >50% of values equal the median):
    Spark's x/0 yields NULL (row dropped) but DuckDB's IEEE float
    path yields ±inf (row KEPT) — guard both dialects identically
    (round-11 self-review; the q_ml_eval_confusion discipline)."""
    return F.when(
        F.col("mad") != 0,
        round_half_up(
            0.6745 * (F.col("value") - F.col("md")) / F.col("mad"), 4
        ),
    )


@query(
    "q_anomaly_mad",
    oracle="""
    WITH m AS (
        SELECT event_type, round(quantile_cont(value, 0.5), 6) AS md
        FROM events GROUP BY event_type
    ),
    d AS (
        SELECT e.event_id, e.event_type, e.value, m.md,
               abs(e.value - m.md) AS ad
        FROM events e JOIN m USING (event_type)
    ),
    s AS (
        SELECT event_type, round(quantile_cont(ad, 0.5), 6) AS mad
        FROM d GROUP BY event_type
    )
    SELECT d.event_id, d.event_type, d.value,
           floor((0.6745 * (d.value - d.md) / s.mad) * 10000 + 0.5)
               / 10000.0 AS rz
    FROM d JOIN s USING (event_type)
    WHERE s.mad <> 0
      AND abs(floor((0.6745 * (d.value - d.md) / s.mad) * 10000 + 0.5)
              / 10000.0) >= 3.5
    """,
)
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier screen — the companion to
    q_anomaly_zscore that doesn't let the outliers poison their own
    threshold: modified z-score 0.6745·(x − median)/MAD, flag ≥ 3.5
    (the Iglewicz–Hoaglin rule).  μ/σ move with every extreme value;
    median and MAD have a 50% breakdown point, so a burst of garbage
    readings can't mask itself.

    Both medians come from ``exact_percentiles`` — the distinct-value
    histogram + cumsum construction, NOT Spark's ``median`` aggregate
    (which buffers every raw value of a group on one reducer; measured
    7.9× at a 10× probe) — so per-group state is |distinct values|
    at both aggregation levels.  The two tiny stats frames broadcast
    back onto the event scan; scoring is a pure projection.  Stats
    round at 6 dp and the score at 4 dp in both engines (registry
    discipline: interpolated doubles feed further arithmetic).

    r13 negative (measured, reverted; NEGATIVES.md N2): scoring
    straight off the deviation stream ``d`` (which already carries md) instead of
    ``ev ⋈ broadcast(m ⋈ s)`` shrinks the plan (one fewer events scan
    in the text, no m ⋈ s join, m's subtree no longer duplicated
    inside the stats broadcast build) but measured 1.17–1.19 s vs
    1.07–1.08 s interleaved — the fused form pays TWO broadcast
    probes on the corpus-sized stream (m then s) where this form pays
    ONE (the pre-joined stats), and the m-duplication it removes
    lives only inside bounded histogram broadcast builds.  The
    composition below is the right scale shape as well as the
    measured-faster one.
    """
    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return mad_screen(ev, mad_stats(ev))


@query(
    "q_anomaly_zscore",
    oracle="""
    WITH s AS (
        SELECT event_type,
               round(avg(value), 6)         AS mu,
               round(stddev_samp(value), 6) AS sigma
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           floor((e.value - s.mu) / s.sigma * 10000 + 0.5) / 10000.0 AS z
    FROM events e JOIN s USING (event_type)
    WHERE s.sigma <> 0
      AND abs(floor((e.value - s.mu) / s.sigma * 10000 + 0.5) / 10000.0)
          >= 3.0
    """,
)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier detection: events whose value sits
    ≥ 3σ from their event type's mean — the standard-score anomaly
    screen every metrics pipeline runs (NumPy users write it as
    ``np.abs((x - x.mean()) / x.std()) >= 3``).

    Two-phase shape: one map-side-combined aggregate computes each
    type's (μ, σ) — constant state per group — and broadcasts the
    tiny stats frame back onto the event scan, so scoring is a pure
    per-row projection + filter over ONE pass of the data: no second
    shuffle, no window, no self-join, and the filter runs before
    anything wide materializes.  At 100 TB that is scan-bound — the
    only alternative shapes (a window over event_type, or a
    re-aggregating self-join) shuffle every raw row.

    Float discipline: μ/σ are multi-row reductions → rounded to 6 dp
    in both dialects; the per-row z is then IEEE-identical arithmetic
    on identical doubles, rounded HALF_UP at 4 dp (round-11
    self-review: plain round() diverges half-even vs half-away on a
    4-dp .5 boundary — the documented mad_screen incident class), and
    the threshold compares the ROUNDED z (round-then-filter) so the
    cut is boundary-exact across engines; σ=0 groups are excluded in
    both dialects (Spark NULL vs DuckDB inf otherwise).
    """
    ev = table(spark, sf_dir, "events")
    return zscore_screen(ev, zscore_stats(ev))


@query(
    "q_sample_weighted",
    oracle="""
    WITH keyed AS (
        -- ((x % m) + m) % m mirrors Spark's pmod for negative ids
        -- (latent on the non-negative fixture; round-11 self-review)
        SELECT event_type, event_id, value,
               ln((CAST((((event_id % 65536) + 65536) % 65536
                         * 2654435761) % 65536 AS DOUBLE)
                   + 1.0) / 65537.0) / greatest(value, 0.01) AS lk
        FROM events
    ),
    ranked AS (
        SELECT event_type, event_id, value,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY lk DESC, event_id
               ) AS pick_rank
        FROM keyed
    )
    SELECT event_type, CAST(pick_rank AS INT) AS pick_rank, event_id, value
    FROM ranked WHERE pick_rank <= 10
    """,
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, 10 per event type, via
    the Efraimidis–Spirakis A-Res key: rank by u^(1/w) (equivalently
    ln(u)/w — heavier-weighted rows float up in probability exactly
    proportional to weight).  This completes the sampling family:
    stratified/fixed-n are uniform, importance is WITH-replacement-
    style acceptance — A-Res is the distributed answer to "give me k
    rows per group, weighted, each row at most once", one scan + one
    per-group top-k, no sequential reservoir state.

    Determinism: u is the same Knuth multiplicative hash of event_id
    both engines compute bit-identically ((id % 65536)·2654435761
    % 65536, shifted into (0,1)); the A-Res key itself is never
    emitted — only the selection — and u-collisions (ids ≡ mod 65536)
    break ties by event_id in the rank order.  Weights are
    ``greatest(value, 0.01)`` — the sf0.1 fixture carries zero-valued
    rows, and a zero weight is degenerate for A-Res.

    Scale: the window is a per-group top-k over the scan, the same
    rank-k shape as q_window_topk_pergroup — at 100 TB this is a
    map-side partial TakeOrdered per partition, never a global sort
    of the corpus.
    """
    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    # Open-interval shift (+1)/65537 — ln(u) needs u > 0.
    u = (knuth_u16(F.col("event_id")) + F.lit(1.0)) / F.lit(65537.0)
    # weight floor: sf0.1 carries value = 0.0 rows, and w = 0 is both
    # a division-by-zero (ANSI) and a degenerate weight — clamp in
    # BOTH dialects.
    keyed = ev.withColumn("lk", F.log(u) / F.greatest(F.col("value"), F.lit(0.01)))
    w = Window.partitionBy("event_type").orderBy(F.desc("lk"), F.asc("event_id"))
    return (
        keyed.withColumn("pick_rank", F.row_number().over(w))
        .filter(F.col("pick_rank") <= 10)
        .select("event_type", "pick_rank", "event_id", "value")
    )


@query(
    "q_agg_mode",
    oracle="""
    WITH counts AS (
        SELECT l_returnflag, l_quantity, count(*) AS cnt
        FROM lineitem GROUP BY l_returnflag, l_quantity
    )
    SELECT l_returnflag,
           first(l_quantity ORDER BY cnt DESC, l_quantity) AS mode_qty,
           CAST(max(cnt) AS BIGINT) AS mode_count
    FROM counts
    GROUP BY l_returnflag
    """,
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per group (most frequent value, smallest-value
    tiebreak) — the categorical summary NumPy users get from
    ``np.unique(return_counts=True)``.

    Two-phase shape: ``groupBy(key, value).count()`` (map-side
    combined — raw rows never shuffle, only the distinct-value
    histogram, same scale argument as exact_percentiles) then one
    ``max_by`` over the tiny histogram with ordering key
    struct(cnt, -value): highest count wins, ties break to the
    smallest value deterministically.  DuckDB's ``mode()`` leaves ties
    unspecified, so the oracle states the same ordered pick
    explicitly.
    """
    li = table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count("*").alias("cnt")
    )
    return counts.groupBy("l_returnflag").agg(
        F.max_by(
            F.col("l_quantity"), F.struct(F.col("cnt"), -F.col("l_quantity"))
        ).alias("mode_qty"),
        F.max("cnt").alias("mode_count"),
    )


@query(
    "q_sample_importance",
    oracle="""
    SELECT doc_id, source, n_chars
    FROM documents
    -- ((x % m) + m) % m mirrors Spark's pmod for negative ids
    WHERE CAST(((((doc_id % 65536) + 65536) % 65536)
               * 2654435761) % 65536 AS DOUBLE) / 65536.0 <
          0.9 * least(1.0, n_chars / 800.0)
    """,
)
def q_sample_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-weighted deterministic sampling: each document's
    keep-probability scales with a per-row weight (here a length
    proxy, ``least(1, n_chars/800)`` — longer docs are likelier kept,
    the way data-mixing pipelines upweight higher-quality sources),
    implemented as a hash-threshold test so the SAMPLE ITSELF is
    reproducible and oracle-checkable row for row.

    The uniform variate is a Knuth multiplicative hash of the key
    ((doc_id mod 2^16 · 2654435761) mod 2^16 / 2^16, overflow-safe for
    any id range) — exact integer arithmetic
    available identically in both engines, unlike xxhash64 (Spark-
    only) or RNG sampling (partitioning-dependent).  Same nesting
    property as q_sample_stratified: lowering the 0.9 base rate
    yields a subset of the current sample.  Plan: pure per-row filter
    over the scan — no shuffle, no state, any scale.
    """
    docs = table(spark, sf_dir, "documents")
    u = knuth_u16(F.col("doc_id")) / 65536.0
    p = 0.9 * F.least(F.lit(1.0), F.col("n_chars") / 800.0)
    return docs.filter(u < p).select("doc_id", "source", "n_chars")


@query(
    "q_feature_scale",
    oracle="""
    WITH s AS (
        SELECT event_type,
               round(min(value), 6) AS vmin,
               round(max(value), 6) AS vmax,
               round(avg(value), 6) AS mu,
               round(stddev_pop(value), 6) AS sigma
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           CASE WHEN s.vmax > s.vmin
                THEN (e.value - s.vmin) / (s.vmax - s.vmin) END AS minmax,
           CASE WHEN s.sigma > 0
                THEN (e.value - s.mu) / s.sigma END AS zscore
    FROM events e JOIN s ON e.event_type = s.event_type
    """,
)
def q_feature_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature normalization — every event value rescaled two ways
    within its type: min-max to [0, 1] and z-score — the fit+transform
    step feature pipelines run before any model sees raw magnitudes,
    with degenerate groups (constant value) yielding NULL rather than
    a division blow-up.

    Two-pass fit/transform shape: the per-type statistics are ONE
    map-side-combined aggregate (|types| rows — the "fitted scaler"),
    broadcast back onto the stream so the transform is a per-row
    broadcast-hash join + arithmetic, no second shuffle of events.
    The statistics round at 6 dp in BOTH engines (multi-row
    reductions; stddev_pop via Spark's ``stddev_pop`` and DuckDB's
    agree on the population formula), and the scaled outputs are
    per-row IEEE over those rounded inputs — identical expression
    tree, unrounded.
    """
    ev = table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.round(F.min("value"), 6).alias("vmin"),
        F.round(F.max("value"), 6).alias("vmax"),
        F.round(F.avg("value"), 6).alias("mu"),
        F.round(F.stddev_pop("value"), 6).alias("sigma"),
    )
    j = ev.join(F.broadcast(stats), "event_type")
    minmax = F.when(
        F.col("vmax") > F.col("vmin"),
        (F.col("value") - F.col("vmin")) / (F.col("vmax") - F.col("vmin")),
    )
    zscore = F.when(
        F.col("sigma") > 0, (F.col("value") - F.col("mu")) / F.col("sigma")
    )
    return j.select(
        "event_id",
        "event_type",
        minmax.alias("minmax"),
        zscore.alias("zscore"),
    )


#: Poisson(1) inverse-CDF thresholds (cumulative e^{-1}/k! sums),
#: capped at 5 (P(X>5) ≈ 0.06%): the multiplicity a row receives in
#: one bootstrap replicate, derived from the md5 uniform so both
#: engines draw the identical resample.
_POIS1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
)

#: Bootstrap replicates: enough for stable 2.5/97.5% percentile CIs,
#: small enough that the replicate-mean table is driver-trivial.
_BOOT_B = 200


@query(
    "q_stats_bootstrap_ci",
    oracle=f"""
    WITH reps AS (
        SELECT b, ((2654435761 * b + 1779033703) % 2147483648) | 1 AS m31
        FROM (SELECT unnest(generate_series(0, {_BOOT_B - 1})) AS b)
    ),
    rh AS (
        SELECT o_totalprice AS x,
               ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
                   % 2147483648 AS h31
        FROM orders
    ),
    draws AS (
        SELECT b, x, ((h31 * m31) % 2147483648) / 2147483648.0 AS u
        FROM rh, reps
    ),
    mult AS (
        SELECT b, x,
               CASE WHEN u < {_POIS1_CDF[0]} THEN 0
                    WHEN u < {_POIS1_CDF[1]} THEN 1
                    WHEN u < {_POIS1_CDF[2]} THEN 2
                    WHEN u < {_POIS1_CDF[3]} THEN 3
                    WHEN u < {_POIS1_CDF[4]} THEN 4
                    ELSE 5 END AS m
        FROM draws
    ),
    means AS (
        SELECT b, floor(sum(m * x) / sum(m) * 1000000 + 0.5) / 1000000.0
                   AS mean_b
        FROM mult GROUP BY b
    ),
    pt AS (SELECT avg(o_totalprice) AS point_mean FROM orders),
    stats AS (
        SELECT stddev_samp(mean_b) AS se,
               quantile_cont(mean_b, 0.025) AS ci_lo,
               quantile_cont(mean_b, 0.975) AS ci_hi
        FROM means
    )
    SELECT round(point_mean, 4) AS point_mean,
           round(se, 4) AS boot_se,
           round(ci_lo, 4) AS ci_lo,
           round(ci_hi, 4) AS ci_hi
    FROM pt, stats
    """,
)
def q_stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap confidence interval for the mean order value
    (Chamandy et al. 2012, "Estimating uncertainty for massive data
    streams" — the formulation of the resampling bootstrap that works
    on partitioned data): classical bootstrap resampling draws n rows
    WITH replacement per replicate, which needs a global index and is
    unshardable; Poissonizing gives each row an independent
    Poisson(1) multiplicity per replicate, so every task resamples
    its own partition and the replicate means assemble from partial
    sums — one scan, B=200 replicates, no row ever leaves its
    partition before the B-row mean table.  At sf0.01 the bootstrap
    SE (1183) brackets the σ/√n theory value (1176) — the estimator
    audits itself.

    Determinism discipline: each row is md5-hashed ONCE; replicate
    b's uniform is the multiply-mod universal hash (h31·m_b) mod 2³¹
    with odd per-replicate multipliers — both engines draw the
    IDENTICAL resample (value-hash-checked where a rand() bootstrap
    would be rows-only), operands kept to 31 bits so products fit
    int64 in both engines (the importance-sampling overflow lesson).
    The first cut hashed per (row, replicate) — B md5 evaluations per
    row, 20 s at sf0.1; hashing per row and mixing per replicate is
    statistically equivalent here and ~5× cheaper.
    Replicate means are canonicalized at 6 dp BEFORE the
    SE/percentile reduction (multi-row float-sum discipline), and
    the percentile runs through the exact_percentiles engine (same
    h=(n-1)p interpolation as quantile_cont).

    Scale shape: the (row × replicate) stream never materializes
    row-wise — the per-task partial aggregate carries B accumulators
    (sum(m·x), sum(m)) and ships 2B doubles per task; everything
    after is a 200-row table.
    """
    # spread(): the orders fixture is one parquet split and the ×B
    # expansion multiplies per-row CPU — without the round-robin the
    # whole stage runs on the file's input tasks alone.
    orders = spread(
        table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"),
        spark,
    )
    reps = spark.range(_BOOT_B).select(
        F.col("id").alias("b"),
        (
            (F.lit(2654435761) * F.col("id") + F.lit(1779033703))
            % F.lit(2147483648)
        )
        .bitwiseOR(F.lit(1))
        .alias("m31"),
    )
    h31 = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % F.lit(2147483648)
    )
    u = (F.col("h31") * F.col("m31")) % F.lit(2147483648) / F.lit(2147483648.0)
    m = (
        F.when(u < _POIS1_CDF[0], 0)
        .when(u < _POIS1_CDF[1], 1)
        .when(u < _POIS1_CDF[2], 2)
        .when(u < _POIS1_CDF[3], 3)
        .when(u < _POIS1_CDF[4], 4)
        .otherwise(5)
    )
    means = (
        orders.select(F.col("o_totalprice").alias("x"), h31.alias("h31"))
        .join(F.broadcast(reps))
        .groupBy("b")
        .agg(
            round_half_up(
                F.sum(m * F.col("x")) / F.sum(m), 6
            ).alias("mean_b")
        )
    )
    pt = table(spark, sf_dir, "orders").agg(
        F.avg("o_totalprice").alias("point_mean")
    )
    ci = exact_percentiles(
        means.withColumn("__g", F.lit(1)),
        "__g",
        "mean_b",
        {"ci_lo": 0.025, "ci_hi": 0.975},
    )
    se = means.agg(F.stddev_samp("mean_b").alias("se"))
    return (
        pt.crossJoin(se)
        .crossJoin(ci.drop("__g"))
        .select(
            F.round("point_mean", 4).alias("point_mean"),
            F.round("se", 4).alias("boot_se"),
            F.round("ci_lo", 4).alias("ci_lo"),
            F.round("ci_hi", 4).alias("ci_hi"),
        )
    )


@query(
    "q_agg_weighted_median",
    oracle="""
    WITH dist AS (
        SELECT l_returnflag AS flag, l_extendedprice AS v,
               CAST(sum(l_quantity) AS DOUBLE) AS w
        FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
        SELECT flag, v, w,
               sum(w) OVER (PARTITION BY flag ORDER BY v) AS cw,
               sum(w) OVER (PARTITION BY flag) AS tw
        FROM dist
    )
    SELECT flag, min(CASE WHEN cw * 2 >= tw THEN v END) AS wmedian
    FROM cum GROUP BY flag
    """,
)
def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median per group — the order statistic no built-in
    aggregate gives (Spark's percentile/median are unweighted): the
    smallest price v whose cumulative quantity-weight reaches half
    the group's total, i.e. the price splitting each return-flag's
    SHIPPED VOLUME (not its row count) in half — the robust center
    inventory/revenue analyses actually want when rows carry
    multiplicities.

    Same scale shape as stats.exact_percentiles (its weighted
    generalization): the corpus-sized reduction is groupBy(flag,
    value) sum(weight) — map-side combinable, state |distinct
    values| not |rows| — then one cumulative window per group over
    the distinct-value distribution and a conditional-min picks the
    crossing value.  Weights are integer-valued (l_quantity), so
    cumulative sums are exact doubles and the cw·2 ≥ tw crossing is
    deterministic in both engines — value-hash-checked, unrounded.
    """
    dist = (
        table(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_returnflag").alias("flag"),
            F.col("l_extendedprice").alias("v"),
        )
        .agg(F.sum("l_quantity").cast("double").alias("w"))
    )
    wcum = Window.partitionBy("flag").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = dist.select(
        "flag",
        "v",
        F.sum("w").over(wcum).alias("cw"),
        F.sum("w").over(Window.partitionBy("flag")).alias("tw"),
    )
    return cum.groupBy("flag").agg(
        F.min(F.when(F.col("cw") * 2 >= F.col("tw"), F.col("v"))).alias(
            "wmedian"
        )
    )


@query(
    "q_stats_chi2_indep",
    oracle="""
    WITH cells AS (
      SELECT o_orderpriority, o_orderstatus,
             CAST(count(*) AS BIGINT) AS observed
      FROM orders GROUP BY 1, 2
    ), dims AS (
      SELECT CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_rows_dim,
             CAST(count(DISTINCT o_orderstatus)   AS BIGINT) AS n_cols_dim
      FROM cells
    ), marg AS (
      SELECT o_orderpriority, o_orderstatus, observed,
             sum(observed) OVER (PARTITION BY o_orderpriority) AS row_total,
             sum(observed) OVER (PARTITION BY o_orderstatus)   AS col_total,
             sum(observed) OVER ()                             AS n_total
      FROM cells
    ), scored AS (
      SELECT o_orderpriority, o_orderstatus, observed, n_total,
             CAST(row_total AS DOUBLE) * col_total / n_total AS expected_raw
      FROM marg
    )
    SELECT o_orderpriority, o_orderstatus, observed,
           round(expected_raw, 6) AS expected,
           round((observed - expected_raw) * (observed - expected_raw)
                 / expected_raw, 6) AS contrib,
           round(sum((observed - expected_raw) * (observed - expected_raw)
                     / expected_raw) OVER (), 6) AS chi2_stat,
           (n_rows_dim - 1) * (n_cols_dim - 1) AS df,
           round(sqrt(sum((observed - expected_raw) * (observed - expected_raw)
                          / expected_raw) OVER ()
                      / (n_total
                         * least(n_rows_dim - 1, n_cols_dim - 1))), 6) AS cramers_v
    FROM scored CROSS JOIN dims
    ORDER BY o_orderpriority, o_orderstatus
    """,
)
def q_stats_chi2_indep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence (the contingency-table
    counterpart of q_agg_stats_corr's continuous statistics): is order
    priority independent of order status?  Emits the full contingency
    table with per-cell expected counts and chi-square contributions —
    the decomposition an analyst actually reads to see WHICH cells
    drive the statistic — plus the test statistic, its degrees of
    freedom (r−1)(c−1) computed from the observed dimensions, and
    Cramér's V effect size (χ²/(n·min(r−1,c−1)))^½.

    Scale shape: ONE map-side-combined groupBy reduces the fact table
    to the r×c cell histogram; marginals, expected counts and the
    statistic are windows over that cells-sized table (15 rows here —
    never a second pass over the data).  The p-value is deliberately
    absent: the χ² CDF needs the incomplete gamma function, which
    neither engine exposes — the statistic + df are the portable
    output (SURVEY §5.2's cross-engine discipline).

    Determinism: observed/marginals are exact integers; expected is a
    per-row IEEE ratio of exact integers (bit-identical across
    engines); only χ² itself sums 15 doubles, rounded at 6 dp.
    """
    orders = table(spark, sf_dir, "orders")
    cells = orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").cast("bigint").alias("observed")
    )
    dims = cells.agg(
        F.countDistinct("o_orderpriority").cast("bigint").alias("n_rows_dim"),
        F.countDistinct("o_orderstatus").cast("bigint").alias("n_cols_dim"),
    )
    w_all = Window.partitionBy()
    scored = (
        cells
        .withColumn("row_total", F.sum("observed").over(Window.partitionBy("o_orderpriority")))
        .withColumn("col_total", F.sum("observed").over(Window.partitionBy("o_orderstatus")))
        .withColumn("n_total", F.sum("observed").over(w_all))
        .withColumn(
            "expected_raw",
            F.col("row_total").cast("double") * F.col("col_total") / F.col("n_total"),
        )
        .crossJoin(F.broadcast(dims))
    )
    dev = F.col("observed") - F.col("expected_raw")
    contrib_raw = dev * dev / F.col("expected_raw")
    return (
        scored
        .withColumn("chi2_raw", F.sum(contrib_raw).over(w_all))
        .select(
            "o_orderpriority", "o_orderstatus", "observed",
            F.round("expected_raw", 6).alias("expected"),
            F.round(contrib_raw, 6).alias("contrib"),
            F.round("chi2_raw", 6).alias("chi2_stat"),
            ((F.col("n_rows_dim") - 1) * (F.col("n_cols_dim") - 1)).alias("df"),
            F.round(
                F.sqrt(
                    F.col("chi2_raw")
                    / (F.col("n_total")
                       * F.least(F.col("n_rows_dim") - 1, F.col("n_cols_dim") - 1))
                ),
                6,
            ).alias("cramers_v"),
        )
        .orderBy("o_orderpriority", "o_orderstatus")
    )


@query(
    "q_stats_welch_ttest",
    oracle="""
    WITH s AS (
      SELECT
        CAST(count(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT) AS n_r,
        CAST(count(*) FILTER (WHERE l_returnflag = 'A') AS BIGINT) AS n_a,
        avg(l_extendedprice)      FILTER (WHERE l_returnflag = 'R') AS m_r,
        avg(l_extendedprice)      FILTER (WHERE l_returnflag = 'A') AS m_a,
        var_samp(l_extendedprice) FILTER (WHERE l_returnflag = 'R') AS v_r,
        var_samp(l_extendedprice) FILTER (WHERE l_returnflag = 'A') AS v_a
      FROM lineitem
    )
    SELECT n_r, n_a,
           round(m_r, 6) AS mean_r,
           round(m_a, 6) AS mean_a,
           round(m_r - m_a, 6) AS mean_diff,
           round(sqrt(v_r / n_r + v_a / n_a), 6) AS std_err,
           round((m_r - m_a) / sqrt(v_r / n_r + v_a / n_a), 6) AS t_stat,
           round(pow(v_r / n_r + v_a / n_a, 2)
                 / (pow(v_r / n_r, 2) / (n_r - 1)
                    + pow(v_a / n_a, 2) / (n_a - 1)), 2) AS df_welch,
           round((m_r - m_a)
                 / sqrt(((n_r - 1) * v_r + (n_a - 1) * v_a)
                        / (n_r + n_a - 2)), 6) AS cohens_d
    FROM s
    """,
)
def q_stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t-test (unequal variances) comparing mean
    extended price between returned ('R') and acknowledged ('A') line
    items: the A/B-comparison primitive q_stats_bootstrap_ci answers
    by resampling, answered here in closed form — t statistic,
    Welch–Satterthwaite degrees of freedom, and Cohen's d effect size
    against the pooled standard deviation.

    Scale shape: ONE conditional aggregation pass (count/avg/var_samp
    under ``F.when`` filters — the FILTER-clause idiom) reduces the
    fact table to six scalars; every derived statistic is driver-side
    arithmetic on that one row.  var_samp merges partial
    (n, Σx, Σx²)-style states map-side, so the shuffle is constant
    regardless of SF — the same single-pass shape as q_agg_stats_corr.

    Determinism: means/variances are multi-row float reductions —
    the derived ratios round at 6 dp (df at 2 dp; its magnitude is
    O(n) so finer digits are float-order noise anyway), the counts are
    exact.  The p-value needs the incomplete beta function — same
    deliberate omission as q_stats_chi2_indep, the statistic + df are
    the portable contract.
    """
    li = table(spark, sf_dir, "lineitem")
    p = F.col("l_extendedprice")
    is_r = F.col("l_returnflag") == "R"
    is_a = F.col("l_returnflag") == "A"
    s = li.agg(
        F.count(F.when(is_r, 1)).cast("bigint").alias("n_r"),
        F.count(F.when(is_a, 1)).cast("bigint").alias("n_a"),
        F.avg(F.when(is_r, p)).alias("m_r"),
        F.avg(F.when(is_a, p)).alias("m_a"),
        F.var_samp(F.when(is_r, p)).alias("v_r"),
        F.var_samp(F.when(is_a, p)).alias("v_a"),
    )
    se = F.sqrt(F.col("v_r") / F.col("n_r") + F.col("v_a") / F.col("n_a"))
    df_num = F.pow(F.col("v_r") / F.col("n_r") + F.col("v_a") / F.col("n_a"), F.lit(2))
    df_den = (
        F.pow(F.col("v_r") / F.col("n_r"), F.lit(2)) / (F.col("n_r") - 1)
        + F.pow(F.col("v_a") / F.col("n_a"), F.lit(2)) / (F.col("n_a") - 1)
    )
    pooled_sd = F.sqrt(
        ((F.col("n_r") - 1) * F.col("v_r") + (F.col("n_a") - 1) * F.col("v_a"))
        / (F.col("n_r") + F.col("n_a") - 2)
    )
    return s.select(
        "n_r", "n_a",
        F.round("m_r", 6).alias("mean_r"),
        F.round("m_a", 6).alias("mean_a"),
        F.round(F.col("m_r") - F.col("m_a"), 6).alias("mean_diff"),
        F.round(se, 6).alias("std_err"),
        F.round((F.col("m_r") - F.col("m_a")) / se, 6).alias("t_stat"),
        F.round(df_num / df_den, 2).alias("df_welch"),
        F.round((F.col("m_r") - F.col("m_a")) / pooled_sd, 6).alias("cohens_d"),
    )


@query(
    "q_stats_ks_test",
    oracle="""
    WITH vals AS (
      SELECT l_extendedprice AS v, l_returnflag AS g FROM lineitem
      WHERE l_returnflag IN ('R', 'A')
    ), dist AS (
      SELECT v,
             CAST(count(*) FILTER (WHERE g = 'R') AS BIGINT) AS cr,
             CAST(count(*) FILTER (WHERE g = 'A') AS BIGINT) AS ca
      FROM vals GROUP BY v
    ), tot AS (
      SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ca) AS BIGINT) AS na
      FROM dist
    ), cum AS MATERIALIZED (
      SELECT v,
             floor(abs(CAST(sum(cr) OVER (ORDER BY v) AS DOUBLE) / nr
                       - CAST(sum(ca) OVER (ORDER BY v) AS DOUBLE) / na)
                   * 1000000 + 0.5) / 1000000.0 AS gap,
             nr, na
      FROM dist CROSS JOIN tot
    ), mx AS (SELECT max(gap) AS ks_d FROM cum)
    SELECT ks_d,
           (SELECT min(v) FROM cum WHERE gap = mx.ks_d) AS ks_at,
           (SELECT nr FROM tot) AS n_r,
           (SELECT na FROM tot) AS n_a
    FROM mx
    """,
)
def q_stats_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic comparing the price
    distributions of returned ('R') vs acknowledged ('A') line items:
    D = max |F_R(v) − F_A(v)| over the pooled support, with the value
    where the gap peaks — the NONPARAMETRIC twin of
    q_stats_welch_ttest (which only sees means): KS catches shape
    differences a t-test is blind to.  The p-value (Kolmogorov
    distribution) is the same deliberate omission as the other test
    statistics — D, the location and the sample sizes are the
    portable contract.

    Scale shape: the exact_percentiles discipline — one map-side-
    combined groupBy reduces the corpus to per-DISTINCT-VALUE counts
    for both samples (reduction state |support|, not |rows|), the two
    empirical CDFs are ONE ordered window over that distinct-value
    table (a sort of aggregates, the q_agg_gini trade), and the max
    is a 1-row fold.  Both CDF fractions are integer ratios →
    HALF_UP 6 dp; the argmax breaks ties on the smallest value.
    """
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "A")
    )
    dist = (
        li.groupBy(F.col("l_extendedprice").alias("v"))
        .agg(
            F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("cr"),
            F.count(F.when(F.col("l_returnflag") == "A", 1)).alias("ca"),
        )
    )
    w_all = Window.partitionBy()
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = dist.select(
        "v",
        F.sum("cr").over(w_cum).alias("ccr"),
        F.sum("ca").over(w_cum).alias("cca"),
        F.sum("cr").over(w_all).alias("nr"),
        F.sum("ca").over(w_all).alias("na"),
    ).select(
        "v", "nr", "na",
        round_half_up(
            F.abs(
                F.col("ccr").cast("double") / F.col("nr")
                - F.col("cca").cast("double") / F.col("na")
            ),
            6,
        ).alias("gap"),
    )
    return (
        cum.withColumn("ks_d", F.max("gap").over(w_all))
        .filter(F.col("gap") == F.col("ks_d"))
        .groupBy("ks_d")
        .agg(
            F.min("v").alias("ks_at"),
            F.first("nr").cast("bigint").alias("n_r"),
            F.first("na").cast("bigint").alias("n_a"),
        )
        .select("ks_d", "ks_at", "n_r", "n_a")
    )


@query(
    "q_stats_benford",
    oracle="""
    WITH d AS (
      SELECT CAST(floor(o_totalprice / pow(10, floor(log10(o_totalprice))))
                  AS BIGINT) AS digit
      FROM orders WHERE o_totalprice > 0
    ), c AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit
    ), scored AS (
      SELECT digit, n,
             CAST(n AS DOUBLE) / sum(n) OVER () AS obs_raw,
             ln(1.0 + 1.0 / digit) / ln(10.0) AS exp_raw,
             sum(n) OVER () AS total
      FROM c
    )
    SELECT digit, n,
           floor(obs_raw * 1000000 + 0.5) / 1000000.0 AS observed,
           floor(exp_raw * 1000000 + 0.5) / 1000000.0 AS expected,
           floor(sum(abs(obs_raw - exp_raw)) OVER () / 9.0
                 * 1000000 + 0.5) / 1000000.0 AS mad,
           floor(sum((obs_raw - exp_raw) * (obs_raw - exp_raw) / exp_raw)
                     OVER () * total
                 * 1000000 + 0.5) / 1000000.0 AS chi2_stat
    FROM scored
    ORDER BY digit
    """,
)
def q_stats_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit (Nigrini 2012, the forensic-
    accounting screen): observed vs log10(1+1/d) expected first-digit
    frequencies of order totals, with the mean absolute deviation
    (Nigrini's conformity metric) and the chi-square statistic.  On
    this fixture the audit correctly FLAGS the data: synthetic
    uniform-ish prices are nowhere near Benford (digits 1–4 carry
    ~22% each) — an audit that can't fail its own fixture would be
    decoration.

    Scale shape: first digit is a per-row codegen expression
    (floor(x/10^floor(log10 x))), one map-side-combined 9-cell
    groupBy, windows over the 9-row table.  log10/ln are the only
    libm exposure, absorbed by HALF_UP 6 dp; the digit itself is
    exact (log10 of a positive double and the power round-trip are
    bit-identical in both engines).
    """
    orders = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.floor(
        F.col("o_totalprice")
        / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
    ).cast("bigint")
    c = orders.groupBy(digit.alias("digit")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w_all = Window.partitionBy()
    obs_raw = F.col("n").cast("double") / F.sum("n").over(w_all)
    exp_raw = F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit")) / F.log(F.lit(10.0))
    scored = c.select(
        "digit", "n",
        obs_raw.alias("obs_raw"),
        exp_raw.alias("exp_raw"),
        F.sum("n").over(w_all).alias("total"),
    )
    return (
        scored.select(
            "digit", "n",
            round_half_up(F.col("obs_raw"), 6).alias("observed"),
            round_half_up(F.col("exp_raw"), 6).alias("expected"),
            round_half_up(
                F.sum(F.abs(F.col("obs_raw") - F.col("exp_raw"))).over(w_all)
                / F.lit(9.0),
                6,
            ).alias("mad"),
            round_half_up(
                F.sum(
                    (F.col("obs_raw") - F.col("exp_raw"))
                    * (F.col("obs_raw") - F.col("exp_raw"))
                    / F.col("exp_raw")
                ).over(w_all)
                * F.col("total"),
                6,
            ).alias("chi2_stat"),
        )
        .orderBy("digit")
    )


@query(
    "q_sample_balanced",
    oracle="""
    WITH sizes AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_class
      FROM documents GROUP BY lang
    ), m AS (SELECT min(n_class) AS m FROM sizes),
    ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (
                 PARTITION BY lang
                 ORDER BY md5(CAST(doc_id AS VARCHAR) || '|bal'), doc_id
             ) AS rk
      FROM documents
    )
    SELECT r.lang, r.doc_id
    FROM ranked r CROSS JOIN m
    WHERE r.rk <= m.m
    ORDER BY r.lang, r.doc_id
    """,
)
def q_sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every language keeps exactly
    min-class-size documents (the 3×-dominant 'en' is cut to the 'fr'
    floor) — the data-mixture rebalancing step training pipelines run
    when a dominant source would swamp the loss, and the EQUAL-COUNT
    complement to q_sample_stratified's fixed-rate strata.

    Determinism (the whole point at 1000 executors): membership is a
    per-class rank over md5(doc_id||salt) — a seeded shuffle both
    engines replay bit-identically, so the sample is stable across
    retries, re-runs and engines; ties cannot exist (doc_id is
    unique) but the trailing doc_id key makes the order total anyway.

    Scale shape: one map-side-combined class-size aggregate, its min
    as a 1-row broadcast, one per-class rank window (the
    q_window_topk_pergroup shuffle shape — per-class top-m is a heap
    per partition at real scale), membership filter inline.  Output
    is m×|classes| rows — the sample itself.
    """
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    sizes = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_class"))
    m = sizes.agg(F.min("n_class").alias("m"))
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|bal"))), "doc_id"
    )
    ranked = docs.withColumn("rk", F.row_number().over(w))
    return (
        ranked.crossJoin(F.broadcast(m))
        .filter(F.col("rk") <= F.col("m"))
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    )


@query(
    "q_stats_mann_whitney",
    oracle="""
    WITH vals AS (
      SELECT l_extendedprice AS v, l_returnflag AS g FROM lineitem
      WHERE l_returnflag IN ('R', 'A')
    ), dist AS (
      SELECT v,
             CAST(count(*) FILTER (WHERE g = 'R') AS BIGINT) AS cr,
             CAST(count(*) AS BIGINT) AS ct
      FROM vals GROUP BY v
    ), ranked AS (
      SELECT v, cr, ct,
             sum(ct) OVER (ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - ct AS cum_prev
      FROM dist
    ), agg AS (
      SELECT sum(cr * (cum_prev + (ct + 1.0) / 2.0)) AS r1,
             CAST(sum(cr) AS BIGINT) AS n1,
             CAST(sum(ct - cr) AS BIGINT) AS n2,
             CAST(sum(ct) AS BIGINT) AS n,
             sum(CAST(ct AS DOUBLE) * ct * ct - ct) AS tie_term
      FROM ranked
    )
    SELECT n1, n2,
           floor((n1 * CAST(n2 AS DOUBLE) + n1 * (n1 + 1.0) / 2.0 - r1)
                 * 1000000 + 0.5) / 1000000.0 AS u_stat,
           floor((n1 * CAST(n2 AS DOUBLE) / 2.0) * 1000000 + 0.5) / 1000000.0
               AS u_mean,
           floor(((n1 * CAST(n2 AS DOUBLE) + n1 * (n1 + 1.0) / 2.0 - r1)
                  - n1 * CAST(n2 AS DOUBLE) / 2.0)
                 / sqrt(n1 * CAST(n2 AS DOUBLE) / 12.0
                        * ((n + 1.0)
                           - tie_term / (CAST(n AS DOUBLE) * (n - 1.0))))
                 * 1000000 + 0.5) / 1000000.0 AS z_stat
    FROM agg
    """,
)
def q_stats_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) comparing returned vs
    acknowledged prices — the RANKS-based member of the two-sample
    family (Welch = means, KS = distribution shape, U = stochastic
    dominance), robust to outliers a t-test chases.  Midranks handle
    ties exactly, the normal approximation carries the standard tie-
    corrected variance n1·n2/12·((n+1) − Σ(t³−t)/(n(n−1))), and the
    fixture cross-validates the family: z = −0.58 here against
    Welch's t = +0.58 on the same comparison (sign flips because U
    counts wins of the OTHER sample).

    Scale shape: the exact_percentiles discipline again — one map-
    side-combined reduction to per-DISTINCT-VALUE counts, ONE ordered
    cumulative window over the support-sized table (midrank =
    preceding count + (t+1)/2 — never a row-level rank of the
    corpus), and a 1-row fold.  Every intermediate (midranks are
    exact dyadic halves, rank sums ≪ 2^52, tie cubes ≪ 2^53) is
    EXACT in double, so u_stat is bit-identical before rounding and
    only z's sqrt touches libm.
    """
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "A")
    )
    dist = (
        li.groupBy(F.col("l_extendedprice").alias("v"))
        .agg(
            F.count(F.when(F.col("l_returnflag") == "R", 1))
            .cast("bigint").alias("cr"),
            F.count(F.lit(1)).cast("bigint").alias("ct"),
        )
    )
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    ranked = dist.select(
        "cr", "ct",
        (F.sum("ct").over(w_cum) - F.col("ct")).alias("cum_prev"),
    )
    agg = ranked.agg(
        F.sum(F.col("cr") * (F.col("cum_prev") + (F.col("ct") + 1.0) / 2.0))
        .alias("r1"),
        F.sum("cr").cast("bigint").alias("n1"),
        F.sum(F.col("ct") - F.col("cr")).cast("bigint").alias("n2"),
        F.sum("ct").cast("bigint").alias("n"),
        F.sum(F.col("ct").cast("double") * F.col("ct") * F.col("ct") - F.col("ct"))
        .alias("tie_term"),
    )
    u = (
        F.col("n1") * F.col("n2").cast("double")
        + F.col("n1") * (F.col("n1") + 1.0) / 2.0
        - F.col("r1")
    )
    u_mean = F.col("n1") * F.col("n2").cast("double") / 2.0
    sd = F.sqrt(
        F.col("n1") * F.col("n2").cast("double") / 12.0
        * (
            (F.col("n") + 1.0)
            - F.col("tie_term") / (F.col("n").cast("double") * (F.col("n") - 1.0))
        )
    )
    return agg.select(
        "n1", "n2",
        round_half_up(u, 6).alias("u_stat"),
        round_half_up(u_mean, 6).alias("u_mean"),
        round_half_up((u - u_mean) / sd, 6).alias("z_stat"),
    )


def _tail_cut_histogram(li: DataFrame) -> DataFrame:
    """Shared stage of q_agg_trimmed_mean / q_agg_winsorized_mean
    (extracted in round 12 — the two carried byte-identical copies):
    the per-(l_returnflag, l_extendedprice) count histogram with
    per-group cumulative counts and the interval-arithmetic kept
    weight for a g = ⌊n/20⌋ two-sided tail cut.

    Exactness without sorting rows: on the per-DISTINCT-VALUE
    histogram (the exact_percentiles discipline), the kept weight of
    a value group is pure interval arithmetic —
    max(0, min(cum, n−g) − max(cum_prev, g)) — so tail groups
    STRADDLING the cut contribute exactly their inside portion, all
    in BIGINTs.

    Scale shape: one map-side-combined (flag, value) reduction + one
    per-group cumulative window over the support-sized table — the
    q_agg_percentile plan with a weights twist; skewed raw rows never
    shuffle, only the distinct-value histogram does.

    Columns: flag, v, ct, cum, n, g, kept.
    """
    dist = (
        li.groupBy(F.col("l_returnflag").alias("flag"),
                   F.col("l_extendedprice").alias("v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("ct"))
    )
    w_cum = Window.partitionBy("flag").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy("flag")
    ranked = dist.select(
        "flag", "v", "ct",
        F.sum("ct").over(w_cum).alias("cum"),
        F.sum("ct").over(w_all).alias("n"),
    )
    g = F.floor(F.col("n") / 20).cast("bigint")
    kept = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(F.col("cum"), F.col("n") - g)
        - F.greatest(F.col("cum") - F.col("ct"), g),
    )
    return ranked.select(
        "flag", "v", "ct", "cum", "n", g.alias("g"), kept.alias("kept")
    )


@query(
    "q_agg_trimmed_mean",
    oracle="""
    WITH dist AS (
      SELECT l_returnflag AS flag, l_extendedprice AS v,
             CAST(count(*) AS BIGINT) AS ct
      FROM lineitem GROUP BY 1, 2
    ), ranked AS (
      SELECT flag, v, ct,
             sum(ct) OVER (PARTITION BY flag ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cum,
             sum(ct) OVER (PARTITION BY flag) AS n
      FROM dist
    ), cut AS (
      SELECT flag, v, ct, cum, n, n // 20 AS g,
             greatest(CAST(0 AS BIGINT),
                      least(cum, n - n // 20)
                      - greatest(cum - ct, n // 20)) AS kept
      FROM ranked
    )
    SELECT flag,
           CAST(max(n) AS BIGINT) AS n_rows,
           CAST(max(g) AS BIGINT) AS n_cut_each_side,
           floor(sum(v * kept) / (max(n) - 2.0 * max(g)) * 1000000 + 0.5)
               / 1000000.0 AS trimmed_mean,
           floor(sum(v * ct) / max(n) * 1000000 + 0.5) / 1000000.0
               AS plain_mean
    FROM cut GROUP BY flag ORDER BY flag
    """,
)
def q_agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5%-trimmed mean per group (the scipy ``trim_mean``
    convention: drop g = ⌊0.05·n⌋ rows from each tail, average the
    rest), reported beside the plain mean — the robust location
    estimator between mean (outlier-chasing) and median (discards
    almost everything), the one winsorized-metrics dashboards run.

    Histogram + kept-weight machinery: ``_tail_cut_histogram``.
    Σ v·kept multiplies exact 2-dp money by integers (≪ 2^53, exact
    in double), so the only rounding is the final dyadic-decimal
    ratio → HALF_UP 6 dp.
    """
    cut = _tail_cut_histogram(table(spark, sf_dir, "lineitem"))
    return (
        cut.groupBy("flag")
        .agg(
            F.max("n").cast("bigint").alias("n_rows"),
            F.max("g").cast("bigint").alias("n_cut_each_side"),
            round_half_up(
                F.sum(F.col("v") * F.col("kept"))
                / (F.max("n") - 2.0 * F.max("g")),
                6,
            ).alias("trimmed_mean"),
            round_half_up(
                F.sum(F.col("v") * F.col("ct")) / F.max("n"), 6
            ).alias("plain_mean"),
        )
        .orderBy("flag")
    )


@query(
    "q_stats_anova_oneway",
    oracle="""
    WITH g AS (
      SELECT l_returnflag AS flag,
             CAST(count(*) AS BIGINT) AS n_i,
             avg(l_extendedprice) AS m_i,
             var_samp(l_extendedprice) AS v_i
      FROM lineitem GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(n_i) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS k,
             sum(n_i * m_i) / sum(n_i) AS grand_mean
      FROM g
    )
    SELECT k, n,
           floor(sum(n_i * (m_i - grand_mean) * (m_i - grand_mean)) / (k - 1)
                 / (sum((n_i - 1) * v_i) / (n - k))
                 * 1000000 + 0.5) / 1000000.0 AS f_stat,
           floor(sum(n_i * (m_i - grand_mean) * (m_i - grand_mean))
                 / (sum(n_i * (m_i - grand_mean) * (m_i - grand_mean))
                    + sum((n_i - 1) * v_i))
                 * 1000000 + 0.5) / 1000000.0 AS eta_squared
    FROM g CROSS JOIN tot GROUP BY k, n
    """,
)
def q_stats_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F across ALL return-flag groups — the k-sample
    generalization closing the test family (two-sample: Welch / KS /
    Mann–Whitney; k-sample: this), with η² effect size (SSB/SST).
    F = MSB/MSW assembles entirely from per-group (n, mean, var) —
    so the statistic costs ONE map-side-combined aggregation pass
    over the fact table and a k-row fold; no second pass, no
    residual materialization (the textbook sum-over-rows form is a
    needless extra scan).

    Determinism: group means/vars are multi-row reductions consumed
    UNROUNDED inside one mirrored expression tree (per-engine float
    noise ~1e-12 against an F of O(1)), final statistics HALF_UP
    6 dp; counts exact.  The grand mean is the n-weighted group-mean
    combination — algebraically the global mean, computed without
    touching rows twice.
    """
    li = table(spark, sf_dir, "lineitem")
    g = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i"),
        F.avg("l_extendedprice").alias("m_i"),
        F.var_samp("l_extendedprice").alias("v_i"),
    )
    tot = g.agg(
        F.sum("n_i").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        (F.sum(F.col("n_i") * F.col("m_i")) / F.sum("n_i")).alias("grand_mean"),
    )
    dev = F.col("m_i") - F.col("grand_mean")
    ssb = F.sum(F.col("n_i") * dev * dev)
    ssw = F.sum((F.col("n_i") - 1) * F.col("v_i"))
    return (
        g.crossJoin(F.broadcast(tot))
        .groupBy("k", "n")
        .agg(
            round_half_up(
                (ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k"))), 6
            ).alias("f_stat"),
            round_half_up(ssb / (ssb + ssw), 6).alias("eta_squared"),
        )
        .select("k", "n", "f_stat", "eta_squared")
    )


@query(
    "q_stats_proportion_ztest",
    oracle="""
    WITH assigned AS (
      -- ((x % 2) + 2) % 2 mirrors Spark's pmod for negative ids
      -- (DuckDB's % keeps the dividend's sign, which would drop
      -- negative-id rows from BOTH cohorts while Spark's pmod puts
      -- them in cohort 1 — latent on the non-negative fixture ids,
      -- divergent on any other dataset; round-11 self-review).
      SELECT ((user_id % 2) + 2) % 2 AS cohort,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
      FROM events
    ), s AS (
      SELECT CAST(count(*) FILTER (WHERE cohort = 0) AS BIGINT) AS n_a,
             CAST(count(*) FILTER (WHERE cohort = 1) AS BIGINT) AS n_b,
             CAST(sum(conv) FILTER (WHERE cohort = 0) AS BIGINT) AS x_a,
             CAST(sum(conv) FILTER (WHERE cohort = 1) AS BIGINT) AS x_b
      FROM assigned
    )
    SELECT n_a, n_b, x_a, x_b,
           floor(CAST(x_a AS DOUBLE) / n_a * 1000000 + 0.5) / 1000000.0
               AS rate_a,
           floor(CAST(x_b AS DOUBLE) / n_b * 1000000 + 0.5) / 1000000.0
               AS rate_b,
           floor((CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)
                 / sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b))
                 * 1000000 + 0.5) / 1000000.0 AS z_stat
    FROM s
    """,
)
def q_stats_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test (pooled variance) on conversion rates
    between two user cohorts (id parity = the deterministic A/B
    split q_split_assign formalizes) — the RATE test, which is what
    most production A/B decisions actually are (means: Welch; ranks:
    Mann–Whitney; shape: KS; k groups: ANOVA; rates: this).  On this
    fixture z = −2.22: cohort B converts visibly more, a genuine
    property of the synthetic draw that the test surfaces — and the
    cross-check that a "significant" result on RANDOM assignment of
    the same events is exactly the 5%-level false-positive behaviour
    an experimenter must expect.

    Shape: one conditional-aggregation scan to four BIGINTs; every
    statistic is a ratio of exact integers through one mirrored
    expression tree → HALF_UP 6 dp (sqrt is the only libm call).
    """
    ev = table(spark, sf_dir, "events")
    is_a = F.pmod(F.col("user_id"), F.lit(2)) == 0
    conv = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    s = ev.agg(
        F.count(F.when(is_a, 1)).cast("bigint").alias("n_a"),
        F.count(F.when(~is_a, 1)).cast("bigint").alias("n_b"),
        F.sum(F.when(is_a, conv)).cast("bigint").alias("x_a"),
        F.sum(F.when(~is_a, conv)).cast("bigint").alias("x_b"),
    )
    ra = F.col("x_a").cast("double") / F.col("n_a")
    rb = F.col("x_b").cast("double") / F.col("n_b")
    pp = (F.col("x_a") + F.col("x_b")).cast("double") / (F.col("n_a") + F.col("n_b"))
    z = (ra - rb) / F.sqrt(
        pp * (F.lit(1.0) - pp)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    return s.select(
        "n_a", "n_b", "x_a", "x_b",
        round_half_up(ra, 6).alias("rate_a"),
        round_half_up(rb, 6).alias("rate_b"),
        round_half_up(z, 6).alias("z_stat"),
    )


@query(
    "q_stats_theil_sen",
    oracle="""
    WITH m AS (
        SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS x,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                   / (CAST(100 AS DOUBLE) * count(*)) AS y
        FROM orders
        GROUP BY 1
    ),
    slopes AS (
        SELECT (b.y - a.y) / (b.x - a.x) AS s
        FROM m a JOIN m b ON a.x < b.x
    ),
    ranked AS (
        SELECT s,
               row_number() OVER (ORDER BY s) AS rn,
               count(*) OVER () AS np
        FROM slopes
    ),
    ts AS (
        SELECT CAST(max(np) AS BIGINT) AS n_pairs,
               avg(CASE WHEN (np % 2 = 1 AND rn = (np + 1) // 2)
                          OR (np % 2 = 0 AND rn IN (np // 2, np // 2 + 1))
                        THEN s END) AS med
        FROM ranked
    ),
    ols AS (
        SELECT CAST(count(*) AS BIGINT) AS n_months,
               (count(*) * sum(CAST(x AS DOUBLE) * y)
                - sum(CAST(x AS DOUBLE)) * sum(y))
               / (count(*) * sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                  - sum(CAST(x AS DOUBLE)) * sum(CAST(x AS DOUBLE))) AS b1
        FROM m
    )
    SELECT ols.n_months, ts.n_pairs,
           floor(ts.med * 1000000 + 0.5) / 1000000.0 AS theil_sen_slope,
           floor(ols.b1 * 1000000 + 0.5) / 1000000.0 AS ols_slope
    FROM ts, ols
    """,
)
def q_stats_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend estimator over the monthly mean order
    value — the median of all pairwise slopes, the breakdown-point-29%
    alternative the OLS slope (emitted beside it) lacks: one viral
    month shifts OLS but not the pairwise median.  Monthly means are
    exact integer-cents ratios, so every pairwise slope is the same
    IEEE double in both engines and the median (explicit middle /
    mean-of-middles on row_number, not an engine's interpolating
    median()) is deterministic; only the OLS moment sums need the
    multi-row HALF_UP.

    Scale shape: the pair expansion is over the AGGREGATED series
    (84 months → 3.5k pairs), never over raw orders — the production
    form of Theil–Sen at 100 TB is exactly this: reduce to the
    grain you want the trend at, then pay quadratic only in grain
    points.  The monthly reduce is one map-side-combined groupBy.
    """
    o = table(spark, sf_dir, "orders")
    m = (
        o.groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("long")
            .alias("x")
        )
        .agg(
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                .cast("double")
                / (F.lit(100.0) * F.count(F.lit(1)))
            ).alias("y")
        )
    )
    a = m.select(F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = m.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    slopes = a.join(b, F.col("xa") < F.col("xb")).select(
        ((F.col("yb") - F.col("ya")) / (F.col("xb") - F.col("xa"))).alias("s")
    )
    ranked = slopes.select(
        "s",
        F.row_number().over(Window.orderBy("s")).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("np"),
    )
    med = (
        ranked.select(
            "np",
            F.when(
                F.col("np") % 2 == 1,
                F.when(F.col("rn") == (F.col("np") + 1) / 2, F.col("s")),
            )
            .otherwise(
                F.when(
                    (F.col("rn") == F.floor(F.col("np") / 2))
                    | (F.col("rn") == F.floor(F.col("np") / 2) + 1),
                    F.col("s"),
                )
            )
            .alias("mid"),
        )
        .groupBy("np")
        .agg(F.avg("mid").alias("med"))
    )
    xd = F.col("x").cast("double")
    ols = m.agg(
        F.count(F.lit(1)).cast("long").alias("n_months"),
        (
            (
                F.count(F.lit(1)) * F.sum(xd * F.col("y"))
                - F.sum(xd) * F.sum("y")
            )
            / (
                F.count(F.lit(1)) * F.sum(xd * xd)
                - F.sum(xd) * F.sum(xd)
            )
        ).alias("b1"),
    )
    return med.crossJoin(F.broadcast(ols)).select(
        "n_months",
        F.col("np").cast("long").alias("n_pairs"),
        round_half_up(F.col("med"), 6).alias("theil_sen_slope"),
        round_half_up(F.col("b1"), 6).alias("ols_slope"),
    )


@query(
    "q_agg_winsorized_mean",
    oracle="""
    WITH dist AS (
      SELECT l_returnflag AS flag, l_extendedprice AS v,
             CAST(count(*) AS BIGINT) AS ct
      FROM lineitem GROUP BY 1, 2
    ), ranked AS (
      SELECT flag, v, ct,
             sum(ct) OVER (PARTITION BY flag ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cum,
             sum(ct) OVER (PARTITION BY flag) AS n
      FROM dist
    ), cut AS (
      SELECT flag, v, ct, cum, n, n // 20 AS g,
             greatest(CAST(0 AS BIGINT),
                      least(cum, n - n // 20)
                      - greatest(cum - ct, n // 20)) AS kept
      FROM ranked
    )
    SELECT flag,
           CAST(max(n) AS BIGINT) AS n_rows,
           CAST(max(g) AS BIGINT) AS n_clamped_each_side,
           min(CASE WHEN cum >= g + 1 THEN v END) AS clamp_low,
           min(CASE WHEN cum >= n - g THEN v END) AS clamp_high,
           floor((sum(v * kept)
                  + max(g) * (min(CASE WHEN cum >= g + 1 THEN v END)
                              + min(CASE WHEN cum >= n - g THEN v END)))
                 / max(n) * 1000000 + 0.5) / 1000000.0 AS winsorized_mean,
           floor(sum(v * ct) / max(n) * 1000000 + 0.5) / 1000000.0
               AS plain_mean
    FROM cut GROUP BY flag ORDER BY flag
    """,
)
def q_agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5%-winsorized mean per group — the CLAMP counterpart of
    q_agg_trimmed_mean (trim DROPS the g tail rows; winsorize pins
    them to the tail order statistics x₍g₊₁₎ / x₍n₋g₎, keeping n
    constant — the robust-metrics dashboards' usual choice because
    group means stay comparable across groups of different sizes).
    Emits the clamp values themselves, so the tail order statistics
    are hash-checked alongside the mean.

    Same exactness-without-sorting-rows machinery as the trimmed
    twin (``_tail_cut_histogram``): interior kept-weights by interval
    arithmetic on the per-distinct-value histogram, and the two clamp
    values as conditional mins over the cumulative frame (cum is
    monotone in v, so min v with cum ≥ r IS the r-th order
    statistic).  All integer arithmetic until the single HALF_UP
    ratio.
    """
    cut = _tail_cut_histogram(table(spark, sf_dir, "lineitem"))
    clamp_low = F.min(F.when(F.col("cum") >= F.col("g") + 1, F.col("v")))
    clamp_high = F.min(F.when(F.col("cum") >= F.col("n") - F.col("g"), F.col("v")))
    return (
        cut.groupBy("flag")
        .agg(
            F.max("n").cast("bigint").alias("n_rows"),
            F.max("g").cast("bigint").alias("n_clamped_each_side"),
            clamp_low.alias("clamp_low"),
            clamp_high.alias("clamp_high"),
            round_half_up(
                (
                    F.sum(F.col("v") * F.col("kept"))
                    + F.max("g") * (clamp_low + clamp_high)
                )
                / F.max("n"),
                6,
            ).alias("winsorized_mean"),
            round_half_up(
                F.sum(F.col("v") * F.col("ct")) / F.max("n"), 6
            ).alias("plain_mean"),
        )
        .orderBy("flag")
    )


#: Temperature-sampling exponent (Lample & Conneau 2019, XLM — the
#: multilingual rebalancing default every multilingual LLM data stack
#: uses) .
_TEMP_ALPHA = 0.7


def _temperature_policy_base(docs: DataFrame) -> DataFrame:
    """Shared policy core of q_sample_temperature (the planning
    table) and q_sample_temperature_apply (the exact-count row
    selection) — extracted in round 12, the two carried identical
    copies: per-lang counts, the corpus total as a broadcast scalar,
    the unnormalized temperature score sc = (n_docs/N)^α, and the
    9-dp-rounded partition function zsum broadcast back onto every
    row.  Everything downstream (shares, quotas, epochs) is a
    projection over the returned |langs|-row frame.

    Columns: lang, n_docs, n, sc, zsum.
    """
    counts = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    tot = counts.agg(F.sum("n_docs").cast("long").alias("n"))
    s = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n",
        F.pow(F.col("n_docs").cast("double") / F.col("n"), _TEMP_ALPHA).alias("sc"),
    )
    z = s.agg(F.round(F.sum("sc"), 9).alias("zsum"))
    return s.crossJoin(F.broadcast(z))


@query(
    "q_sample_temperature",
    oracle=f"""
    WITH counts AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM counts),
    s AS (
        SELECT lang, n_docs,
               pow(CAST(n_docs AS DOUBLE) / tot.n, {_TEMP_ALPHA}) AS sc
        FROM counts, tot
    ),
    z AS (SELECT round(sum(sc), 9) AS zsum FROM s)
    SELECT s.lang, s.n_docs,
           floor(CAST(s.n_docs AS DOUBLE) / tot.n * 1000000 + 0.5)
               / 1000000.0 AS p,
           round(s.sc / z.zsum, 6) AS q_temp,
           CAST(floor(round(s.sc / z.zsum, 6) * tot.n + 0.5) AS BIGINT)
               AS target_n,
           floor(floor(round(s.sc / z.zsum, 6) * tot.n + 0.5)
                 / s.n_docs * 1000000 + 0.5) / 1000000.0 AS epochs
    FROM s, z, tot
    ORDER BY lang
    """,
)
def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture quotas (α = _TEMP_ALPHA = 0.7, the
    Lample & Conneau 2019 multilingual default) — the sampling POLICY
    table of training-data assembly: per language, the natural share
    p = n/N, the temperature share q ∝ p^α (flattens the head,
    boosts the tail), the integer document quota at corpus size N,
    and the epoch factor quota/n (> 1 ⇒ the shard repeats — the
    up-sampling multilingual training actually does).
    q_sample_mixture is this policy's α = 0 extreme (uniform), made
    concrete as row selection; this operator emits the general-α
    planning artifact a scheduler feeds to per-shard samplers.

    One tiny aggregation (|langs| rows) + scalar broadcasts — the
    corpus is touched once for counts regardless of size.
    Cross-engine FP: the partition function Σ p^α is a multi-row
    float sum → rounded 9 dp in both dialects; shares at 6 dp; the
    quota is floor(q·N + ½) of the ROUNDED share so both engines
    round identical doubles; p and epochs are exact-integer ratios →
    HALF_UP 6 dp.
    """
    q_temp = F.round(F.col("sc") / F.col("zsum"), 6)
    target_n = F.floor(q_temp * F.col("n") + F.lit(0.5)).cast("long")
    return (
        _temperature_policy_base(table(spark, sf_dir, "documents"))
        .select(
            "lang",
            "n_docs",
            round_half_up(F.col("n_docs").cast("double") / F.col("n"), 6).alias("p"),
            q_temp.alias("q_temp"),
            target_n.alias("target_n"),
            round_half_up(
                target_n.cast("double") / F.col("n_docs"), 6
            ).alias("epochs"),
        )
        .orderBy("lang")
    )


@query(
    "q_stats_spearman",
    oracle="""
    WITH v AS (
        SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem
    ),
    r AS (
        SELECT x, y,
               rank() OVER (ORDER BY x) + (count(*) OVER (PARTITION BY x) - 1)
                   / CAST(2 AS DOUBLE) AS rx,
               rank() OVER (ORDER BY y) + (count(*) OVER (PARTITION BY y) - 1)
                   / CAST(2 AS DOUBLE) AS ry
        FROM v
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(corr(rx, ry), 6) AS spearman_rho,
           round(corr(x, y), 6) AS pearson_r
    FROM r
    """,
)
def q_stats_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (with the textbook average-rank tie
    correction: min-rank + (ties−1)/2) between quantity and extended
    price over lineitem, beside the Pearson r on the raw values —
    the robust monotone-association member of the stats family
    (Pearson: q_agg_stats_corr; both emitted here so the rank-vs-raw
    gap is the one-row answer to "is the relation monotone but
    non-linear?").

    Shape: the exact_percentiles/mann_whitney discipline — NEVER a
    row-level rank of the corpus (a no-partition rank window funnels
    every row into one task: measured 6.4× at a 10× probe before
    this form).  Per-axis midranks come from one map-side-combined
    reduction to per-DISTINCT-VALUE counts plus ONE ordered
    cumulative window over the support-sized table (midrank =
    preceding count + (t+1)/2), joined back to the row stream by
    value — two value-keyed shuffles the optimizer can broadcast
    when the support is small (quantity: 50 values).  Midranks are
    exact dyadic halves → the join carries exact doubles; corr over
    them is a multi-row float reduction → rounded 6 dp in both
    dialects.
    """
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("y")
    )

    def midranks(col: str, out: str) -> DataFrame:
        dist = li.groupBy(col).agg(F.count(F.lit(1)).cast("long").alias("ct"))
        w_cum = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, 0)
        return dist.select(
            col,
            (
                (F.sum("ct").over(w_cum) - F.col("ct"))
                + (F.col("ct") + 1.0) / 2.0
            ).alias(out),
        )

    r = li.join(midranks("x", "rx"), "x").join(midranks("y", "ry"), "y")
    return r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.corr("rx", "ry"), 6).alias("spearman_rho"),
        F.round(F.corr("x", "y"), 6).alias("pearson_r"),
    )


@query(
    "q_stats_kendall_tau",
    oracle="""
    WITH cells AS (
        SELECT l_quantity AS x, l_discount AS y,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem GROUP BY x, y
    ),
    pairs AS (
        SELECT
            CAST(sum(CASE WHEN b.x > a.x AND b.y > a.y
                          THEN a.n * b.n ELSE 0 END) AS BIGINT) AS conc,
            CAST(sum(CASE WHEN b.x > a.x AND b.y < a.y
                          THEN a.n * b.n ELSE 0 END) AS BIGINT) AS disc
        FROM cells a JOIN cells b
          ON (b.x > a.x) OR (b.x = a.x AND b.y > a.y)
    ),
    marg AS (
        SELECT CAST(sum(n) AS BIGINT) AS n_total,
               CAST(sum(n) * (sum(n) - 1) / 2 AS BIGINT) AS n0,
               CAST((SELECT sum(tn * (tn - 1) / 2)
                     FROM (SELECT sum(n) AS tn FROM cells GROUP BY x))
                    AS BIGINT) AS n1,
               CAST((SELECT sum(tn * (tn - 1) / 2)
                     FROM (SELECT sum(n) AS tn FROM cells GROUP BY y))
                    AS BIGINT) AS n2
        FROM cells
    )
    SELECT m.n_total AS n, m.n0, m.n1, m.n2, p.conc, p.disc,
           round((CAST(p.conc AS DOUBLE) - p.disc)
                 / sqrt(CAST(m.n0 - m.n1 AS DOUBLE) * (m.n0 - m.n2)), 6)
               AS tau_b
    FROM pairs p, marg m
    """,
)
def q_stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ-b (tie-corrected) between quantity and discount over
    lineitem — the third rank-association statistic beside Spearman ρ
    and Pearson r, computed the only way that survives 100 TB: from
    the JOINT CONTINGENCY TABLE of distinct value pairs (50 × 11
    cells on this schema), never from the Θ(n²) row-pair space.
    Concordant/discordant mass is Σ n_i·n_j over ordered cell pairs
    — a support²-sized join (≤ 302 k rows here, constant in the row
    count); tie corrections n₁/n₂ come from the cell marginals.

    Every intermediate is an exact integer (products ≤ n² < 2⁵³ —
    exact in BIGINT and in the final double conversion); only the
    closing sqrt touches libm → τ rounded 6 dp in both dialects.
    τ-b = (C − D)/√((n₀ − n₁)(n₀ − n₂)) with n₀ = C(n,2).
    """
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("x"), F.col("l_discount").alias("y")
    )
    cells = li.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).transform(materialize)
    a, b = cells.alias("a"), cells.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("b.x") > F.col("a.x"))
            | ((F.col("b.x") == F.col("a.x")) & (F.col("b.y") > F.col("a.y"))),
        )
        .agg(
            F.sum(
                F.when(
                    (F.col("b.x") > F.col("a.x")) & (F.col("b.y") > F.col("a.y")),
                    F.col("a.n") * F.col("b.n"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("conc"),
            F.sum(
                F.when(
                    (F.col("b.x") > F.col("a.x")) & (F.col("b.y") < F.col("a.y")),
                    F.col("a.n") * F.col("b.n"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("disc"),
        )
    )
    tx = (
        cells.groupBy("x")
        .agg(F.sum("n").alias("tn"))
        .agg(F.sum(F.col("tn") * (F.col("tn") - 1) / 2).cast("long").alias("n1"))
    )
    ty = (
        cells.groupBy("y")
        .agg(F.sum("n").alias("tn"))
        .agg(F.sum(F.col("tn") * (F.col("tn") - 1) / 2).cast("long").alias("n2"))
    )
    tot = cells.agg(
        F.sum("n").cast("long").alias("n"),
        (F.sum("n") * (F.sum("n") - 1) / 2).cast("long").alias("n0"),
    )
    tau = F.round(
        (F.col("conc").cast("double") - F.col("disc"))
        / F.sqrt(
            (F.col("n0") - F.col("n1")).cast("double") * (F.col("n0") - F.col("n2"))
        ),
        6,
    )
    return (
        tot.crossJoin(pairs)
        .crossJoin(tx)
        .crossJoin(ty)
        .select("n", "n0", "n1", "n2", "conc", "disc", tau.alias("tau_b"))
    )


@query(
    "q_stats_ols2",
    oracle="""
    WITH v AS (
        SELECT l_quantity AS x1, l_discount AS x2, l_extendedprice AS y
        FROM lineitem
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               round(sum(x1), 6) AS s1, round(sum(x2), 6) AS s2,
               round(sum(y), 6) AS sy,
               round(sum(x1 * x1), 6) AS s11, round(sum(x2 * x2), 6) AS s22,
               round(sum(x1 * x2), 6) AS s12,
               round(sum(x1 * y), 6) AS s1y, round(sum(x2 * y), 6) AS s2y,
               round(sum(y * y), 6) AS syy
        FROM v
    ),
    c AS (
        SELECT n, sy, syy,
               s11 - s1 * s1 / n AS a11, s12 - s1 * s2 / n AS a12,
               s22 - s2 * s2 / n AS a22,
               s1y - s1 * sy / n AS b1v, s2y - s2 * sy / n AS b2v,
               s1 / CAST(n AS DOUBLE) AS m1, s2 / CAST(n AS DOUBLE) AS m2,
               sy / CAST(n AS DOUBLE) AS my
        FROM s
    ),
    f AS (
        SELECT n,
               round((b1v * a22 - b2v * a12) / (a11 * a22 - a12 * a12), 9)
                   AS b1,
               round((b2v * a11 - b1v * a12) / (a11 * a22 - a12 * a12), 9)
                   AS b2,
               m1, m2, my, b1v, b2v, syy, sy
        FROM c
    )
    SELECT n,
           round(my - b1 * m1 - b2 * m2, 6) AS b0,
           round(b1, 6) AS beta1, round(b2, 6) AS beta2,
           round((b1 * b1v + b2 * b2v) / (syy - sy * sy / n), 6) AS r2
    FROM f
    """,
)
def q_stats_ols2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-regressor OLS in closed form — extended price regressed on
    quantity and discount via the centered normal equations (Cramer
    on the 2×2 scatter matrix), with R² = explained/total sum of
    squares from the same moments.  The multivariate member of the
    stats family (the bivariate slope/intercept aggregates are §2.3;
    this is the smallest genuinely multi-feature fit, and the shape —
    ONE pass of second-order moments, algebra on a 1-row table — is
    exactly how a distributed OLS of any small width runs at 100 TB:
    p² moment sums, never a row-level matrix).

    Cross-engine FP: all nine moment sums are multi-row float
    reductions, rounded 6 dp in both dialects — at their O(n · x²)
    magnitudes that rounding is sub-ulp (a no-op), so the real
    protection is the corr/stddev precedent: summation-order noise is
    O(ulp) RELATIVE, carries through the per-row algebra at the same
    relative size, and is absorbed by the 9 dp coefficient / 6 dp
    output rounding except on measure-zero boundaries.
    """
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("x1"),
        F.col("l_discount").alias("x2"),
        F.col("l_extendedprice").alias("y"),
    )
    s = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("x1"), 6).alias("s1"),
        F.round(F.sum("x2"), 6).alias("s2"),
        F.round(F.sum("y"), 6).alias("sy"),
        F.round(F.sum(F.col("x1") * F.col("x1")), 6).alias("s11"),
        F.round(F.sum(F.col("x2") * F.col("x2")), 6).alias("s22"),
        F.round(F.sum(F.col("x1") * F.col("x2")), 6).alias("s12"),
        F.round(F.sum(F.col("x1") * F.col("y")), 6).alias("s1y"),
        F.round(F.sum(F.col("x2") * F.col("y")), 6).alias("s2y"),
        F.round(F.sum(F.col("y") * F.col("y")), 6).alias("syy"),
    )
    a11 = F.col("s11") - F.col("s1") * F.col("s1") / F.col("n")
    a12 = F.col("s12") - F.col("s1") * F.col("s2") / F.col("n")
    a22 = F.col("s22") - F.col("s2") * F.col("s2") / F.col("n")
    b1v = F.col("s1y") - F.col("s1") * F.col("sy") / F.col("n")
    b2v = F.col("s2y") - F.col("s2") * F.col("sy") / F.col("n")
    det = a11 * a22 - a12 * a12
    b1 = F.round((b1v * a22 - b2v * a12) / det, 9)
    b2 = F.round((b2v * a11 - b1v * a12) / det, 9)
    m1 = F.col("s1") / F.col("n").cast("double")
    m2 = F.col("s2") / F.col("n").cast("double")
    my = F.col("sy") / F.col("n").cast("double")
    sst = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    return s.select(
        "n",
        F.round(my - b1 * m1 - b2 * m2, 6).alias("b0"),
        F.round(b1, 6).alias("beta1"),
        F.round(b2, 6).alias("beta2"),
        F.round((b1 * b1v + b2 * b2v) / sst, 6).alias("r2"),
    )


@query(
    "q_sample_temperature_apply",
    oracle=f"""
    WITH counts AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM counts),
    s AS (
        SELECT lang, n_docs,
               pow(CAST(n_docs AS DOUBLE) / tot.n, {_TEMP_ALPHA}) AS sc
        FROM counts, tot
    ),
    z AS (SELECT round(sum(sc), 9) AS zsum FROM s),
    quota AS (
        SELECT s.lang, s.n_docs,
               CAST(floor(round(s.sc / z.zsum, 6) * tot.n + 0.5) AS BIGINT)
                   AS target_n
        FROM s, z, tot
    ),
    ranked AS (
        SELECT d.doc_id, d.lang,
               CAST(row_number() OVER (
                   PARTITION BY d.lang
                   ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
               ) AS BIGINT) AS shard_rank
        FROM documents d
    )
    SELECT r.doc_id, r.lang, r.shard_rank
    FROM ranked r JOIN quota q ON q.lang = r.lang
    WHERE r.shard_rank <= least(q.target_n, q.n_docs)
    ORDER BY r.lang, r.shard_rank
    """,
)
def q_sample_temperature_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-COUNT application of the temperature policy — the row
    selection q_sample_temperature only plans: per language, exactly
    min(target_n, n_docs) documents, chosen by md5-hash order with
    doc_id tie-break (deterministic, stable under any partitioning,
    and NESTED: raising a quota strictly grows the selection — the
    property incremental re-mixes rely on).  This closes the loop the
    q_sample_mixture docstring left open ("an exact-count variant
    would need a per-source rank, one window"): hash-threshold
    sampling is exact-per-row but only binomially close in COUNT;
    training-shard assembly needs the exact quota.

    Shape: the policy side is |langs| rows; the selection is ONE
    rank window per language partition (the per-shard sort a 100 TB
    run pays once per mix, keyed and parallel by lang) against a
    broadcast quota.  Up-sampling quotas (target_n > n_docs — the
    epochs > 1 case) cap at the shard size here; the repeat factor
    is the policy table's epochs column.
    """
    docs = table(spark, sf_dir, "documents")
    quota = _temperature_policy_base(docs).select(
        "lang",
        "n_docs",
        F.floor(
            F.round(F.col("sc") / F.col("zsum"), 6) * F.col("n") + F.lit(0.5)
        )
        .cast("long")
        .alias("target_n"),
    )
    ranked = docs.select(
        "doc_id",
        "lang",
        F.row_number()
        .over(
            Window.partitionBy("lang").orderBy(
                F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
            )
        )
        .cast("long")
        .alias("shard_rank"),
    )
    return (
        ranked.join(F.broadcast(quota), "lang")
        .filter(F.col("shard_rank") <= F.least("target_n", "n_docs"))
        .select("doc_id", "lang", "shard_rank")
        .orderBy("lang", "shard_rank")
    )


@query(
    "q_ml_eval_roc_pr",
    oracle="""
    WITH lab AS (
      SELECT CAST(l_quantity AS BIGINT) AS s,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
      FROM lineitem
    ), g AS (
      SELECT s, CAST(sum(pos) AS BIGINT) AS p,
             CAST(count(*) - sum(pos) AS BIGINT) AS q
      FROM lab GROUP BY s
    ), cum AS (
      SELECT s,
             CAST(sum(p) OVER (ORDER BY s DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS tp,
             CAST(sum(q) OVER (ORDER BY s DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS fp
      FROM g
    ), tot AS (
      SELECT CAST(sum(p) AS BIGINT) AS pp, CAST(sum(q) AS BIGINT) AS nn
      FROM g
    ), tz AS (
      SELECT CAST(sum(term) AS BIGINT) AS numer FROM (
        SELECT (fp - lag(fp, 1, 0) OVER (ORDER BY s DESC))
               * (tp + lag(tp, 1, 0) OVER (ORDER BY s DESC)) AS term
        FROM cum)
    )
    SELECT c.s AS threshold, c.tp, c.fp,
           t.pp - c.tp AS fn, t.nn - c.fp AS tn,
           floor(c.tp * 1.0 / t.pp * 1000000 + 0.5) / 1000000.0 AS tpr,
           floor(c.fp * 1.0 / t.nn * 1000000 + 0.5) / 1000000.0 AS fpr,
           floor(c.tp * 1.0 / (c.tp + c.fp) * 1000000 + 0.5) / 1000000.0
               AS precision_,
           floor(2.0 * c.tp / (2 * c.tp + c.fp + (t.pp - c.tp))
                 * 1000000 + 0.5) / 1000000.0 AS f1,
           floor(z.numer / (2.0 * t.pp * t.nn) * 1000000 + 0.5)
               / 1000000.0 AS auc
    FROM cum c CROSS JOIN tot t CROSS JOIN tz z
    ORDER BY threshold DESC
    """,
)
def q_ml_eval_roc_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-classifier threshold sweep: the full ROC/PR curve (one
    row per distinct score = candidate threshold, predicting positive
    at score >= t) with cumulative TP/FP/FN/TN, tpr/fpr, precision,
    F1, and the exact trapezoid ROC AUC as a constant column — the
    eval block a model-gating pipeline renders before picking an
    operating point.  Trapezoid-over-tie-groups IS the tie-aware
    rank-sum AUC (each distinct-score group contributes one ROC
    segment), so this single sweep yields both the curve and the
    scalar without a second pass; q_stats_mann_whitney is the
    hypothesis-test spelling of the same rank statistic.

    Fixture framing: score = l_quantity (integer, 50 distinct values
    — deliberately low-cardinality so tie handling is exercised hard),
    label = (l_returnflag = 'R').

    Scale shape: one map-side-combined per-score groupBy (|scores|
    reduce rows), then every window/lag runs on that tiny sweep table
    — a 100 TB scan folds to 50 rows before any window sorts.  A
    continuous score would be bucketed first (q_feature_scale /
    q_agg_histogram), keeping the sweep table bounded by design.
    Cross-engine exactness: every metric is a ratio of exact BIGINT
    counts; the trapezoid numerator Σ Δfp·(tp+tp_prev) stays in
    integer arithmetic until the single final division → HALF_UP 6 dp.
    """
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("s"),
        (F.col("l_returnflag") == "R").cast("long").alias("pos"),
    )
    g = li.groupBy("s").agg(
        F.sum("pos").cast("long").alias("p"),
        (F.count(F.lit(1)) - F.sum("pos")).cast("long").alias("q"),
    )
    w = Window.orderBy(F.desc("s")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wl = Window.orderBy(F.desc("s"))
    cum = g.select(
        "s",
        F.sum("p").over(w).cast("long").alias("tp"),
        F.sum("q").over(w).cast("long").alias("fp"),
    )
    tot = g.agg(
        F.sum("p").cast("long").alias("pp"),
        F.sum("q").cast("long").alias("nn"),
    )
    numer = (
        cum.select(
            (
                (F.col("fp") - F.lag("fp", 1, 0).over(wl))
                * (F.col("tp") + F.lag("tp", 1, 0).over(wl))
            ).alias("term")
        )
        .agg(F.sum("term").cast("long").alias("numer"))
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(numer))
        .select(
            F.col("s").alias("threshold"),
            "tp",
            "fp",
            (F.col("pp") - F.col("tp")).alias("fn"),
            (F.col("nn") - F.col("fp")).alias("tn"),
            round_half_up(F.col("tp") * 1.0 / F.col("pp"), 6).alias("tpr"),
            round_half_up(F.col("fp") * 1.0 / F.col("nn"), 6).alias("fpr"),
            round_half_up(
                F.col("tp") * 1.0 / (F.col("tp") + F.col("fp")), 6
            ).alias("precision_"),
            round_half_up(
                F.lit(2.0)
                * F.col("tp")
                / (2 * F.col("tp") + F.col("fp") + (F.col("pp") - F.col("tp"))),
                6,
            ).alias("f1"),
            round_half_up(
                F.col("numer") / (F.lit(2.0) * F.col("pp") * F.col("nn")), 6
            ).alias("auc"),
        )
        .orderBy(F.desc("threshold"))
    )


#: NDCG@10 discount weights, integer-scaled: w_i = round(10^6 / log2(i+1)).
#: ONE Python computation feeds BOTH engines (the Spark array literal and
#: the generated oracle CASE), so the discount table is identical by
#: construction and per-query DCG stays in exact BIGINT arithmetic.
_NDCG_K = 10
_NDCG_W = tuple(
    int(math.floor(1_000_000.0 / math.log2(i + 1) + 0.5))
    for i in range(1, _NDCG_K + 1)
)
_NDCG_W_SQL = " ".join(f"WHEN {i + 1} THEN {w}" for i, w in enumerate(_NDCG_W))


@query(
    "q_ml_eval_ndcg",
    oracle=f"""
    WITH r AS (
      SELECT l_orderkey, CAST(l_quantity AS BIGINT) AS rel,
             row_number() OVER (PARTITION BY l_orderkey
                 ORDER BY l_extendedprice DESC) AS rk,
             row_number() OVER (PARTITION BY l_orderkey
                 ORDER BY CAST(l_quantity AS BIGINT) DESC,
                          l_extendedprice DESC) AS ik
      FROM lineitem
    ), per AS (
      SELECT l_orderkey,
             CAST(sum(CASE WHEN rk <= {_NDCG_K}
                      THEN rel * (CASE rk {_NDCG_W_SQL} END)
                      ELSE 0 END) AS BIGINT) AS dcg,
             CAST(sum(CASE WHEN ik <= {_NDCG_K}
                      THEN rel * (CASE ik {_NDCG_W_SQL} END)
                      ELSE 0 END) AS BIGINT) AS idcg,
             min(CASE WHEN rk <= {_NDCG_K} AND rel >= 40 THEN rk END)
                 AS first_rel
      FROM r GROUP BY l_orderkey
    ), micro AS (
      SELECT CAST(floor(dcg * 1000000.0 / idcg + 0.5) AS BIGINT) AS ndcg_u,
             CAST(coalesce(floor(1000000.0 / first_rel + 0.5), 0)
                  AS BIGINT) AS rr_u,
             CASE WHEN first_rel IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM per
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           floor(sum(ndcg_u) / (count(*) * 1000000.0) * 1000000 + 0.5)
               / 1000000.0 AS avg_ndcg10,
           floor(sum(rr_u) / (count(*) * 1000000.0) * 1000000 + 0.5)
               / 1000000.0 AS avg_mrr10,
           floor(sum(hit) * 1.0 / count(*) * 1000000 + 0.5) / 1000000.0
               AS hit_rate10
    FROM micro
    """,
)
def q_ml_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded-relevance ranking evaluation: NDCG@10, MRR@10 and
    hit-rate@10 averaged over every order, treating each order as a
    retrieval query, price-descending as the ranker under evaluation,
    and l_quantity as the graded relevance judgment (binary-relevant
    at rel >= 40 for MRR/hit-rate).  This is the offline-eval loop of
    a retrieval/reranking pipeline (q_similarity_* produce the
    rankings; this scores them) — q_ml_eval_roc_pr grades a
    classifier, this grades a RANKER.

    Determinism: the ranker key l_extendedprice is unique within an
    order (fixture-verified), so rk is total with no tie-break; the
    ideal ordering ties on rel are broken by the same unique price key
    — and NDCG's ideal sum is tie-order-invariant anyway (equal-rel
    items swap positions without changing Σ rel·w).

    Cross-engine exactness: the log2 discounts are pre-scaled BIGINTs
    computed ONCE in Python and inlined into both plans (libm log2
    never runs in either engine), so per-query DCG/IDCG are exact
    integers; ndcg/rr are micro-int-quantized (floor(x·10⁶+0.5))
    before averaging so the corpus mean is a ratio of exact integers
    → HALF_UP 6 dp.

    Scale shape: two row_number windows over the SAME per-order
    partitioning (one shuffle, two sorts — Catalyst reuses the
    exchange), a per-order map-side-combinable aggregate, and a
    single-row final fold.  Per-query state is O(k); nothing is
    proportional to corpus size on any single node.
    """
    k = _NDCG_K
    warr = F.array(*[F.lit(x) for x in _NDCG_W])
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_quantity").cast("long").alias("rel"),
        "l_extendedprice",
    )
    wr = Window.partitionBy("l_orderkey").orderBy(F.desc("l_extendedprice"))
    wi = Window.partitionBy("l_orderkey").orderBy(
        F.desc("rel"), F.desc("l_extendedprice")
    )
    r = li.select(
        "l_orderkey",
        "rel",
        F.row_number().over(wr).alias("rk"),
        F.row_number().over(wi).alias("ik"),
    )
    per = r.groupBy("l_orderkey").agg(
        F.sum(
            F.when(
                F.col("rk") <= k,
                F.col("rel") * F.element_at(warr, F.col("rk").cast("int")),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("dcg"),
        F.sum(
            F.when(
                F.col("ik") <= k,
                F.col("rel") * F.element_at(warr, F.col("ik").cast("int")),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("idcg"),
        F.min(
            F.when((F.col("rk") <= k) & (F.col("rel") >= 40), F.col("rk"))
        ).alias("first_rel"),
    )
    micro = per.select(
        F.floor(F.col("dcg") * F.lit(1000000.0) / F.col("idcg") + F.lit(0.5))
        .cast("long")
        .alias("ndcg_u"),
        F.coalesce(
            F.floor(F.lit(1000000.0) / F.col("first_rel") + F.lit(0.5)).cast(
                "long"
            ),
            F.lit(0).cast("long"),
        ).alias("rr_u"),
        F.when(F.col("first_rel").isNotNull(), 1)
        .otherwise(0)
        .cast("long")
        .alias("hit"),
    )
    return micro.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        round_half_up(
            F.sum("ndcg_u") / (F.count(F.lit(1)) * F.lit(1000000.0)), 6
        ).alias("avg_ndcg10"),
        round_half_up(
            F.sum("rr_u") / (F.count(F.lit(1)) * F.lit(1000000.0)), 6
        ).alias("avg_mrr10"),
        round_half_up(F.sum("hit") * 1.0 / F.count(F.lit(1)), 6).alias(
            "hit_rate10"
        ),
    )


@query(
    "q_stats_runs_test",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day, round(sum(value), 2) AS v
      FROM events GROUP BY 1
    ), med AS (
      SELECT (arr[(len(arr) + 1) // 2] + arr[len(arr) // 2 + 1]) / 2 AS m
      FROM (SELECT list_sort(list(v)) AS arr FROM daily)
    ), seq AS (
      SELECT day, v > m.m AS above
      FROM daily, med m WHERE v <> m.m
    ), flagged AS (
      SELECT above,
             CASE WHEN lag(above) OVER (ORDER BY day) IS NULL
                  OR above <> lag(above) OVER (ORDER BY day)
                  THEN 1 ELSE 0 END AS chg
      FROM seq
    ), agg AS (
      SELECT CAST(sum(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN above THEN 0 ELSE 1 END) AS BIGINT) AS n2,
             CAST(sum(chg) AS BIGINT) AS runs
      FROM flagged
    )
    SELECT n1, n2, runs,
           floor((1 + 2.0 * n1 * n2 / (n1 + n2)) * 1000000 + 0.5)
               / 1000000.0 AS e_runs,
           CASE WHEN 2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2) > 0
                THEN floor((runs - (1 + 2.0 * n1 * n2 / (n1 + n2)))
                     / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                            / ((n1 + n2) * CAST(n1 + n2 AS DOUBLE)
                               * (n1 + n2 - 1)))
                     * 1000000 + 0.5) / 1000000.0
           END AS z_stat
    FROM agg
    """,
)
def q_stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test for RANDOMNESS of the daily event-
    value series: binarize each day against the series median (ties
    to the median dropped, the standard convention), count runs of
    consecutive same-side days, and compare against the exact null
    moments E[R] = 1 + 2n₁n₂/n and Var[R] = 2n₁n₂(2n₁n₂−n) /
    (n²(n−1)).  Too FEW runs means the series clumps (trend,
    autocorrelation — cross-check q_ts_autocorrelation); too MANY
    means oscillation.  Completes the distribution-free monitoring
    kit: KS tests SHAPE, Mann–Whitney tests LOCATION, Mann–Kendall
    tests TREND, runs tests SERIAL INDEPENDENCE.

    Exactness: daily values are round(sum,2)-canonicalized; the
    median uses the SAME positional (x+y)/2 selection as
    q_ts_rolling_median (no interpolation-form divergence); n₁, n₂
    and R are exact integers, the z moments are integer rationals →
    HALF_UP 6 dp.  Scale: one day-keyed aggregate is the only
    data-sized pass; the runs scan is one lag window over a
    days-long series (calendar-bounded, like Mann–Kendall's pair
    stage).
    """
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.round(F.sum("value"), 2).alias("v"))
    )
    arr = F.sort_array(F.collect_list("v"))
    n_arr = F.size(arr)
    med = daily.agg(
        (
            (
                F.element_at(arr, ((n_arr + 1) / 2).cast("int"))
                + F.element_at(arr, (n_arr / 2 + 1).cast("int"))
            )
            / 2
        ).alias("m")
    )
    seq = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("v") != F.col("m"))
        .select("day", (F.col("v") > F.col("m")).alias("above"))
    )
    w = Window.orderBy("day")
    flagged = seq.select(
        "above",
        F.when(
            F.lag("above").over(w).isNull()
            | (F.col("above") != F.lag("above").over(w)),
            1,
        )
        .otherwise(0)
        .alias("chg"),
    )
    agg = flagged.agg(
        F.sum(F.when(F.col("above"), 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("above"), 0).otherwise(1)).cast("long").alias("n2"),
        F.sum("chg").cast("long").alias("runs"),
    )
    n1, n2, runs = F.col("n1"), F.col("n2"), F.col("runs")
    nn = n1 + n2
    e_runs = 1 + 2.0 * n1 * n2 / nn
    var_runs = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
        / (nn * nn.cast("double") * (nn - 1))
    )
    return agg.select(
        "n1",
        "n2",
        "runs",
        round_half_up(e_runs, 6).alias("e_runs"),
        # degenerate-series guard: with every non-median
        # day on one side (n1·n2 = 0) — or the n1 = n2 = 1 corner —
        # Var[R] is 0 and z would be ±Inf/NaN, whose floor/round
        # behavior differs across engines; NULL is the statistic's
        # honest value, matching the oracle's CASE.
        F.when(var_runs > 0, round_half_up((runs - e_runs) / F.sqrt(var_runs), 6))
        .alias("z_stat"),
    )


@query(
    "q_ml_feature_mi",
    oracle="""
    WITH lab AS (
      SELECT least(9, CAST(floor((l_quantity - 1) / 5) AS BIGINT)) AS x,
             l_returnflag AS y
      FROM lineitem
    ), cells AS (
      SELECT x, y, CAST(count(*) AS BIGINT) AS c FROM lab GROUP BY x, y
    ), marg AS (
      SELECT x, y, c,
             sum(c) OVER (PARTITION BY x) AS cx,
             sum(c) OVER (PARTITION BY y) AS cy,
             sum(c) OVER ()               AS n,
             min(y) OVER (PARTITION BY x) AS ymin,
             min(x) OVER (PARTITION BY y) AS xmin
      FROM cells
    ), folded AS (
      SELECT CAST(count(*) AS BIGINT) AS n_cells,
             sum(CAST(c AS DOUBLE) / n
                 * ln(CAST(c AS DOUBLE) * n / (CAST(cx AS DOUBLE) * cy)))
                 AS mi,
             -sum(CASE WHEN y = ymin THEN CAST(cx AS DOUBLE) / n
                            * ln(CAST(cx AS DOUBLE) / n) ELSE 0 END) AS hx,
             -sum(CASE WHEN x = xmin THEN CAST(cy AS DOUBLE) / n
                            * ln(CAST(cy AS DOUBLE) / n) ELSE 0 END) AS hy
      FROM marg
    )
    SELECT n_cells,
           round(mi, 6) AS mi_nats,
           round(hx, 6) AS h_feature,
           round(hy, 6) AS h_label,
           round(mi / sqrt(hx * hy), 6) AS nmi
    FROM folded
    """,
)
def q_ml_feature_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between a binned numeric feature (quantity
    in width-5 buckets) and the class label (return flag) — the
    feature-RELEVANCE score of filter-style feature selection, the
    information-theoretic member of the dependence family
    (q_stats_chi2_indep tests the same contingency table's
    independence, q_agg_entropy measures one margin, q_text_js_
    divergence compares two distributions): MI = Σ p(x,y)·ln[p(x,y) /
    (p(x)p(y))], with both marginal entropies and the normalized
    MI/√(H_x·H_y) for cross-feature comparability.

    The margin-entropy folds dedupe each margin by anchoring each x
    on ITS OWN min y (and vice versa) — exactly one row per margin
    value in both engines, dense contingency table or not.  Buckets are integer arithmetic;
    the log folds run over ≤ |x-bins|·|y-classes| cells (30 here), so
    the float sums span ~dozens of terms — rounded at 6 dp, the PMI/
    LLR collocation discipline for ln() folds of exact-integer
    ratios.

    Scale: ONE map-side-combined (x, y) count over the fact table;
    everything after is cell-table-sized (bins × classes, a design
    constant — a continuous feature gets bucketed first, exactly as
    q_ml_eval_roc_pr's sweep does).
    """
    li = table(spark, sf_dir, "lineitem").select(
        F.least(F.lit(9), F.floor((F.col("l_quantity") - 1) / 5))
        .cast("long")
        .alias("x"),
        F.col("l_returnflag").alias("y"),
    )
    cells = li.groupBy("x", "y").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wx = Window.partitionBy("x")
    wy = Window.partitionBy("y")
    wn = Window.partitionBy()
    marg = cells.select(
        "x",
        "y",
        "c",
        F.sum("c").over(wx).alias("cx"),
        F.sum("c").over(wy).alias("cy"),
        F.sum("c").over(wn).alias("n"),
        F.min("y").over(wx).alias("min_y"),
        F.min("x").over(wy).alias("min_x"),
    )
    folded = marg.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum(
            F.col("c").cast("double")
            / F.col("n")
            * F.log(
                F.col("c").cast("double")
                * F.col("n")
                / (F.col("cx").cast("double") * F.col("cy"))
            )
        ).alias("mi"),
        (
            -F.sum(
                F.when(
                    F.col("y") == F.col("min_y"),
                    F.col("cx").cast("double")
                    / F.col("n")
                    * F.log(F.col("cx").cast("double") / F.col("n")),
                ).otherwise(F.lit(0.0))
            )
        ).alias("hx"),
        (
            -F.sum(
                F.when(
                    F.col("x") == F.col("min_x"),
                    F.col("cy").cast("double")
                    / F.col("n")
                    * F.log(F.col("cy").cast("double") / F.col("n")),
                ).otherwise(F.lit(0.0))
            )
        ).alias("hy"),
    )
    return folded.select(
        "n_cells",
        F.round("mi", 6).alias("mi_nats"),
        F.round("hx", 6).alias("h_feature"),
        F.round("hy", 6).alias("h_label"),
        F.round(F.col("mi") / F.sqrt(F.col("hx") * F.col("hy")), 6).alias(
            "nmi"
        ),
    )


@query(
    "q_ml_ab_cuped",
    oracle="""
    WITH anchor AS (
      SELECT max(epoch_us(ts)) AS a FROM events
    ), u AS (
      SELECT user_id,
             CAST(sum(CASE WHEN epoch_us(ts) < t.a - 1296000000000
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN epoch_us(ts) >= t.a - 1296000000000
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS y,
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR) || '|ab'), 1, 1)
                       < '8' THEN 'A' ELSE 'B' END AS grp
      FROM events, anchor t
      WHERE event_type = 'purchase'
      GROUP BY user_id, t.a
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(CAST(x AS DOUBLE)) AS sx, sum(CAST(y AS DOUBLE)) AS sy,
             sum(CAST(x AS DOUBLE) * x) AS sxx,
             sum(CAST(x AS DOUBLE) * y) AS sxy,
             sum(CAST(y AS DOUBLE) * y) AS syy
      FROM u
    ), th AS (
      SELECT n, sx, sy, sxx, sxy, syy,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta,
             (n * syy - sy * sy) / (n * CAST(n AS DOUBLE)) AS var_y,
             (n * sxy - sx * sy) / (n * CAST(n AS DOUBLE)) AS cov_xy,
             (n * sxx - sx * sx) / (n * CAST(n AS DOUBLE)) AS var_x
      FROM s
    ), g AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n_g,
             sum(CAST(x AS DOUBLE)) AS sx_g, sum(CAST(y AS DOUBLE)) AS sy_g
      FROM u GROUP BY grp
    ), wide AS (
      SELECT
        (SELECT n_g FROM g WHERE grp = 'A') AS n_a,
        (SELECT n_g FROM g WHERE grp = 'B') AS n_b,
        (SELECT sy_g FROM g WHERE grp = 'A') AS sy_a,
        (SELECT sy_g FROM g WHERE grp = 'B') AS sy_b,
        (SELECT sx_g FROM g WHERE grp = 'A') AS sx_a,
        (SELECT sx_g FROM g WHERE grp = 'B') AS sx_b
    )
    SELECT t.n AS n_users, w.n_a, w.n_b,
           round(t.theta, 6) AS theta,
           round(t.cov_xy * t.cov_xy / (t.var_x * t.var_y) * 100, 6)
               AS var_reduction_pct,
           round((w.sy_a / w.n_a - w.sy_b / w.n_b) / 100, 6) AS raw_diff,
           round(((w.sy_a / w.n_a - t.theta * (w.sx_a / w.n_a))
                  - (w.sy_b / w.n_b - t.theta * (w.sx_b / w.n_b))) / 100,
                 6) AS adj_diff
    FROM th t CROSS JOIN wide w
    """,
)
def q_ml_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data,
    Deng et al. 2013): the variance-reduction readout every modern
    experimentation platform applies before calling an A/B test —
    per-user PRE-period spend is the covariate X, post-period spend
    the metric Y, θ = cov(X,Y)/var(X), and the adjusted metric
    Y − θX removes the θ²var(X) component of between-user variance
    (var_reduction_pct = ρ²·100).  Groups come from the engine's
    deterministic md5-parity split (the q_split_assign convention),
    the period boundary is anchor − 15 days (half the fixture's 30-day event span), and the output is the
    raw vs CUPED-adjusted A−B difference side by side.  Completes the
    experimentation kit: q_stats_welch_ttest / proportion_ztest test
    a difference, THIS op is how the platform shrinks its error bars
    first.

    Float discipline: per-user X/Y are EXACT integer cents; the five
    moment sums then run in double (the q_agg_stats_corr covariance
    discipline — engine sum orders differ in the last ulps) and every
    output is rounded at 6 dp.  θ is computed from the raw sums, not
    the rounded ones.

    Scale: one user-keyed aggregate (map-side combined), then a
    5-number moment fold and a 2-row group fold — nothing after the
    first shuffle is data-sized.
    """
    ev = table(spark, sf_dir, "events")
    anchor = ev.agg(F.max(F.unix_micros("ts")).alias("a"))
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    cutoff = F.col("a") - F.lit(1296000000000)
    u = (
        ev.filter(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(anchor))
        .groupBy("user_id", "a")
        .agg(
            F.sum(F.when(F.unix_micros("ts") < cutoff, cents).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.unix_micros("ts") >= cutoff, cents).otherwise(0))
            .cast("long")
            .alias("y"),
        )
        .select(
            "x",
            "y",
            F.when(
                F.substring(
                    F.md5(F.concat(F.col("user_id").cast("string"), F.lit("|ab"))),
                    1,
                    1,
                )
                < "8",
                "A",
            )
            .otherwise("B")
            .alias("grp"),
        )
    )
    s = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast("double")).alias("sx"),
        F.sum(F.col("y").cast("double")).alias("sy"),
        F.sum(F.col("x").cast("double") * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast("double") * F.col("y")).alias("sxy"),
        F.sum(F.col("y").cast("double") * F.col("y")).alias("syy"),
    )
    g = (
        u.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum(F.col("x").cast("double")).alias("sx_g"),
            F.sum(F.col("y").cast("double")).alias("sy_g"),
        )
        .groupBy()
        .pivot("grp", ["A", "B"])
        .agg(
            F.first("n_g").alias("n"),
            F.first("sx_g").alias("sx"),
            F.first("sy_g").alias("sy"),
        )
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    var_y = (n * syy - sy * sy) / (n * n.cast("double"))
    cov_xy = (n * sxy - sx * sy) / (n * n.cast("double"))
    var_x = (n * sxx - sx * sx) / (n * n.cast("double"))
    mean = lambda tot, cnt: F.col(tot) / F.col(cnt)  # noqa: E731
    return (
        s.crossJoin(F.broadcast(g))
        .select(
            F.col("n").alias("n_users"),
            F.col("A_n").alias("n_a"),
            F.col("B_n").alias("n_b"),
            F.round(theta, 6).alias("theta"),
            F.round(cov_xy * cov_xy / (var_x * var_y) * 100, 6).alias(
                "var_reduction_pct"
            ),
            F.round(
                (mean("A_sy", "A_n") - mean("B_sy", "B_n")) / 100, 6
            ).alias("raw_diff"),
            F.round(
                (
                    (mean("A_sy", "A_n") - theta * mean("A_sx", "A_n"))
                    - (mean("B_sy", "B_n") - theta * mean("B_sx", "B_n"))
                )
                / 100,
                6,
            ).alias("adj_diff"),
        )
    )


@query(
    "q_stats_levene",
    oracle="""
    WITH v AS (
      SELECT l_returnflag AS g, l_extendedprice AS x FROM lineitem
    ), ranked AS (
      SELECT g, x,
             row_number() OVER (PARTITION BY g ORDER BY x) AS rk,
             count(*) OVER (PARTITION BY g) AS n
      FROM v
    ), med AS (
      SELECT g,
             (min(CASE WHEN rk = (n + 1) // 2 THEN x END)
              + min(CASE WHEN rk = n // 2 + 1 THEN x END)) / 2 AS m
      FROM ranked GROUP BY g
    ), z AS (
      SELECT v.g, abs(v.x - med.m) AS z
      FROM v JOIN med ON med.g = v.g
    ), grp AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n_g,
             sum(z) AS sz, sum(z * z) AS szz
      FROM z GROUP BY g
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n_g) AS BIGINT) AS n,
             sum(sz) AS sz_all,
             sum(n_g * (sz / n_g) * (sz / n_g)) AS ss_grp_means,
             sum(szz - sz * sz / n_g) AS ss_within
      FROM grp
    )
    SELECT k AS n_groups, n AS n_rows,
           round((ss_grp_means - sz_all * sz_all / n)
                 / (k - 1)
                 / (ss_within / (n - k)), 6) AS f_stat,
           CAST(k - 1 AS BIGINT) AS df_between,
           CAST(n - k AS BIGINT) AS df_within
    FROM tot
    """,
)
def q_stats_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe (median-centered Levene) test of variance
    homogeneity across return-flag groups — the gatekeeper the
    two-sample family quietly assumes away: Welch (q_stats_
    welch_ttest) exists BECAUSE variances differ, ANOVA
    (q_stats_anova_oneway) assumes they don't; this op TESTS it,
    robustly (median centering, per Brown & Forsythe 1974), as a
    one-way ANOVA on z = |x − median_group|.

    Cross-engine exactness: group medians use the POSITIONAL
    (x+y)/2 construction (DuckDB's oracle states it as a rank
    window; interpolating median() would differ by an ulp, which
    Σ|x−m| over 10⁵ rows amplifies to exactly the rounding
    boundary).  The Spark side picks the SAME two order statistics
    from the (group, value)-count distribution: the r-th order
    statistic is the smallest value whose cumulative count reaches r
    — the exact_percentiles bracket trick.  The z sums follow the
    q_agg_stats_corr double discipline → round 6 dp.

    Scale (the named escape, now implemented):
    the r9 form ranked RAW rows in a window partitioned by |groups|
    (3 tasks each total-sorting n/3 rows; ×10 probe 3.9×).  Now the
    heavy reduction is ``groupBy(g, x).count()`` — map-side
    combinable, state = |distinct values| not |rows| — and the
    per-group cumsum window rides the distinct-value histogram
    (money values repeat at 2 dp, so it is domain-bounded while raw
    rows grow without bound).  Then one broadcastable |groups|-row
    median join and one map-side-combined moment aggregate.  Nothing
    driver-side beyond |groups| rows.
    """
    v = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"), F.col("l_extendedprice").alias("x")
    )
    dist = v.groupBy("g", "x").agg(F.count(F.lit(1)).alias("cnt"))
    wcum = (
        Window.partitionBy("g")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    d = dist.withColumn("cum", F.sum("cnt").over(wcum)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy("g"))
    )
    med = d.groupBy("g").agg(
        (
            (
                F.min(
                    F.when(
                        F.col("cum") >= F.floor((F.col("n") + 1) / 2),
                        F.col("x"),
                    )
                )
                + F.min(
                    F.when(
                        F.col("cum") >= F.floor(F.col("n") / 2) + 1, F.col("x")
                    )
                )
            )
            / 2
        ).alias("m")
    )
    z = v.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("x") - F.col("m")).alias("z")
    )
    grp = z.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("z").alias("sz"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
    )
    tot = grp.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("sz").alias("sz_all"),
        F.sum(
            F.col("n_g") * (F.col("sz") / F.col("n_g")) * (F.col("sz") / F.col("n_g"))
        ).alias("ss_grp_means"),
        F.sum(F.col("szz") - F.col("sz") * F.col("sz") / F.col("n_g")).alias(
            "ss_within"
        ),
    )
    return tot.select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_rows"),
        F.round(
            (F.col("ss_grp_means") - F.col("sz_all") * F.col("sz_all") / F.col("n"))
            / (F.col("k") - 1)
            / (F.col("ss_within") / (F.col("n") - F.col("k"))),
            6,
        ).alias("f_stat"),
        (F.col("k") - 1).cast("long").alias("df_between"),
        (F.col("n") - F.col("k")).cast("long").alias("df_within"),
    )


@query(
    "q_ml_eval_calibration",
    oracle="""
    WITH lab AS (
      SELECT CAST(l_quantity AS BIGINT) AS s,
             CAST(floor((l_quantity - 1) / 5) AS BIGINT) AS bin,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
      FROM lineitem
    ), b AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(s) AS BIGINT) AS sum_s,
             CAST(sum(pos) AS BIGINT) AS n_pos
      FROM lab GROUP BY bin
    ), e AS (
      SELECT CAST(sum(abs(sum_s - 50 * n_pos)) AS BIGINT) AS gap_num,
             CAST(sum(n) AS BIGINT) AS n_all
      FROM b
    )
    SELECT b.bin, b.n,
           floor(b.sum_s / (50.0 * b.n) * 1000000 + 0.5) / 1000000.0
               AS mean_pred,
           floor(b.n_pos * 1.0 / b.n * 1000000 + 0.5) / 1000000.0
               AS obs_rate,
           floor(abs(b.sum_s - 50 * b.n_pos) / (50.0 * b.n)
                 * 1000000 + 0.5) / 1000000.0 AS gap,
           floor(e.gap_num / (50.0 * e.n_all) * 1000000 + 0.5) / 1000000.0
               AS ece
    FROM b CROSS JOIN e
    ORDER BY b.bin
    """,
)
def q_ml_eval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier CALIBRATION audit — the reliability diagram + exact
    expected calibration error (ECE) that belongs next to the
    threshold sweep (q_ml_eval_roc_pr): a well-ranked model can still
    be mis-calibrated, and a pipeline gating on predicted
    probabilities (confidence filtering, routing, active learning)
    must check both.  Ten equal-width score bins; per bin the mean
    predicted probability, the observed positive rate and their gap;
    ECE = Σ_b (n_b/N)·gap_b as a constant column.

    Fixture framing (the q_ml_eval_roc_pr convention): score =
    l_quantity ∈ 1..50 read as predicted probability s/50, label =
    (l_returnflag = 'R').

    Cross-engine exactness: every quantity is a ratio of exact
    BIGINTs — mean_pred = Σs/(50n), obs_rate = pos/n, and the gap
    collapses to |Σs − 50·pos|/(50n), so even ECE's weighted sum
    keeps an INTEGER numerator (Σ_b |Σs_b − 50·pos_b|) and divides
    exactly once → HALF_UP 6 dp, no float accumulation anywhere.

    Scale shape: ONE map-side-combined per-bin groupBy (10 reduce
    rows); the ECE fold and every ratio run on that constant-size
    table — a 100 TB scan folds to 10 rows before any join.
    """
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("s"),
        F.floor((F.col("l_quantity") - 1) / 5).cast("long").alias("bin"),
        (F.col("l_returnflag") == "R").cast("long").alias("pos"),
    )
    b = li.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("s").cast("long").alias("sum_s"),
        F.sum("pos").cast("long").alias("n_pos"),
    ).transform(materialize)  # 10 rows, consumed 2x (ECE fold + final join)
    e = b.agg(
        F.sum(F.abs(F.col("sum_s") - 50 * F.col("n_pos")))
        .cast("long")
        .alias("gap_num"),
        F.sum("n").cast("long").alias("n_all"),
    )
    return (
        b.crossJoin(F.broadcast(e))
        .select(
            "bin",
            "n",
            round_half_up(F.col("sum_s") / (F.lit(50.0) * F.col("n")), 6).alias(
                "mean_pred"
            ),
            round_half_up(F.col("n_pos") * 1.0 / F.col("n"), 6).alias(
                "obs_rate"
            ),
            round_half_up(
                F.abs(F.col("sum_s") - 50 * F.col("n_pos"))
                / (F.lit(50.0) * F.col("n")),
                6,
            ).alias("gap"),
            round_half_up(
                F.col("gap_num") / (F.lit(50.0) * F.col("n_all")), 6
            ).alias("ece"),
        )
        .orderBy("bin")
    )


@query(
    "q_ml_eval_confusion",
    oracle="""
    WITH lab AS (
      SELECT l_returnflag AS t,
             CASE WHEN l_quantity <= 17 THEN 'A'
                  WHEN l_quantity <= 34 THEN 'N'
                  ELSE 'R' END AS p
      FROM lineitem
    ), cells AS (
      SELECT t, p, CAST(count(*) AS BIGINT) AS c FROM lab GROUP BY t, p
    ), cls AS (
      SELECT t AS label,
             CAST(coalesce(sum(CASE WHEN p = t THEN c END), 0) AS BIGINT)
                 AS tp,
             CAST(sum(c) AS BIGINT) AS n_true
      FROM cells GROUP BY t
    ), pr AS (
      SELECT p AS label, CAST(sum(c) AS BIGINT) AS n_pred
      FROM cells GROUP BY p
    ), m AS (
      SELECT cls.label, cls.tp, cls.n_true,
             coalesce(pr.n_pred, 0) AS n_pred,
             coalesce(pr.n_pred, 0) - cls.tp AS fp,
             cls.n_true - cls.tp AS fn,
             CAST(floor(2.0 * cls.tp
                        / (2 * cls.tp + (coalesce(pr.n_pred, 0) - cls.tp)
                           + (cls.n_true - cls.tp))
                        * 1000000 + 0.5) AS BIGINT) AS f1s
      FROM cls LEFT JOIN pr ON pr.label = cls.label
    ), mac AS (
      SELECT CAST(sum(f1s) AS BIGINT) AS f1s_sum,
             CAST(count(*) AS BIGINT) AS k
      FROM m
    )
    SELECT m.label, m.tp, m.fp, m.fn, m.n_true, m.n_pred,
           CASE WHEN m.n_pred > 0
                THEN floor(m.tp * 1.0 / m.n_pred * 1000000 + 0.5) / 1000000.0
           END AS precision_,
           floor(m.tp * 1.0 / m.n_true * 1000000 + 0.5) / 1000000.0
               AS recall,
           m.f1s / 1000000.0 AS f1,
           floor(x.f1s_sum * 1.0 / x.k + 0.5) / 1000000.0 AS macro_f1
    FROM m CROSS JOIN mac x
    ORDER BY m.label
    """,
)
def q_ml_eval_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiclass confusion summary — per-class TP/FP/FN with
    precision/recall/F1 and macro-F1, the third leg of the offline
    eval block (q_ml_eval_roc_pr sweeps binary thresholds,
    q_ml_eval_ndcg grades rankers; this grades a hard multiclass
    prediction).

    Fixture framing: truth = l_returnflag (A/N/R), prediction = a
    deterministic quantity-tertile rule (≤17 → A, ≤34 → N, else R) —
    a deliberately weak classifier so every off-diagonal cell is
    populated and the per-class asymmetries are real.

    Cross-engine exactness: precision/recall are single ratios of
    exact BIGINTs → HALF_UP 6 dp.  Macro-F1 averages per-class F1s —
    a sum of three unlike-denominator rationals, so each F1 is first
    integer-scaled to 10⁶ (floor(x·10⁶ + 0.5) as BIGINT, the NDCG
    discount-table discipline), the sum stays in integer space, and
    ONE final division renders the average — no float accumulation.

    Scale shape: one map-side-combined (truth, pred) groupBy — the
    cell table is |classes|² (9 rows); every join and fold after is
    constant-size.
    """
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("t"),
        F.when(F.col("l_quantity") <= 17, "A")
        .when(F.col("l_quantity") <= 34, "N")
        .otherwise("R")
        .alias("p"),
    )
    cells = li.groupBy("t", "p").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).transform(materialize)  # |classes|^2 rows, consumed 2x (row/col margins)
    cls = cells.groupBy(F.col("t").alias("label")).agg(
        F.coalesce(F.sum(F.when(F.col("p") == F.col("t"), F.col("c"))), F.lit(0))
        .cast("long")
        .alias("tp"),
        F.sum("c").cast("long").alias("n_true"),
    )
    pr = cells.groupBy(F.col("p").alias("label")).agg(
        F.sum("c").cast("long").alias("n_pred")
    )
    m = (
        cls.join(pr, "label", "left")
        .select(
            "label",
            "tp",
            "n_true",
            F.coalesce("n_pred", F.lit(0)).cast("long").alias("n_pred"),
            (F.coalesce("n_pred", F.lit(0)) - F.col("tp"))
            .cast("long")
            .alias("fp"),
            (F.col("n_true") - F.col("tp")).cast("long").alias("fn"),
        )
        .withColumn(
            "f1s",
            F.floor(
                F.lit(2.0)
                * F.col("tp")
                / (2 * F.col("tp") + F.col("fp") + F.col("fn"))
                * 1000000
                + 0.5
            ).cast("long"),
        )
    )
    mac = m.agg(
        F.sum("f1s").cast("long").alias("f1s_sum"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    return (
        m.crossJoin(F.broadcast(mac))
        .select(
            "label",
            "tp",
            "fp",
            "fn",
            "n_true",
            "n_pred",
            # n_pred = 0 guard: Spark's 0/0 yields NULL
            # but DuckDB's IEEE float path yields inf — make both
            # engines render NULL via an explicit CASE.  Unreachable
            # under the tertile rule (every class is predicted) but
            # latent for any other prediction rule.
            F.when(
                F.col("n_pred") > 0,
                round_half_up(F.col("tp") * 1.0 / F.col("n_pred"), 6),
            ).alias("precision_"),
            round_half_up(F.col("tp") * 1.0 / F.col("n_true"), 6).alias(
                "recall"
            ),
            (F.col("f1s") / F.lit(1000000.0)).alias("f1"),
            (
                F.floor(F.col("f1s_sum") * 1.0 / F.col("k") + 0.5)
                / F.lit(1000000.0)
            ).alias("macro_f1"),
        )
        .orderBy("label")
    )


@query(
    "q_stats_wilcoxon_signed",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             round(sum(CASE WHEN event_type = 'click' THEN value
                            ELSE 0 END), 2) AS x,
             round(sum(CASE WHEN event_type = 'view' THEN value
                            ELSE 0 END), 2) AS y
      FROM events
      GROUP BY 1
    ), d AS (
      SELECT x - y AS diff, abs(x - y) AS ad
      FROM daily WHERE x <> y
    ), r AS (
      SELECT diff,
             rank() OVER (ORDER BY ad)
                 + (count(*) OVER (PARTITION BY ad) - 1) / 2.0 AS midrank,
             count(*) OVER (PARTITION BY ad) AS tie_n,
             row_number() OVER (PARTITION BY ad ORDER BY diff) AS tie_rn
      FROM d
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(CASE WHEN diff > 0 THEN midrank ELSE 0 END) AS w_plus,
             sum(CASE WHEN tie_rn = 1
                      THEN CAST(tie_n AS DOUBLE) * tie_n * tie_n - tie_n
                      ELSE 0 END) AS tie_corr
      FROM r
    )
    SELECT n AS n_pairs, w_plus,
           floor(n * (n + 1) / 4.0 * 1000000 + 0.5) / 1000000.0 AS e_w,
           CASE WHEN n * (n + 1) * (2.0 * n + 1) / 24 - tie_corr / 48 > 0
                THEN floor((w_plus - n * (n + 1) / 4.0)
                     / sqrt(n * (n + 1) * (2.0 * n + 1) / 24 - tie_corr / 48)
                     * 1000000 + 0.5) / 1000000.0
           END AS z_stat
    FROM agg
    """,
)
def q_stats_wilcoxon_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on PAIRED daily series — clicks vs
    views value totals per day: the paired complement of
    q_stats_mann_whitney (two independent samples) in the
    distribution-free monitoring kit.  Zero differences drop (the
    standard convention), |d| gets tie-aware MIDRANKS, W⁺ sums the
    positive-difference ranks, and the normal approximation uses the
    tie-corrected variance n(n+1)(2n+1)/24 − Σ(t³−t)/48.

    Cross-engine exactness: daily values are round(sum, 2)-
    canonicalized (the q_stats_runs_test convention), so the paired
    differences and tie groups are identical doubles in both engines;
    midranks are exact multiples of 0.5 (rank + (tie−1)/2 — the
    q_stats_mann_whitney midrank construction); W⁺ sums ≤ |days|
    such values (calendar-bounded, far under the 2⁵³ exactness
    ceiling); E[W], Var[W] are integer rationals → z HALF_UP 6 dp,
    NULLed when the variance degenerates (the runs-test guard).

    Scale shape: ONE day-keyed aggregate is the only data-sized pass
    (map-side combined); the rank window runs over the days-long
    difference series, calendar-bounded like Mann–Kendall.
    """
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.round(
            F.sum(F.when(F.col("event_type") == "click", F.col("value")).otherwise(0.0)),
            2,
        ).alias("x"),
        F.round(
            F.sum(F.when(F.col("event_type") == "view", F.col("value")).otherwise(0.0)),
            2,
        ).alias("y"),
    )
    d = daily.filter(F.col("x") != F.col("y")).select(
        (F.col("x") - F.col("y")).alias("diff"),
        F.abs(F.col("x") - F.col("y")).alias("ad"),
    )
    r = d.select(
        "diff",
        (
            F.rank().over(Window.orderBy("ad"))
            + (F.count(F.lit(1)).over(Window.partitionBy("ad")) - 1) / 2.0
        ).alias("midrank"),
        F.count(F.lit(1)).over(Window.partitionBy("ad")).alias("tie_n"),
        F.row_number()
        .over(Window.partitionBy("ad").orderBy("diff"))
        .alias("tie_rn"),
    )
    agg = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("diff") > 0, F.col("midrank")).otherwise(0.0)).alias(
            "w_plus"
        ),
        F.sum(
            F.when(
                F.col("tie_rn") == 1,
                F.col("tie_n").cast("double") * F.col("tie_n") * F.col("tie_n")
                - F.col("tie_n"),
            ).otherwise(0.0)
        ).alias("tie_corr"),
    )
    n, w_plus, tie_corr = F.col("n"), F.col("w_plus"), F.col("tie_corr")
    var_w = n * (n + 1) * (F.lit(2.0) * n + 1) / 24 - tie_corr / 48
    return agg.select(
        n.alias("n_pairs"),
        w_plus,
        round_half_up(n * (n + 1) / F.lit(4.0), 6).alias("e_w"),
        F.when(
            var_w > 0,
            round_half_up(
                (w_plus - n * (n + 1) / F.lit(4.0)) / F.sqrt(var_w), 6
            ),
        ).alias("z_stat"),
    )


@query(
    "q_ml_eval_brier",
    oracle="""
    WITH lab AS (
      SELECT CAST(l_quantity AS BIGINT) AS s,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
      FROM lineitem
    ), g AS (
      SELECT s, CAST(count(*) AS BIGINT) AS n_s,
             CAST(sum(pos) AS BIGINT) AS pos_s,
             CAST(sum((s - 50 * pos) * (s - 50 * pos)) AS BIGINT) AS sq
      FROM lab GROUP BY s
    ), tot AS (
      SELECT CAST(sum(n_s) AS BIGINT) AS n,
             CAST(sum(pos_s) AS BIGINT) AS p,
             CAST(sum(sq) AS BIGINT) AS sq
      FROM g
    ), parts AS (
      SELECT
        sum((50.0 * g.pos_s - g.n_s * g.s) * (50.0 * g.pos_s - g.n_s * g.s)
            / (2500.0 * g.n_s * t.n)) AS rel,
        sum(g.n_s * (g.pos_s * 1.0 / g.n_s - t.p * 1.0 / t.n)
                  * (g.pos_s * 1.0 / g.n_s - t.p * 1.0 / t.n) / t.n) AS res
      FROM g CROSS JOIN tot t
    )
    SELECT t.n AS n_rows,
           floor(t.p * 1.0 / t.n * 1000000 + 0.5) / 1000000.0 AS base_rate,
           floor(t.sq / (2500.0 * t.n) * 1000000 + 0.5) / 1000000.0
               AS brier,
           floor(p.rel * 1000000 + 0.5) / 1000000.0 AS reliability,
           floor(p.res * 1000000 + 0.5) / 1000000.0 AS resolution,
           floor((t.p * 1.0 / t.n) * (1 - t.p * 1.0 / t.n) * 1000000 + 0.5)
               / 1000000.0 AS uncertainty
    FROM tot t CROSS JOIN parts p
    """,
)
def q_ml_eval_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score with the Murphy decomposition — the proper-scoring
    complement of q_ml_eval_calibration: B = uncertainty − resolution
    + reliability, decomposed over the 50 distinct-score forecast
    groups (p̂ = s/50, the q_ml_eval_roc_pr fixture framing).  A
    gating pipeline reads reliability as "how mis-calibrated",
    resolution as "how much the forecast actually separates
    outcomes", uncertainty as the irreducible base-rate floor.

    Cross-engine exactness: the Brier numerator is the exact integer
    Σ(s − 50·pos)² (pos ∈ {0,1}), divided once by 2500N → HALF_UP
    6 dp.  The decomposition terms are 50-term double folds of exact
    integer ratios — far below rounding precision at 6 dp (the
    q_ml_feature_mi ln-fold discipline).

    Scale shape: ONE map-side-combined per-score groupBy (50 reduce
    rows, the roc_pr sweep table); every fold after is constant-size.
    """
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("s"),
        (F.col("l_returnflag") == "R").cast("long").alias("pos"),
    )
    g = li.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("n_s"),
        F.sum("pos").cast("long").alias("pos_s"),
        F.sum(
            (F.col("s") - 50 * F.col("pos")) * (F.col("s") - 50 * F.col("pos"))
        )
        .cast("long")
        .alias("sq"),
    ).transform(materialize)  # 50 rows, consumed 2x (totals + decomposition)
    tot = g.agg(
        F.sum("n_s").cast("long").alias("n"),
        F.sum("pos_s").cast("long").alias("p"),
        F.sum("sq").cast("long").alias("sq"),
    )
    parts = g.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            (F.lit(50.0) * F.col("pos_s") - F.col("n_s") * F.col("s"))
            * (F.lit(50.0) * F.col("pos_s") - F.col("n_s") * F.col("s"))
            / (F.lit(2500.0) * F.col("n_s") * F.col("n"))
        ).alias("rel"),
        F.sum(
            F.col("n_s")
            * (F.col("pos_s") * 1.0 / F.col("n_s") - F.col("p") * 1.0 / F.col("n"))
            * (F.col("pos_s") * 1.0 / F.col("n_s") - F.col("p") * 1.0 / F.col("n"))
            / F.col("n")
        ).alias("res"),
    )
    return (
        tot.crossJoin(F.broadcast(parts))
        .select(
            F.col("n").alias("n_rows"),
            round_half_up(F.col("p") * 1.0 / F.col("n"), 6).alias("base_rate"),
            round_half_up(F.col("sq") / (F.lit(2500.0) * F.col("n")), 6).alias(
                "brier"
            ),
            round_half_up(F.col("rel"), 6).alias("reliability"),
            round_half_up(F.col("res"), 6).alias("resolution"),
            round_half_up(
                (F.col("p") * 1.0 / F.col("n"))
                * (1 - F.col("p") * 1.0 / F.col("n")),
                6,
            ).alias("uncertainty"),
        )
    )


@query(
    "q_stats_cronbach_alpha",
    oracle="""
    WITH items AS (
      SELECT l_quantity AS i1,
             l_extendedprice / 1000.0 AS i2,
             l_discount * 100.0 AS i3,
             l_tax * 100.0 AS i4,
             l_quantity + l_extendedprice / 1000.0
               + l_discount * 100.0 + l_tax * 100.0 AS s
      FROM lineitem
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(4 AS BIGINT) AS k_items,
           round(var_samp(i1), 6) AS var_i1,
           round(var_samp(i2), 6) AS var_i2,
           round(var_samp(i3), 6) AS var_i3,
           round(var_samp(i4), 6) AS var_i4,
           round(var_samp(s), 6)  AS var_total,
           round(4.0 / 3.0 * (1 - (var_samp(i1) + var_samp(i2)
                 + var_samp(i3) + var_samp(i4)) / var_samp(s)), 6)
               AS alpha
    FROM items
    """,
)
def q_stats_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha — internal-consistency reliability of a
    k-item scale, the classic label-quality / rater-battery audit:
    α = k/(k−1) · (1 − Σ σ²ᵢ / σ²_total).  Fixture framing: four
    rescaled lineitem measurements as the "items" (quantity,
    price/1000, discount·100, tax·100); on independent synthetic
    columns α sits near 0, which is itself the informative reading —
    the items don't measure one construct.

    Cross-engine exactness: ``var_samp`` is a single-pass partial-
    merged aggregate in both engines; multi-row double reductions →
    round 6 dp (the q_agg_stats_corr discipline) on every variance
    AND on α, whose extra arithmetic is per-row IEEE on already-
    canonical aggregates.

    Scale shape: one scan, five constant-state variance aggregates
    merged map-side — no shuffle beyond the 1-row final merge, the
    cheapest plan in the stats family.
    """
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("i1"),
        (F.col("l_extendedprice") / 1000.0).alias("i2"),
        (F.col("l_discount") * 100.0).alias("i3"),
        (F.col("l_tax") * 100.0).alias("i4"),
    )
    li = li.withColumn(
        "s", F.col("i1") + F.col("i2") + F.col("i3") + F.col("i4")
    )
    v = lambda c: F.var_samp(c)  # noqa: E731
    return li.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.lit(4).cast("long").alias("k_items"),
        F.round(v("i1"), 6).alias("var_i1"),
        F.round(v("i2"), 6).alias("var_i2"),
        F.round(v("i3"), 6).alias("var_i3"),
        F.round(v("i4"), 6).alias("var_i4"),
        F.round(v("s"), 6).alias("var_total"),
        F.round(
            F.lit(4.0)
            / 3.0
            * (1 - (v("i1") + v("i2") + v("i3") + v("i4")) / v("s")),
            6,
        ).alias("alpha"),
    )


@query(
    "q_ml_eval_lift_gains",
    oracle="""
    WITH lab AS (
      SELECT CAST(floor((50 - l_quantity) / 5) AS BIGINT) AS band,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
      FROM lineitem
    ), b AS (
      SELECT band, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pos) AS BIGINT) AS n_pos
      FROM lab GROUP BY band
    ), c AS (
      SELECT band, n, n_pos,
             CAST(sum(n) OVER (ORDER BY band
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_n,
             CAST(sum(n_pos) OVER (ORDER BY band
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_pos,
             CAST(sum(n) OVER () AS BIGINT) AS tot_n,
             CAST(sum(n_pos) OVER () AS BIGINT) AS tot_pos
      FROM b
    )
    SELECT band, n, n_pos, cum_n, cum_pos,
           floor(cum_pos * 1.0 / tot_pos * 1000000 + 0.5) / 1000000.0
               AS gain,
           floor((cum_pos * 1.0 * tot_n) / (cum_n * 1.0 * tot_pos)
                 * 1000000 + 0.5) / 1000000.0 AS lift
    FROM c
    ORDER BY band
    """,
)
def q_ml_eval_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains / lift table by descending score band — the
    targeting-eval readout ("contact the top k% by model score, how
    many positives do we capture, at what lift over random?") that
    completes the offline-eval block's four views: threshold sweep
    (roc_pr), probability calibration (calibration/brier), ranked
    relevance (ndcg), and now population targeting.

    Fixture framing (the roc_pr convention): score = l_quantity,
    label = (l_returnflag = 'R'); ten equal-width score bands,
    band 0 = the highest-score decile.  ``gain`` = fraction of all
    positives captured through this band; ``lift`` = capture rate
    relative to the base rate, = (cum_pos·N)/(cum_n·P) — the last
    band's gain is 1 and lift is 1 by construction (a built-in
    self-check).

    Cross-engine exactness: every metric is one ratio of exact
    BIGINT products → HALF_UP 6 dp.  Scale shape: one map-side-
    combined per-band groupBy (10 reduce rows); all windows run on
    that constant-size table.
    """
    li = table(spark, sf_dir, "lineitem").select(
        F.floor((50 - F.col("l_quantity")) / 5).cast("long").alias("band"),
        (F.col("l_returnflag") == "R").cast("long").alias("pos"),
    )
    b = li.groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
    )
    w_cum = Window.orderBy("band").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    c = b.select(
        "band",
        "n",
        "n_pos",
        F.sum("n").over(w_cum).cast("long").alias("cum_n"),
        F.sum("n_pos").over(w_cum).cast("long").alias("cum_pos"),
        F.sum("n").over(w_all).cast("long").alias("tot_n"),
        F.sum("n_pos").over(w_all).cast("long").alias("tot_pos"),
    )
    return c.select(
        "band",
        "n",
        "n_pos",
        "cum_n",
        "cum_pos",
        round_half_up(F.col("cum_pos") * 1.0 / F.col("tot_pos"), 6).alias(
            "gain"
        ),
        round_half_up(
            (F.col("cum_pos") * 1.0 * F.col("tot_n"))
            / (F.col("cum_n") * 1.0 * F.col("tot_pos")),
            6,
        ).alias("lift"),
    ).orderBy("band")


@query(
    "q_stats_permutation_signflip",
    oracle="""
    WITH daily AS (
      SELECT CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS day,
             CAST(floor(sum(CASE WHEN event_type = 'click' THEN value
                                 ELSE 0 END) * 100 + 0.5) AS BIGINT)
             - CAST(floor(sum(CASE WHEN event_type = 'view' THEN value
                                   ELSE 0 END) * 100 + 0.5) AS BIGINT)
                 AS d_cents
      FROM events GROUP BY 1
    ), obs AS (
      SELECT CAST(count(*) AS BIGINT) AS n_days,
             CAST(abs(sum(d_cents)) AS BIGINT) AS t_obs
      FROM daily
    ), flips AS (
      SELECT g.salt,
             CAST(abs(sum(CASE WHEN substr(
                        md5(concat(CAST(day AS VARCHAR), '|',
                                   CAST(g.salt AS VARCHAR))), 1, 1)
                        < '8'
                   THEN d_cents ELSE -d_cents END)) AS BIGINT) AS t_k
      FROM daily CROSS JOIN (
        SELECT unnest(generate_series(1, 199)) AS salt) g
      GROUP BY g.salt
    ), tail AS (
      SELECT CAST(sum(CASE WHEN f.t_k >= o.t_obs THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_geq
      FROM flips f CROSS JOIN obs o
    )
    SELECT o.n_days, o.t_obs AS t_obs_abs_cents,
           CAST(199 AS BIGINT) AS k_perms,
           t.n_geq,
           floor((1 + t.n_geq) * 1.0 / 200 * 1000000 + 0.5) / 1000000.0
               AS p_value
    FROM obs o CROSS JOIN tail t
    """,
)
def q_stats_permutation_signflip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PERMUTATION (randomization) test — the modern,
    assumption-free member of the paired-comparison family: sign-flip
    the daily click-minus-view differences under 199 md5-derived
    pseudo-random flip patterns and read the two-sided p-value
    directly from the null distribution p = (1 + #{|T_k| ≥ |T_obs|})
    / (K + 1).  Where q_stats_wilcoxon_signed leans on the normal
    approximation of a rank statistic, this tests the RAW mean
    difference with no distributional assumption at all — the test a
    metrics team reaches for when n is small or the distribution is
    ugly.

    Determinism discipline: flip signs come from
    md5(epoch_day || '|' || salt) — the engine's standing
    content-hash trick (q_split_assign / q_sample_* lineage), so both
    engines flip identically and reruns reproduce bit-for-bit; no RNG
    state anywhere.

    Cross-engine exactness: daily sums land in EXACT INTEGER CENTS
    (floor(x·100 + 0.5) per the TPC-H money discipline) so every
    T_k, T_obs and the tail count are exact BIGINTs — the ≥
    comparison can never be flipped by summation order; the p-value
    is one integer ratio → HALF_UP 6 dp.

    Scale shape: ONE day-keyed aggregate is the only data-sized pass;
    the 199-fold explode runs over the days-long difference table
    (calendar-bounded × K rows), and the null distribution is a
    199-row aggregate.  K is a constant chosen for the standard
    p ∈ {k/200} grid.
    """
    ev = table(spark, sf_dir, "events")
    cents = lambda t: F.floor(  # noqa: E731
        F.sum(
            F.when(F.col("event_type") == t, F.col("value")).otherwise(0.0)
        )
        * 100
        + 0.5
    ).cast("long")
    daily = ev.groupBy(
        (F.unix_timestamp(F.date_trunc("day", "ts")) / 86400)
        .cast("long")
        .alias("day")
    ).agg(
        (cents("click") - cents("view")).alias("d_cents")
    ).transform(materialize)  # days-long, consumed 2x (observed + 199 flips)
    obs = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.abs(F.sum("d_cents")).cast("long").alias("t_obs"),
    )
    flips = (
        daily.select(
            "day",
            "d_cents",
            F.explode(F.sequence(F.lit(1), F.lit(199))).alias("salt"),
        )
        .groupBy("salt")
        .agg(
            F.abs(
                F.sum(
                    F.when(
                        F.substring(
                            F.md5(
                                F.concat(
                                    F.col("day").cast("string"),
                                    F.lit("|"),
                                    F.col("salt").cast("string"),
                                )
                            ),
                            1,
                            1,
                        )
                        < "8",
                        F.col("d_cents"),
                    ).otherwise(-F.col("d_cents"))
                )
            )
            .cast("long")
            .alias("t_k")
        )
    )
    tail = flips.crossJoin(F.broadcast(obs)).agg(
        F.sum(F.when(F.col("t_k") >= F.col("t_obs"), 1).otherwise(0))
        .cast("long")
        .alias("n_geq")
    )
    return (
        obs.crossJoin(F.broadcast(tail))
        .select(
            "n_days",
            F.col("t_obs").alias("t_obs_abs_cents"),
            F.lit(199).cast("long").alias("k_perms"),
            "n_geq",
            round_half_up((1 + F.col("n_geq")) * 1.0 / 200, 6).alias(
                "p_value"
            ),
        )
    )


@query(
    "q_sample_neyman",
    oracle="""
    WITH m AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sx,
             CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx
      FROM documents GROUP BY lang
    ), w AS (
      SELECT lang, n_docs, sx,
             sqrt(CAST(n_docs * sxx - sx * sx AS DOUBLE)) AS ns
      FROM m
    ), t AS (SELECT sum(ns) AS total_ns FROM w)
    SELECT w.lang, w.n_docs, w.sx AS sum_chars,
           floor(w.ns / t.total_ns * 1000000 + 0.5) / 1000000.0
               AS neyman_weight,
           CAST(floor(1000 * w.ns / t.total_ns + 0.5) AS BIGINT)
               AS target_n,
           CAST(least(floor(1000 * w.ns / t.total_ns + 0.5), w.n_docs)
                AS BIGINT) AS n_sampled
    FROM w CROSS JOIN t
    ORDER BY w.lang
    """,
)
def q_sample_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEYMAN (variance-proportional) stratified-sampling allocation —
    the statistically optimal quota design the uniform
    (q_sample_balanced) and size-proportional policies bracket:
    for a fixed budget B, allocate q_l ∝ N_l·σ_l so strata with more
    internal variance get more samples (minimum-variance unbiased
    stratified mean).  Strata = language, variable = document length,
    B = 1000; the emitted table is the allocation design a sampling
    run feeds into the deterministic md5-rank selector
    (q_sample_balanced's machinery).

    Cross-engine exactness: N_l·σ_l = √(N·Σx² − (Σx)²) is computed
    from EXACT integer moments (n_chars is integer), so the per-row
    sqrt is bit-identical IEEE in both engines; the |langs|-term
    weight denominator is a double fold of those values (rounded
    ratios at 6 dp), and quota floors sit on irrational ratios —
    never at a representable boundary.

    Scale shape: one map-side-combined per-lang moment aggregate
    (|langs| reduce rows); the weight fold and quota arithmetic run
    on that constant-size table.
    """
    m = table(spark, sf_dir, "documents").groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sx"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("sxx"),
    )
    w = m.select(
        "lang",
        "n_docs",
        "sx",
        F.sqrt(
            (F.col("n_docs") * F.col("sxx") - F.col("sx") * F.col("sx"))
            .cast("double")
        ).alias("ns"),
    ).transform(materialize)  # |langs| rows, consumed 2x (total + quotas)
    t = w.agg(F.sum("ns").alias("total_ns"))
    target = F.floor(1000 * F.col("ns") / F.col("total_ns") + 0.5)
    return (
        w.crossJoin(F.broadcast(t))
        .select(
            "lang",
            "n_docs",
            F.col("sx").alias("sum_chars"),
            round_half_up(F.col("ns") / F.col("total_ns"), 6).alias(
                "neyman_weight"
            ),
            target.cast("long").alias("target_n"),
            F.least(target, F.col("n_docs")).cast("long").alias("n_sampled"),
        )
        .orderBy("lang")
    )


@query(
    "q_sample_apportion_lrm",
    oracle="""
    WITH m AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang
    ), t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM m),
    q AS (
      SELECT m.lang, m.n_docs,
             CAST(1000 * m.n_docs // t.n AS BIGINT) AS base,
             CAST(1000 * m.n_docs % t.n AS BIGINT) AS remainder
      FROM m CROSS JOIN t
    ), lv AS (
      SELECT CAST(1000 - sum(base) AS BIGINT) AS leftover FROM q
    ), r AS (
      SELECT q.*, lv.leftover,
             row_number() OVER (ORDER BY q.remainder DESC, q.lang)
                 AS rem_rank
      FROM q CROSS JOIN lv
    )
    SELECT lang, n_docs, base, remainder,
           CAST(base + CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS quota
    FROM r
    ORDER BY lang
    """,
)
def q_sample_apportion_lrm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) APPORTIONMENT of a fixed sampling
    budget across strata — the exact-budget companion of
    q_sample_neyman: independent floors of proportional shares leave
    budget on the table (Σ floor(B·wₗ) < B), so the leftover seats go
    to the largest fractional remainders, and the quotas sum to B
    EXACTLY — the allocation a sampling job must honor when "1000
    docs" is a hard contract, not a target.

    Cross-engine exactness: 100% INTEGER arithmetic — base =
    (B·Nₗ) DIV N, remainder = (B·Nₗ) MOD N, leftover = B − Σ base,
    award by (remainder DESC, lang) rank.  No doubles anywhere, no
    rounding discipline needed; the deterministic lang tie-break pins
    equal remainders identically in both engines.

    Scale shape: one map-side-combined per-lang count (|langs| reduce
    rows); the apportionment windows run on that constant-size table.
    """
    m = table(spark, sf_dir, "documents").groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    ).transform(materialize)  # |langs| rows, consumed 2x (total + shares)
    t = m.agg(F.sum("n_docs").cast("long").alias("n"))
    q = m.crossJoin(F.broadcast(t)).select(
        "lang",
        "n_docs",
        F.expr("1000 * n_docs DIV n").cast("long").alias("base"),
        (1000 * F.col("n_docs") % F.col("n")).cast("long").alias("remainder"),
    )
    lv = q.agg((F.lit(1000) - F.sum("base")).cast("long").alias("leftover"))
    r = q.crossJoin(F.broadcast(lv)).withColumn(
        "rem_rank",
        F.row_number().over(Window.orderBy(F.desc("remainder"), F.asc("lang"))),
    )
    return r.select(
        "lang",
        "n_docs",
        "base",
        "remainder",
        (
            F.col("base")
            + F.when(F.col("rem_rank") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("quota"),
    ).orderBy("lang")
