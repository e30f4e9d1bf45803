"""Multi-dimensional data layout — Z-order (Morton) clustering for
2-D scan pruning.

A 100 TB table is pruned, not scanned: parquet keeps min/max stats
per file/row-group, and the reader skips units whose range can't
match the pushed filter.  Stats only help if the LAYOUT clusters the
filtered columns — a sort on user_id makes time filters useless and
vice versa.  Z-ordering interleaves the bits of both dimensions so
every file covers a small rectangle of (user, time) space, and a 2-D
box predicate overlaps few rectangles — the technique behind Delta
``OPTIMIZE ZORDER BY`` and ClickHouse/Iceberg multi-dim clustering,
expressed here with nothing but column arithmetic + a range
repartition.

The mirror is write-once per dataset content (fingerprint sidecar,
warehouse home — same caching discipline as the IVF index and the
bucketed mirror); the registered query reads it with an ordinary
box filter whose values are INVISIBLE in the result (the oracle runs
on the raw table), while tests/test_plans.py measures the visible
part: the fraction of layout units whose stats overlap the box,
z-order vs single-column sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from i3cols_spark.operators.registry import query
from i3cols_spark.sources.tables import read_parquet, table

#: Files per mirror = pruning units.  At real scale this is thousands
#: of files; 32 keeps the fixture mirror cheap while leaving pruning
#: measurable.
_N_FILES = 32
_EPOCH = "2024-01-01"


def zvalue(user: Column, day_idx: Column, bits: int = 16) -> Column:
    """Morton code: interleave the low ``bits`` bits of two ints
    (user even positions, day odd) — pure codegen shift/mask
    arithmetic, no UDF.

    Inputs are clamped to [0, 2^bits): a day before the layout epoch
    clamps to 0 (its sign bits would otherwise scramble the curve),
    and ids ≥ 2^bits wrap — beyond that range the curve stops
    clustering, so a deployment whose keys outgrow ``bits`` raises
    ``bits`` and rewrites the mirror (the layout marker records
    ``bits``, so a code-level change rebuilds instead of serving the
    stale curve)."""
    mask = (1 << bits) - 1
    u = F.greatest(user.cast("long"), F.lit(0)).bitwiseAND(mask)
    d = F.greatest(day_idx.cast("long"), F.lit(0)).bitwiseAND(mask)
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftrightunsigned(u, i).bitwiseAND(1), 2 * i)
            + F.shiftleft(F.shiftrightunsigned(d, i).bitwiseAND(1), 2 * i + 1)
        )
    return z


def _events_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    day_idx = F.datediff(F.col("ts").cast("date"), F.lit(_EPOCH).cast("date"))
    return ev.select(
        "event_id", "user_id", "event_type", "value",
        F.unix_micros("ts").alias("us"),
        day_idx.alias("day_idx"),
    )


def zorder_mirror(spark: SparkSession, sf_dir: str, order: str = "z") -> str:
    """Write-once mirror of events laid out by ``order``:

    - ``"z"``      — range-partitioned + sorted by the Morton code of
                     (user_id, day_idx): each file is a (user, time)
                     rectangle;
    - ``"linear"`` — the control layout, sorted by user_id alone (what
                     a naive single-key sort produces).

    Returns the mirror path.  Cached per dataset content AND layout
    parameters via sources/mirrors.write_once (the shared
    fingerprint-sidecar protocol): changing the Morton ``bits`` or
    file count rebuilds the mirror the same way a fixture
    regeneration does.
    """
    import os

    from i3cols_spark.sources.mirrors import dataset_tag, write_once

    if order == "z":
        key = zvalue(F.col("user_id"), F.col("day_idx"))
    elif order == "linear":
        key = F.col("user_id")
    else:
        raise ValueError(f"unknown layout order: {order}")

    def build(out: str) -> None:
        (
            _events_projection(spark, sf_dir)
            .withColumn("__k", key)
            .repartitionByRange(_N_FILES, "__k")
            .sortWithinPartitions("__k")
            .drop("__k")
            .write.mode("overwrite")
            .parquet(out)
        )

    path, _ = write_once(
        spark,
        "zorder_mirror",
        f"{order}_{dataset_tag(sf_dir)}",
        [os.path.join(sf_dir, "events.parquet")],
        build,
        {"order": order, "bits": 16, "n_files": _N_FILES, "version": 2},
    )
    return path


@query(
    "q_scan_zorder",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    WHERE user_id BETWEEN 3 AND 75
      AND ts >= TIMESTAMP '2024-01-08'
      AND ts <  TIMESTAMP '2024-01-15'
    GROUP BY event_type
    """,
)
def q_scan_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D box scan (a WIDE user cohort × one narrow week) over the
    Z-ORDERED mirror of the event log — the box shape where
    multi-dim clustering actually pays: the user range spans many
    layout units, so a user-sorted layout cannot prune the time
    predicate AT ALL (every kept-user file spans all 30 days), while
    Morton rectangles bound both dimensions per file.  (A box that is
    razor-thin in ONE dimension is the single-key sort's home game —
    that trade-off is exactly what the side-by-side test shows.)  Values are identical to the raw-table
    scan the oracle runs — the layout's whole effect is physical:
    both predicates push to the parquet scan, and because every file
    covers a Morton rectangle, file/row-group min-max stats prune
    most units on BOTH dimensions at once (a user_id-sorted layout
    prunes only one; tests/test_plans.py measures the overlap-unit
    counts of the two layouts side by side).  At 100 TB this is the
    difference between reading a few rectangles and reading every
    file that contains any of the cohort's rows.
    """
    path = zorder_mirror(spark, sf_dir, "z")
    lo_us = 1_704_672_000_000_000  # 2024-01-08 00:00 UTC in µs
    hi_us = 1_705_276_800_000_000  # 2024-01-15 00:00 UTC
    df = read_parquet(spark, path).filter(
        (F.col("user_id") >= 3)
        & (F.col("user_id") <= 75)
        & (F.col("us") >= lo_us)
        & (F.col("us") < hi_us)
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


def _month_partitioned_mirror(spark: SparkSession, sf_dir: str) -> str:
    """Write-once hive-partitioned orders mirror, one directory per
    calendar month (the reference's category-index layout axis,
    SURVEY §2.2 category slicing) — the layout dynamic partition
    pruning needs to have something to prune."""
    import os

    from i3cols_spark.sources.mirrors import dataset_tag, write_once

    def build(out: str) -> None:
        src = table(spark, sf_dir, "orders").withColumn(
            "o_month", F.date_format("o_orderdate", "yyyy-MM")
        )
        # one shuffle keyed on the partition column → one file per
        # month directory instead of |tasks|·|months| small files
        src.repartition("o_month").write.mode("overwrite").partitionBy(
            "o_month"
        ).parquet(out)

    path, _ = write_once(
        spark,
        "month_part_mirror",
        f"orders_{dataset_tag(sf_dir)}",
        [os.path.join(sf_dir, "orders.parquet")],
        build,
        {"format": "parquet-hive-month", "version": 1},
    )
    return path


@query(
    "q_scan_dpp_join",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE month(o_orderdate) <= 3
    GROUP BY 1
    """,
)
def q_scan_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the month-partitioned fact mirror is
    joined to a dim whose FILTER (first-quarter months) is only known
    at runtime — Catalyst plants a dynamicpruningexpression in the
    fact scan's PartitionFilters, reusing the dim's broadcast as the
    IN-set, so the fact side READS 12/80 partition directories instead
    of scanning everything and filtering after the join.  This is the
    join-driven form of the reference's category-index slicing
    (static pruning is q_scan_zorder's axis; DPP is what survives when
    the slice comes from ANOTHER TABLE).  Plan-tested: the formatted
    plan must carry dynamicpruning in the scan's partition filters.

    At 100 TB the fact side is the 100 TB; the dim broadcast already
    exists for the join, so pruning is free — without DPP this plan
    degrades to a full scan, which is THE difference between touching
    3 months and touching 7 years.  The oracle recomputes from the
    raw table, so mirror layout, partition-column round-trip (string
    'yyyy-MM' survives hive-style directory encoding) and the join
    are all value-hash-checked.
    """
    path = _month_partitioned_mirror(spark, sf_dir)
    fact = read_parquet(spark, path)
    dim = (
        table(spark, sf_dir, "orders")
        .select(F.date_format("o_orderdate", "yyyy-MM").alias("m"))
        .distinct()
        .filter(F.substring("m", 6, 2).isin("01", "02", "03"))
    )
    return (
        fact.join(F.broadcast(dim), fact.o_month == dim.m)
        .groupBy("o_month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )
