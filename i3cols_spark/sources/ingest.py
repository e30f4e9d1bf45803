"""Ingest / ETL — the i3cols extraction pipeline re-expressed as Spark
jobs (SURVEY §2.1 S1–S11, §3.1 EP1/EP2).

Reference lifecycle: CLI → expand+natural-sort file paths → regex-parse
run/subrun from names (i3cols/regexes.py) → multiprocessing.Pool over
files → per-file icetray frame iteration into NumPy structured arrays
(i3cols/extract.py) → concatenate + reindex + save column dirs
(i3cols/cols.py::concatenate_and_index_cols, ::save_item).

Spark mapping: the Pool IS task parallelism over input splits; the
per-key column dirs ARE parquet columns; the category index IS
``partitionBy``; `.npz` compression IS parquet codec choice; offset
fix-up disappears (Arrow list offsets).  What remains to write is thin
and declarative — exactly the point of SURVEY §4.1.
"""

from __future__ import annotations

import glob

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from i3cols_spark.publish import sink
from i3cols_spark.session import configure
from i3cols_spark.sources.tables import read_parquet

#: i3cols/regexes.py::I3_FNAME_RE analog: run/subrun from file names
#: like  Level5_IC86.2017_data_Run00129876_Subrun00000012.i3.zst
RUN_RE = r"[Rr]un(\d+)"
SUBRUN_RE = r"[Ss]ubrun(\d+)"


def extract_jsonl(
    spark: SparkSession,
    paths: str | list[str],
    schema: T.StructType | None = None,
) -> DataFrame:
    """S1/S2 — scan serial event records (JSON-lines stand-in for the
    icetray `.i3` stream) into a typed DataFrame.

    With ``schema=None`` Spark infers it — the auto-key-discovery path
    (i3cols/extract.py auto-discovery); pass a registry schema from
    sources.schemas for the declared-dtype path.  Compressed inputs
    (.gz/.bz2/.zst) decode transparently, matching the reference's
    compressed-i3 handling.
    """
    configure(spark)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(paths)


def with_run_info(df: DataFrame) -> DataFrame:
    """S3 — parse run/subrun out of source file names (regexes.py
    analog): derive partition columns from ``input_file_name()``."""
    fname = F.input_file_name()
    return df.withColumn(
        "run", F.regexp_extract(fname, RUN_RE, 1).cast("long")
    ).withColumn("subrun", F.regexp_extract(fname, SUBRUN_RE, 1).cast("long"))


def write_columns(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    compression: str = "zstd",
    mode: str = "error",
) -> None:
    """S4/S8/S9 — columnar sink: parquet with codec + category layout.

    ``partition_by`` is the category index (run/season): readers
    filtering on those columns get partition pruning, the exact
    semantics of i3cols' per-category (start, stop) slices.  zstd
    replaces `.npz` (S8) — compression is a write option, not an
    operator.

    The job writes a private sibling of ``path`` that is published by
    directory swap (``i3cols_spark.publish.sink``), so a job that fails
    leaves the previous dataset whole.  ``mode`` is ``"overwrite"`` or
    ``"error"`` (FileExistsError when ``path`` exists); Spark's
    ``append`` and ``ignore`` cannot be published whole and raise
    ValueError.
    """
    if mode not in ("error", "overwrite"):
        raise ValueError(f"mode must be 'error' or 'overwrite', not {mode!r}")
    with sink(path, overwrite=mode == "overwrite") as tmp:
        df.write.option("compression", compression).partitionBy(*partition_by).parquet(tmp)


def partition_columns(path: str) -> tuple[str, ...]:
    """The category (``partitionBy``) columns of the dataset at
    ``path``: its ``name=value`` directory levels, outermost first."""
    cols: list[str] = []
    while level := sorted(glob.glob(f"{glob.escape(path)}/*=*/")):
        path = level[0]
        cols.append(path.split("/")[-2].partition("=")[0])
    return tuple(cols)


def read_columns(
    spark: SparkSession, path: str, keys: list[str] | None = None
) -> DataFrame:
    """S5/S6 — ``cols.load(dirpath, keys=..., mmap=True)`` analog: lazy
    parquet scan; ``keys`` projects columns (pruning pushed to the
    file footers, the storage-layout property i3cols gets from one-dir-
    per-column).  The schema, partition columns included, comes from
    the session's schema memo (``tables.read_parquet``), so only the
    first open of unchanged files runs the inference job."""
    configure(spark)
    df = read_parquet(spark, path)
    if keys is not None:
        df = df.select(*keys)
    return df


def combine(spark: SparkSession, paths: list[str], out: str | None = None, run_values: list[int] | None = None) -> DataFrame:
    """S7 — ``concatenate_and_index_cols`` / CLI ``combine_runs``:
    union N datasets by column name, tagging each with its run so the
    category index survives the merge.  No offset arithmetic — Arrow
    list offsets are per-file and remain valid after union.
    """
    dfs = []
    for i, p in enumerate(paths):
        df = read_columns(spark, p)
        if "run" not in df.columns:
            run_val = run_values[i] if run_values else i
            df = df.withColumn("run", F.lit(run_val).cast("long"))
        dfs.append(df)
    merged = dfs[0]
    for df in dfs[1:]:
        merged = merged.unionByName(df, allowMissingColumns=True)
    if out is not None:
        write_columns(merged, out, partition_by=("run",), mode="overwrite")
    return merged


def compact(spark: SparkSession, path: str, out: str, target_files: int = 0, compression: str = "zstd") -> None:
    """Maintenance: rewrite a dataset with ``compression`` into at most
    ``target_files`` files per partition (0 = one per core).  The
    small-files problem is the 100 TB analog of i3cols' per-file temp
    dirs needing a combine step.  Also the body of
    ``compat.compress``/``decompress``.

    The output keeps the source's category layout: it is partitioned
    by the source's ``partition_columns``, so filters on them still
    prune.  The scan is coalesced to ``target_files`` tasks, each
    writing at most one file per partition.
    """
    df = read_columns(spark, path).coalesce(target_files or spark.sparkContext.defaultParallelism)
    write_columns(df, out, partition_by=partition_columns(path), compression=compression, mode="overwrite")


def events_to_i3_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the reference-shaped nested event table from the driver
    fixtures (FIXTURES.md §B): orders ≙ event headers, lineitem ≙ the
    ragged pulse series.  Used by engine-internal tests to exercise the
    I3_EVENT_T shape end-to-end (ragged write → read → explode →
    rebuild)."""
    from i3cols_spark.sources.tables import table

    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    pulses = (
        li.select(
            "l_orderkey",
            F.struct(
                F.unix_micros(F.col("l_shipdate").cast("timestamp"))
                .cast("double")
                .alias("time"),
                F.col("l_extendedprice").cast("float").alias("charge"),
                F.col("l_quantity").cast("float").alias("width"),
                F.col("l_linenumber").alias("flags"),
            ).alias("pulse"),
        )
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_list("pulse")).alias("pulses"))
    )
    return (
        orders.join(pulses, orders.o_orderkey == pulses.l_orderkey, "left")
        .select(
            F.col("o_orderkey").alias("event_id"),
            F.struct(
                F.lit(1).cast("long").alias("run_id"),
                F.lit(0).cast("long").alias("sub_run_id"),
                F.col("o_orderkey").alias("event_id"),
            ).alias("header"),
            "pulses",
        )
    )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
) -> None:
    """Bucketed managed table: pre-shuffles data into ``n_buckets`` hash
    buckets on ``bucket_col`` so later joins/aggregations on that key
    are co-located — NO exchange at query time.

    This is the 100 TB answer to "lineitem ⋈ orders on every query":
    pay the shuffle once at write, never again (tests/test_plans.py
    asserts the bucketed join plans without Exchange).  The i3cols
    analog is alignment-by-construction: row i everywhere is event i.
    """
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.format("parquet").saveAsTable(table_name)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the (large, skewed) left side into
    ``n_salts`` sub-keys and explode the (smaller) right side across all
    salts, so one hot key spreads over n_salts reducers.

    AQE's skew-join split handles most cases automatically; this is the
    explicit fallback for extreme single-key skew (one user with 10% of
    events) where even a split partition is one task.  Correct for
    inner/left joins on an equi key.
    """
    salted_left = left.withColumn(
        "__salt", (F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts))).cast("int")
    )
    salted_right = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = salted_left.join(salted_right, [key, "__salt"], how)
    return out.drop("__salt")
