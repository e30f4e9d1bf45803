"""Columnar table loading — the i3cols ``cols.load`` analog.

i3cols loads a directory of per-key ``.npy`` columns into a dict of
NumPy arrays with optional mmap laziness and key-subset projection
(reference: i3cols/cols.py::load, ::load_item, ::find_array_paths —
SURVEY §2.1 S5/S6).  Here the store is Parquet and the lazy handle is a
DataFrame: column pruning and predicate pushdown replace
``load(keys=...)`` + mmap, and Catalyst applies both automatically from
the query itself, so ``table()`` takes no ``keys`` argument — callers
just ``.select()``.

Schema memo (the ``cols.load``-once analog): inferring a parquet
schema launches one Spark job, and every query opens its tables
afresh, so ``table_schema`` memoises each dataset's inferred
``StructType`` and ``read_parquet`` serves later opens with
``spark.read.schema(s).parquet(path)`` — no inference job (a dataset
with more partition directories than
``spark.sql.sources.parallelPartitionDiscovery.threshold`` is still
listed in a job, hit or miss).  A miss
hands back the frame that inferred the schema, so no open lists the
path twice.  The memo serves fixture tables (``table()``), ``ingest``
datasets (``read_columns``) and the derived mirrors
(``sources/mirrors.py``) alike: outside this module, every parquet
read in the package either goes through ``read_parquet`` or passes an
explicit schema.

* Key: the SparkSession (weakly held, so a dropped session drops its
  entries), the fixture name (``None`` for an unchecked read) and the
  absolute path.  Each entry records the version it was inferred at:
  the content fingerprint of the files (``mirrors.data_fingerprint``:
  size + mtime walk + a 4 KiB footer sample) and the values of the
  session confs that change the inferred types (``_INFERENCE_CONFS``).
* Invalidation: an open whose version differs re-infers and replaces
  the entry, so an in-place rewrite (or a new ``events.ts`` flavor),
  or a flipped conf, is seen on the next open.
* ``check_fixture_schema`` runs on every memo fill and a schema enters
  the memo only after it passes, so a drifted file raises on every
  call.  ``normalize_events_ts`` runs on every open.
* DataFrames are NOT memoised: two opens sharing one plan would share
  attribute ids, which makes self-joins ambiguous.

Scale note (100 TB): this reader is a thin wrapper over the Parquet
datasource, so partition pruning (`partitionBy` layout written by
sources.ingest), row-group skipping via min/max stats, and
``spark.sql.files.maxPartitionBytes`` splitting all apply unchanged on
a real cluster.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.storagelevel import StorageLevel

from i3cols_spark.session import configure
from i3cols_spark.sources.mirrors import data_fingerprint

#: The driver-supplied star schema + extension fixtures (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Post-normalization contract schema per fixture table: column name →
#: allowed Spark dtype strings.  Most columns pin ONE dtype; columns
#: with several field-tested parquet flavors (the round-3 NTZ class:
#: date columns arrive tz-less or tz-aware depending on the fixture
#: generator) list every flavor the operators are verified against.
#: ``table()`` checks this on every schema-memo fill — metadata-only,
#: no scan — so a regenerated fixture that drifts a logical type fails LOUDLY
#: at the choke point, naming the column, instead of surfacing as a
#: cryptic mid-query error or a silent value change (round 3's
#: breakage class).
_DATE_FLAVORS = ("timestamp_ntz", "timestamp")
FIXTURE_SCHEMAS: dict[str, dict[str, tuple[str, ...]]] = {
    "region": {"r_regionkey": ("int",), "r_name": ("string",)},
    "nation": {
        "n_nationkey": ("int",), "n_name": ("string",),
        "n_regionkey": ("int",),
    },
    "customer": {
        "c_custkey": ("bigint",), "c_name": ("string",),
        "c_nationkey": ("int",), "c_acctbal": ("double",),
        "c_mktsegment": ("string",),
    },
    "supplier": {
        "s_suppkey": ("bigint",), "s_name": ("string",),
        "s_nationkey": ("int",), "s_acctbal": ("double",),
    },
    "part": {
        "p_partkey": ("bigint",), "p_name": ("string",),
        "p_brand": ("string",), "p_type": ("string",),
        "p_size": ("int",), "p_retailprice": ("double",),
    },
    "orders": {
        "o_orderkey": ("bigint",), "o_custkey": ("bigint",),
        "o_orderstatus": ("string",), "o_totalprice": ("double",),
        "o_orderdate": _DATE_FLAVORS, "o_orderpriority": ("string",),
    },
    "lineitem": {
        "l_orderkey": ("bigint",), "l_partkey": ("bigint",),
        "l_suppkey": ("bigint",), "l_linenumber": ("int",),
        "l_quantity": ("double",), "l_extendedprice": ("double",),
        "l_discount": ("double",), "l_tax": ("double",),
        "l_returnflag": ("string",), "l_linestatus": ("string",),
        "l_shipdate": _DATE_FLAVORS,
    },
    # events is checked AFTER normalize_events_ts, so ts is always the
    # contract TimestampType and ts_ns the nanosecond shadow.
    "events": {
        "event_id": ("bigint",), "ts": ("timestamp",),
        "user_id": ("bigint",), "event_type": ("string",),
        "value": ("double",), "props": ("string",),
        "ts_ns": ("bigint",),
    },
    "documents": {
        "doc_id": ("bigint",), "text": ("string",), "lang": ("string",),
        "source": ("string",), "n_chars": ("bigint",),
    },
    "embeddings": {
        "vec_id": ("bigint",), "embedding": ("array<float>",),
        "label": ("int",),
    },
}


class SchemaDriftError(RuntimeError):
    """A fixture table's parquet schema no longer matches the engine
    contract — raised at ``table()`` load, naming every drift."""


def check_fixture_schema(name: str, df: DataFrame) -> None:
    """Compare ``df``'s dtypes to ``FIXTURE_SCHEMAS[name]``; raise
    :class:`SchemaDriftError` listing every missing / unexpected /
    retyped column.  Metadata-only (``df.dtypes`` comes from the
    parquet footer already read at plan time)."""
    expected = FIXTURE_SCHEMAS.get(name)
    if expected is None:
        return
    actual = dict(df.dtypes)
    drifts = []
    for col, allowed in expected.items():
        if col not in actual:
            drifts.append(f"missing column {col!r} (expected {'/'.join(allowed)})")
        elif actual[col] not in allowed:
            drifts.append(
                f"column {col!r} is {actual[col]!r}, expected {'/'.join(allowed)}"
            )
    for col in actual:
        if col not in expected:
            drifts.append(f"unexpected column {col!r} ({actual[col]!r})")
    if drifts:
        raise SchemaDriftError(
            f"fixture table {name!r} drifted from the engine contract "
            f"(regenerated testdata? update sources/tables.py:FIXTURE_SCHEMAS "
            f"and re-verify the operators): " + "; ".join(drifts)
        )


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table from ``{sf_dir}/{name}.parquet`` (lazy).

    ``events.ts`` arrives in either of two parquet flavors depending on
    the fixture generator, and ``table()`` normalizes both to the same
    contract — ``ts`` is session-zoned TimestampType (µs) and ``ts_ns``
    is the full-precision epoch-nanos LongType shadow (the I3TIME_T
    "DAQ tick" analog — SURVEY §1.2 / §4.3):

    * TIMESTAMP(NANOS): Spark reads it as LongType epoch-nanos
      (session.py sets ``nanosAsLong``); ``ts`` is derived via integer
      ``div 1000`` — the exact truncation DuckDB applies casting
      TIMESTAMP_NS → TIMESTAMP, so the oracle sees identical values.
    * timestamp[us] with no timezone: Spark 4 reads TIMESTAMP_NTZ,
      which ``unix_micros``/``window()`` reject.  The session timezone
      is pinned UTC on both engines (session.py / compare harness), so
      ``cast("timestamp")`` is value-identical and ``ts_ns`` is the
      µs ticks ×1000.
    """
    configure(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = read_parquet(spark, path, name)
    if name == "events":
        df = normalize_events_ts(df)
    return df


#: Session confs that change the types parquet schema inference yields.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

#: SparkSession → {(fixture name, abs path): (version, schema)}, where
#: version = (content fingerprint, inference conf values).  No lock:
#: concurrent fills of one key store the same schema.
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def table_schema(spark: SparkSession, path: str, name: str | None = None) -> StructType:
    """The parquet schema inferred from ``path`` (before events
    normalization), memoised per session and path and re-inferred when
    the files' content fingerprint or an inference conf changes
    (module docstring).  With a fixture ``name`` every fill is first
    checked against ``FIXTURE_SCHEMAS[name]`` — the name is part of
    the key, so an unchecked entry never serves a checked open.  A
    path that is not on the local filesystem is inferred on every
    call."""
    got = _memo(spark, path, name)
    return got if isinstance(got, StructType) else got.schema


def read_parquet(spark: SparkSession, path: str, name: str | None = None) -> DataFrame:
    """Open ``path`` with ``table_schema``'s memo: a hit reads with
    ``spark.read.schema(s)`` (no job), and a miss returns the frame
    that inferred the schema, so the path is listed once either way."""
    got = _memo(spark, path, name)
    return spark.read.schema(got).parquet(path) if isinstance(got, StructType) else got


def _memo(spark: SparkSession, path: str, name: str | None) -> StructType | DataFrame:
    """The memoised schema of ``path`` on a hit; on a miss the frame
    that inferred it, after the fixture check and the memo fill."""
    local = os.path.exists(path)
    if local:
        key = (name, os.path.abspath(path))
        version = (
            data_fingerprint(path),
            tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS),
        )
        hit = _SCHEMAS.get(spark, {}).get(key)
        if hit is not None and hit[0] == version:
            return hit[1]
    df = spark.read.parquet(path)
    check_fixture_schema(name, normalize_events_ts(df) if name == "events" else df)
    if local:
        _SCHEMAS.setdefault(spark, {})[key] = (version, df.schema)
    return df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize an events frame's ``ts`` to the engine contract in one
    projection — works on batch AND streaming DataFrames (dtype
    inspection only, no actions).  Unrecognized ``ts`` types pass
    through unchanged."""
    ts_type = dict(df.dtypes).get("ts")
    raw = F.col("ts")
    if ts_type == "bigint":
        ts, ts_ns = F.timestamp_micros(F.expr("ts div 1000")), raw
    elif ts_type == "timestamp_ntz":
        ts = raw.cast("timestamp")
        ts_ns = F.unix_micros(ts) * F.lit(1000)
    elif ts_type == "timestamp":
        # tz-aware µs parquet (the third flavor a generator could emit)
        # — ts is already the contract type; only the ns shadow column
        # needs deriving.
        ts, ts_ns = raw, F.unix_micros(raw) * F.lit(1000)
    else:
        return df
    # Keep the file's column order with ts in place, and any column
    # outside the contract, so check_fixture_schema reports it; ts_ns
    # is always the one derived here.
    return df.select(
        *(ts.alias("ts") if c == "ts" else c for c in df.columns if c != "ts_ns"),
        ts_ns.alias("ts_ns"),
    )


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    """Load several tables → dict (the ``cols.load`` dict-of-arrays analog)."""
    return {name: table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register temp views so operators can use ``spark.sql`` freely."""
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)


def spread(df: DataFrame, spark: SparkSession, min_bytes: int = 256 << 10) -> DataFrame:
    """Round-robin a NARROW single-split input across cores — but only
    when the shuffle can pay for itself.

    The documents/embeddings fixtures arrive as one parquet file ⇒ one
    input split, so per-row CPU work (shingling, hashing, GEMM prep)
    would otherwise run on one core; at production scale the file
    count provides the parallelism and this becomes a no-op.  Skipped
    when the input is already split at least ``defaultParallelism``
    ways or is too small (< ``min_bytes``) for task-spreading to beat
    the fixed cost of a 32-task shuffle — at oracle SF (sf0.01) the
    unconditional form was pure per-query overhead.
    """
    import os
    from urllib.parse import unquote

    target = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
        # inputFiles() returns URIs: strip the scheme AND percent-decode
        # — a path with spaces/unicode arrives URL-encoded and a raw
        # getsize() on it silently reports the file missing.
        paths = [unquote(f.removeprefix("file:")) for f in files]
        nbytes = sum(os.path.getsize(p) for p in paths if os.path.exists(p))
    except Exception:  # non-file-backed plan — keep the old behavior
        return df.repartition(target)
    if len(files) >= target or nbytes < min_bytes:
        return df
    return df.repartition(target)


#: Spark job tag carried by every job a ``materialize`` call launches.
MATERIALIZE_TAG = "i3cols.materialize"


def materialize(df: DataFrame, *, lazy: bool = False) -> DataFrame:
    """Cut ``df``'s lineage with a local checkpoint — the engine's one
    materialisation site (the RDD paper's lineage truncation, for
    frames a plan reads more than once and for loop state).

    Both modes cut the logical plan at once; they differ in when the
    data is written, and each call site keeps the mode it was
    measured with.

    * Eager (default): ``df.localCheckpoint()`` writes the frame now,
      in Spark jobs of its own.  For frames that several later actions
      or plans read.
    * Lazy (``lazy=True``): the first action that reads the frame
      writes it to local disk (``DISK_ONLY``).  For frames whose first
      reader is an action that runs anyway (a loop's fixpoint count,
      the query's own collect).  Under AQE, cutting the plan of a
      frame with a shuffle still runs its shuffle map stages now;
      a narrow frame launches no job.

    Every job launched inside this call carries the job tag
    ``MATERIALIZE_TAG``, so a materialisation job is told apart from
    the query's action.

    Cluster caveat: a local checkpoint keeps its blocks on the
    executors and drops the lineage, so a lost executor fails the
    job instead of recomputing; a deployment that needs fault
    tolerance for these intermediates would change this one function
    to a reliable checkpoint.
    """
    sc = df.sparkSession.sparkContext
    sc.addJobTag(MATERIALIZE_TAG)
    try:
        if lazy:
            return df.localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
        return df.localCheckpoint()
    finally:
        sc.removeJobTag(MATERIALIZE_TAG)
