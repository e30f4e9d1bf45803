"""SparkSession construction and defensive runtime configuration.

The driver (and any embedding application) may hand us a session we did
not build, so everything the engine *requires* must be settable at
runtime: ``configure(spark)`` is idempotent and safe to call on a
foreign session at the top of every query entry point.

Reference parity: i3cols has no session concept (eager NumPy,
single process — SURVEY §3.1); this module is where its implicit
"environment" (UTC times, mmap laziness, pool parallelism) becomes
explicit Spark config.

JVM start: when ``get_spark`` itself launches the driver JVM, it starts
it from a write-once class-data-sharing archive
(``i3cols_spark.jvm_archive``), which roughly halves the launch.  The
first launch on a host builds the archive (the JVM dumps it at exit,
10–16 s, and an ``atexit`` hook waits for it and publishes it under
``$XDG_CACHE_HOME/i3cols_spark/jvm/``); every later launch maps it.
A session the package did not launch — a live JVM, ``newSession()``,
``PYSPARK_GATEWAY_PORT`` — is left untouched, and any archive trouble
falls back to a normal start, logged on the ``jvm_archive`` logger.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession

from i3cols_spark import jvm_archive

# Runtime-settable confs every engine entry point needs.  Keys chosen per
# SURVEY §4.3 ("config knobs — only ones that matter").
_RUNTIME_CONFS: dict[str, str] = {
    # Deterministic time semantics on both sides of the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # The events table carries parquet TIMESTAMP(NANOS); Spark's
    # TimestampType is µs-precision, so read nanos as LongType and let
    # sources.tables derive a µs timestamp + ns shadow column
    # (SURVEY §4.3 ns-precision rule).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # AQE: runtime shuffle-partition coalescing + skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Arrow transfer for the pandas_udf / applyInPandas escape hatches.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


#: The confs that change VALUES, not just speed: every timestamp the
#: engine returns, and the parquet schema memo in sources/tables.py,
#: depend on them, so a session that refuses one must fail loudly.
_VALUE_CONFS = ("spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong")


def configure(spark: SparkSession) -> SparkSession:
    """Apply required runtime confs; idempotent, foreign-session-safe.

    Raises ``RuntimeError`` naming the key when a session refuses one
    of the value-affecting confs (``_VALUE_CONFS``); refusals of the
    performance-only keys are tolerated."""
    for key, value in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # A locked-down session may refuse some keys; the
            # value-affecting ones are read back below.
            pass
    for key in _VALUE_CONFS:
        actual = spark.conf.get(key, None)
        if actual != _RUNTIME_CONFS[key]:
            raise RuntimeError(
                f"session refused {key}={_RUNTIME_CONFS[key]!r} (reads back "
                f"{actual!r}); timestamp values would silently differ"
            )
    try:
        # Only touch shuffle.partitions when it's still Spark's stock 200
        # (a deliberate user setting is respected): 200 tiny shuffle
        # partitions on a local session is pure scheduling overhead, and
        # AQE coalescing can't fix the task-launch cost.
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            cores = spark.sparkContext.defaultParallelism
            spark.conf.set("spark.sql.shuffle.partitions", str(max(cores, 8)))
    except Exception:
        pass
    # NOT set here: spark.sql.adaptive.coalescePartitions.
    # initialPartitionNum.  Starting every shuffle wide looks like the
    # scale-safe default, but the round-7 A/B measured it at +60% on
    # the d10 ngram posting-list join (16.3 s vs 10.2 s min-of-2) and
    # it still did not save the d100 run from heap exhaustion — the
    # O(Σ|posting|²) intermediate there (~10^10 rows) simply exceeds
    # one 8 GiB JVM whatever the reducer count.  On a real cluster the
    # user sizes shuffle.partitions to total cores and the same plans
    # distribute; locally the density ceiling is documented on the
    # exact-Jaccard family (operators/dedup.py) with the LSH route as
    # the high-density escape.
    return spark


#: SparkSession (weakly held) → names of the Python DataSources
#: registered in it.  No lock: a concurrent second registration in
#: one session only makes Spark log a warning.
_DATA_SOURCES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def register_data_source(spark: SparkSession, source: type) -> None:
    """Register the Python DataSource class ``source`` once per session
    — the engine's one ``spark.dataSource.register`` call, a py4j round
    trip that pickles the class.

    Spark 4.1 checks a new name against the registry of the thread's
    ACTIVE session but resolves ``format(name)`` in the target
    session's, so a session made by ``newSession()`` could neither
    register nor use a name its parent had registered.  The target is
    therefore made the active session around the call, and the previous
    one restored."""
    names = _DATA_SOURCES.setdefault(spark, set())
    if source.name() in names:
        return
    jsessions = SparkSession._get_j_spark_session_class(spark._jvm)
    previous = jsessions.getActiveSession()
    jsessions.setActiveSession(spark._jsparkSession)
    try:
        spark.dataSource.register(source)
    finally:
        if previous.isDefined():
            jsessions.setActiveSession(previous.get())
        else:
            jsessions.clearActiveSession()
    names.add(source.name())


def get_spark(
    app_name: str = "i3cols-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a local session sized for this host.

    On a real cluster the user brings their own session (spark-submit
    config); this builder exists for tests, bench.py and the CLI.
    ``shuffle.partitions`` is sized to cores, not Spark's default 200 —
    at local scale 200 tiny shuffle partitions is pure scheduling
    overhead, while on a 1000-executor cluster the same code path would
    set it to ~2-3× total cores (AQE coalesces the excess).  A JVM
    this call launches starts from the class-data-sharing archive
    (module docstring).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    def create(java_options: str | None) -> SparkSession:
        builder = (
            SparkSession.builder.master(f"local[{cpus}]")
            .appName(app_name)
            .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
            .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
            .config("spark.ui.enabled", "false")
            .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
            # Managed-table home for bucketed datasets (sources.ingest.write_bucketed).
            .config(
                "spark.sql.warehouse.dir",
                os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/i3cols_spark_warehouse"),
            )
        )
        for key, value in _RUNTIME_CONFS.items():
            builder = builder.config(key, value)
        if java_options is not None:
            builder = builder.config("spark.driver.extraJavaOptions", java_options)
        return builder.getOrCreate()

    spark = jvm_archive.start(create)
    spark.sparkContext.setLogLevel("WARN")
    return configure(spark)
