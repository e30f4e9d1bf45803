"""i3cols_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of jllanfranchi/i3cols, re-expressed
Spark-first (see SURVEY.md).

Layout:
    session     SparkSession construction + defensive runtime config
    jvm_archive the driver JVM's write-once class-data-sharing archive
    publish     temp-then-swap publishing of write-once directories
    sources     table loading, schema registry, ingest/ETL (i3cols S1-S11)
    functions   reusable column-expression libraries (i3cols S13 analog)
    operators   the declared query inventory (SURVEY §2.3) + oracle SQL
    streaming   Structured Streaming jobs (batch-equivalent forms live in
                operators.stream_batch so the DuckDB oracle can check them)
    plans       physical-plan inspection helpers (pushdown/broadcast checks)
"""

from i3cols_spark.session import configure, get_spark

__all__ = ["configure", "get_spark"]
__version__ = "0.1.0"
