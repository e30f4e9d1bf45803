"""Structured Streaming jobs: ``i3cols_spark.streaming.jobs``."""
