"""``session.configure`` on foreign sessions: value-affecting confs
must take or fail loudly; performance-only ones may be refused."""

from __future__ import annotations

import pytest

from i3cols_spark.session import configure


class _StubConf:
    def __init__(self, refuse: dict[str, str]):
        self.values: dict[str, str] = {}
        self.refuse = refuse

    def set(self, key, value):
        mode = self.refuse.get(key)
        if mode == "raise":
            raise RuntimeError(f"cannot modify {key}")
        if mode != "ignore":
            self.values[key] = value

    def get(self, key, default=None):
        return self.values.get(key, default)


class _StubSession:
    def __init__(self, refuse: dict[str, str]):
        self.conf = _StubConf(refuse)


@pytest.mark.parametrize("mode", ["raise", "ignore"])
def test_configure_raises_when_nanos_as_long_is_refused(mode):
    stub = _StubSession({"spark.sql.legacy.parquet.nanosAsLong": mode})
    with pytest.raises(RuntimeError, match="spark.sql.legacy.parquet.nanosAsLong"):
        configure(stub)


def test_configure_tolerates_refused_performance_keys():
    stub = _StubSession({
        "spark.sql.adaptive.enabled": "raise",
        "spark.sql.execution.arrow.pyspark.enabled": "ignore",
        "spark.sql.shuffle.partitions": "raise",
    })
    assert configure(stub) is stub
    assert stub.conf.values["spark.sql.session.timeZone"] == "UTC"


@pytest.mark.parametrize("mode", ["raise", "ignore"])
@pytest.mark.parametrize("stream", [False, True])
def test_npy_open_raises_when_filter_pushdown_is_refused(mode, stream):
    """Spark fails every npy read when the Python-datasource filter
    pushdown conf is off, so an open on a session that refuses it
    fails at once, naming the key."""
    from i3cols_spark.sources.npy_cols import read_npy_columns, stream_npy_columns

    stub = _StubSession({"spark.sql.python.filterPushdown.enabled": mode})
    open_fn = stream_npy_columns if stream else read_npy_columns
    with pytest.raises(RuntimeError, match="spark.sql.python.filterPushdown.enabled"):
        open_fn(stub, "/nonexistent")
