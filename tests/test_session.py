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
