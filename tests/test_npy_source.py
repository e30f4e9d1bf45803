"""The i3cols_npy Python DataSource: reading the reference's native
``<key>/data.npy`` (+ ``index.npy``) column-dir layout as a DataFrame,
filter pushdown into mmap slice bounds, and the export round trip."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from i3cols_spark.sources.npy_cols import (
    NpyColsReader,
    _scan_keys,
    read_npy_columns,
    write_npy_columns,
)


@pytest.fixture(scope="module")
def npy_dataset(tmp_path_factory):
    """Hand-built reference-layout dataset: nested structured scalar
    column, plain float column, ragged structured column."""
    d = str(tmp_path_factory.mktemp("npyds"))
    for k in ("hdr", "pulses", "energy"):
        os.makedirs(os.path.join(d, k))
    hdr = np.zeros(
        100, dtype=[("run", "<u4"), ("eid", "<i8"), ("t", [("utc", "<i4"), ("ns", "<u8")])]
    )
    hdr["run"] = np.arange(100) % 3
    hdr["eid"] = np.arange(100) * 7
    hdr["t"]["utc"] = 2020
    hdr["t"]["ns"] = np.arange(100) * 10
    np.save(os.path.join(d, "hdr", "data.npy"), hdr)
    energy = np.linspace(0, 5, 100).astype(np.float32)
    np.save(os.path.join(d, "energy", "data.npy"), energy)
    rng = np.random.default_rng(7)
    lens = rng.integers(0, 5, 100)
    idx = np.empty(100, dtype=[("start", "<u8"), ("stop", "<u8")])
    idx["stop"] = np.cumsum(lens)
    idx["start"] = idx["stop"] - lens
    vals = np.zeros(int(lens.sum()), dtype=[("om", "<u2"), ("q", "<f8")])
    vals["om"] = np.arange(len(vals))
    vals["q"] = rng.random(len(vals))
    np.save(os.path.join(d, "pulses", "data.npy"), vals)
    np.save(os.path.join(d, "pulses", "index.npy"), idx)
    return d, hdr, energy, idx, vals, lens


def test_schema_and_values(spark, npy_dataset):
    d, hdr, energy, idx, vals, lens = npy_dataset
    df = read_npy_columns(spark, d, partitions=7)
    assert df.count() == 100
    # unsigned widening: u4 run → long, u2 om → int, u8 ns → long
    assert dict(df.dtypes)["hdr"] == (
        "struct<run:bigint,eid:bigint,t:struct<utc:int,ns:bigint>>"
    )
    r5 = df.filter("event_id = 5").collect()[0]
    assert r5["hdr"]["eid"] == 35
    assert r5["hdr"]["t"]["utc"] == 2020
    assert r5["energy"] == pytest.approx(float(energy[5]))
    assert len(r5["pulses"]) == lens[5]
    got = sum(p["q"] for p in r5["pulses"])
    want = vals["q"][idx["start"][5] : idx["stop"][5]].sum()
    assert got == pytest.approx(want, abs=1e-12)


def test_ragged_totals_match_numpy(spark, npy_dataset):
    d, _, _, _, vals, lens = npy_dataset
    df = read_npy_columns(spark, d, keys=["pulses"], partitions=3)
    tot = df.select(
        F.sum(F.size("pulses")).alias("n"),
        F.round(F.sum(F.aggregate("pulses", F.lit(0.0), lambda a, x: a + x["q"])), 6).alias("q"),
    ).collect()[0]
    assert tot["n"] == int(lens.sum())
    assert tot["q"] == pytest.approx(round(float(vals["q"].sum()), 6), abs=1e-6)


def test_keys_projection_opens_only_requested(spark, npy_dataset):
    d = npy_dataset[0]
    df = read_npy_columns(spark, d, keys=["energy"])
    assert df.columns == ["event_id", "energy"]
    with pytest.raises(Exception, match="nope"):
        read_npy_columns(spark, d, keys=["nope"]).collect()


def test_filter_pushdown_narrows_partitions(spark, npy_dataset):
    d = npy_dataset[0]
    df = read_npy_columns(spark, d, partitions=4)
    assert df.filter("event_id >= 90").count() == 10
    assert df.filter((F.col("event_id") >= 20) & (F.col("event_id") < 25)).count() == 5
    # reader-level: the range predicates must shrink the planned splits
    rdr = NpyColsReader(d, _scan_keys(d, None), npartitions=4, batch_rows=1 << 16)
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    left = rdr.pushFilters(
        [GreaterThanOrEqual(("event_id",), 90), LessThan(("event_id",), 95)]
    )
    assert list(left) == []
    parts = rdr.partitions()
    covered = sorted(p.value for p in parts)
    assert covered[0][0] == 90 and covered[-1][1] == 95


def test_misaligned_columns_rejected(spark, tmp_path):
    d = str(tmp_path / "bad")
    for k, n in (("a", 10), ("b", 11)):
        os.makedirs(os.path.join(d, k))
        np.save(os.path.join(d, k, "data.npy"), np.arange(n))
    with pytest.raises(Exception, match="misaligned"):
        read_npy_columns(spark, d).collect()


def test_export_round_trip(spark, tmp_path):
    src = spark.range(50).select(
        F.col("id").alias("k"),
        (F.col("id") * 0.5).alias("x"),
        F.sequence(F.lit(0), F.col("id") % 4).alias("arr"),
        F.concat(F.lit("s"), F.col("id")).alias("name"),
    )
    out = str(tmp_path / "export")
    write_npy_columns(src, out, overwrite=True)
    # on-disk layout is the reference's: one dir per key, index for ragged
    assert os.path.isfile(os.path.join(out, "arr", "index.npy"))
    assert os.path.isfile(os.path.join(out, "arr", "data.npy"))
    assert np.load(os.path.join(out, "x", "data.npy")).dtype == np.float64
    back = read_npy_columns(spark, out)
    a = {r["k"]: (r["x"], r["arr"], r["name"]) for r in back.collect()}
    b = {r["k"]: (r["x"], r["arr"], r["name"]) for r in src.collect()}
    assert a == b


def test_overwrite_prunes_stale_keys(spark, tmp_path):
    """overwrite=True must not leave key dirs (or a ragged key's
    index.npy) from a previous export: a stale key would read back as
    'misaligned columns' or silently resurrect a dropped column."""
    out = str(tmp_path / "re_export")
    first = spark.range(20).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("gone"),
        F.sequence(F.lit(0), F.col("id") % 3).alias("shape_change"),
    )
    write_npy_columns(first, out, overwrite=True)
    assert os.path.isdir(os.path.join(out, "gone"))
    assert os.path.isfile(os.path.join(out, "shape_change", "index.npy"))

    second = spark.range(10).select(
        F.col("id").alias("k"),
        # same key name, now scalar: the old index.npy must go too
        (F.col("id") % 3).alias("shape_change"),
    )
    write_npy_columns(second, out, overwrite=True)
    assert not os.path.exists(os.path.join(out, "gone"))
    assert not os.path.exists(os.path.join(out, "shape_change", "index.npy"))
    back = read_npy_columns(spark, out)
    # event_id is the reader's synthesized positional index column
    assert sorted(back.columns) == ["event_id", "k", "shape_change"]
    assert back.count() == 10


def test_export_rejects_nulls(spark, tmp_path):
    df = spark.sql("SELECT * FROM VALUES (1, 1.0), (2, CAST(NULL AS DOUBLE)) AS t(k, x)")
    with pytest.raises(Exception, match="nulls"):
        write_npy_columns(df, str(tmp_path / "nulls"), overwrite=True)


def test_stream_tails_appended_rows_exactly_once(spark, tmp_path):
    """readStream over a growing npy dataset: a second availableNow run
    from the same checkpoint reads ONLY the rows appended (atomically,
    write-new + rename) since the first run's offset."""
    from i3cols_spark.sources.npy_cols import stream_npy_columns

    d = str(tmp_path / "grow")
    os.makedirs(os.path.join(d, "x"))
    np.save(os.path.join(d, "x", "data.npy"), np.arange(20, dtype=np.float64))
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "sink")

    def run_once():
        q = (
            stream_npy_columns(spark, d, partitions=3)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {r["event_id"]: r["x"] for r in spark.read.parquet(out).collect()}

    first = run_once()
    assert first == {i: float(i) for i in range(20)}
    np.save(os.path.join(d, "x", "new.npy"), np.arange(35, dtype=np.float64))
    os.replace(os.path.join(d, "x", "new.npy"), os.path.join(d, "x", "data.npy"))
    second = run_once()
    assert second == {i: float(i) for i in range(35)}
    assert {k for k in second if k not in first} == set(range(20, 35))


def test_stream_offset_is_min_across_keys(tmp_path):
    """A half-appended dataset (one column longer) must not emit the
    unmatched tail: latestOffset is the min row count across keys."""
    from i3cols_spark.sources.npy_cols import NpyColsStreamReader, _scan_keys

    d = str(tmp_path / "ds")
    for k, n in (("a", 30), ("b", 25)):
        os.makedirs(os.path.join(d, k))
        np.save(os.path.join(d, k, "data.npy"), np.arange(n))
    rdr = NpyColsStreamReader(_scan_keys(d, None), npartitions=4, batch_rows=1 << 16)
    assert rdr.initialOffset() == {"row": 0}
    assert rdr.latestOffset() == {"row": 25}


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_ROW = st.tuples(
    st.integers(min_value=-(2**31), max_value=2**31 - 1),
    st.floats(allow_nan=False, allow_infinity=True, width=64),
    st.lists(st.integers(min_value=-(2**15), max_value=2**15 - 1), max_size=6),
    st.text(alphabet="abc déf😀", max_size=8),
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(_ROW, min_size=1, max_size=40, unique_by=lambda r: r[0]))
def test_round_trip_property(spark, tmp_path_factory, rows):
    """Arbitrary (int, double, int-array, unicode-string) rows survive
    export → npy column dirs → DataSource read exactly."""
    df = spark.createDataFrame(rows, "k int, x double, arr array<smallint>, s string")
    out = str(tmp_path_factory.mktemp("prop")) + "/ds"
    write_npy_columns(df, out, overwrite=True)
    back = read_npy_columns(spark, out)
    got = {r["k"]: (r["x"], r["arr"], r["s"]) for r in back.collect()}
    want = {r[0]: (r[1], list(r[2]), r[3]) for r in rows}
    assert got == want


def test_npy_fixture_rebuilds_on_source_mutation(spark, tmp_path):
    """The cached npy mirror must track the source parquet's content
    fingerprint: an in-place regeneration rebuilds instead of serving
    stale rows (same hygiene as the IVF index)."""
    import os
    import shutil

    from i3cols_spark.operators.scans import _npy_events_fixture

    d = tmp_path / "sfnpy"
    d.mkdir()
    src = "/root/testdata/sf0.001/events.parquet"
    dst = str(d / "events.parquet")
    (shutil.copytree if os.path.isdir(src) else shutil.copy2)(src, dst)

    out = _npy_events_fixture(spark, str(d))
    marker = os.path.join(out, "_MIRROR.json")
    fp0 = open(marker).read()
    assert _npy_events_fixture(spark, str(d)) == out  # cache hit
    assert open(marker).read() == fp0

    if os.path.isdir(dst):
        for dp, _, fs in os.walk(dst):
            for f in fs:
                os.utime(os.path.join(dp, f))
    else:
        os.utime(dst)
    _npy_events_fixture(spark, str(d))
    assert open(marker).read() != fp0  # rebuilt
