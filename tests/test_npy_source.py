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
    rdr = NpyColsReader(d, _scan_keys(d, None), npartitions=4)
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


def test_failed_export_keeps_the_previous_one(spark, tmp_path):
    """An export that raises on a null in a later column, after the
    earlier columns were converted, leaves the previous export whole:
    it reads back unchanged and no temp sibling remains."""
    out = str(tmp_path / "export")
    good = spark.range(10).select(F.col("id").alias("a"), (F.col("id") * 2).alias("b"))
    write_npy_columns(good, out, overwrite=True)
    before = sorted(map(tuple, read_npy_columns(spark, out).collect()))
    bad = spark.sql("SELECT * FROM VALUES (1, 1.0), (2, CAST(NULL AS DOUBLE)) AS t(a, b)")
    with pytest.raises(ValueError, match="nulls"):
        write_npy_columns(bad, out, overwrite=True)
    assert sorted(map(tuple, read_npy_columns(spark, out).collect())) == before
    assert [n for n in os.listdir(tmp_path) if n.startswith("export.tmp-")] == []


def test_export_names_the_column_it_cannot_write(spark, tmp_path):
    """A DECIMAL column (what ``id * 0.5`` makes) has no npy dtype: the
    error names the column and the casts that would export it, and the
    previous export at the path stays byte-identical."""
    out = tmp_path / "export"
    write_npy_columns(spark.range(3).selectExpr("id AS k"), str(out), overwrite=True)
    files = sorted(p for p in out.rglob("*") if p.is_file())
    before = {p: p.read_bytes() for p in files}
    decimal = spark.range(3).selectExpr("id * 0.5 AS x")
    with pytest.raises(NotImplementedError, match=r"column 'x'.*decimal.*cast it to double"):
        write_npy_columns(decimal, str(out), overwrite=True)
    assert sorted(p for p in out.rglob("*") if p.is_file()) == files
    assert {p: p.read_bytes() for p in files} == before


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
    rdr = NpyColsStreamReader(_scan_keys(d, None), npartitions=4)
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


def test_unsupported_dtype_raises_at_open(spark, tmp_path):
    """The schema is computed in the driver, so a sub-array dtype fails
    in ``read_npy_columns`` itself, not in a Spark planner process."""
    d = str(tmp_path / "subarr")
    os.makedirs(os.path.join(d, "v"))
    np.save(os.path.join(d, "v", "data.npy"), np.zeros(4, dtype=[("xyz", "f8", 3)]))
    with pytest.raises(NotImplementedError, match="sub-array"):
        read_npy_columns(spark, d)


def _save_kinds(d: str, n: int) -> None:
    """Every ``_KIND_MAP`` kind, a nested struct, S/U/M keys and a
    ragged key, over ``n`` ≤ 3 rows."""
    from i3cols_spark.sources.npy_cols import _KIND_MAP

    cols = {f"{kind}{size}": np.arange(n).astype(f"{kind}{size}") for kind, size in _KIND_MAP}
    cols["nested"] = np.zeros(n, dtype=[("a", "<u2"), ("b", [("c", "<f4"), ("d", "?")])])
    cols["nested"]["a"] = np.arange(n) + 7
    cols["s"] = np.array([b"x", b"yy", b""], dtype="S2")[:n]
    cols["u"] = np.array(["é", "ab", ""], dtype="U2")[:n]
    cols["m"] = np.array(["2020-01-01T00:00:00.123456789"] * n, dtype="datetime64[ns]")
    for k, arr in cols.items():
        os.makedirs(os.path.join(d, k))
        np.save(os.path.join(d, k, "data.npy"), arr)
    os.makedirs(os.path.join(d, "ragged"))
    idx = np.array([(0, 2), (2, 2), (2, 5)], dtype=[("start", "<u8"), ("stop", "<u8")])[:n]
    np.save(os.path.join(d, "ragged", "index.npy"), idx)
    np.save(os.path.join(d, "ragged", "data.npy"), np.arange(5 if n else 0, dtype="<i2"))


@pytest.fixture(scope="module")
def kinds_dataset(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("kinds"))
    _save_kinds(d, 3)
    return d


def test_driver_schema_matches_data_source(spark, kinds_dataset):
    """The schema the open path hands Spark is the DataSource's own, on
    every mapped kind, a nested struct, a ragged key and S/U/M keys."""
    from i3cols_spark.sources.npy_cols import _KIND_MAP, NpyColsDataSource

    d = kinds_dataset
    df = read_npy_columns(spark, d)
    want = NpyColsDataSource({"path": d}).schema()
    assert df.schema == want
    assert len(want.fields) == 1 + len(_KIND_MAP) + 5
    row = df.filter("event_id = 2").collect()[0]
    assert row["ragged"] == [2, 3, 4] and row["u"] == "" and row["s"] == b""


def _scan(df) -> str:
    """``"local"`` when the optimized plan reads a local relation (the
    driver read), ``"python"`` when it scans the ``i3cols_npy``
    DataSource."""
    plan = df._jdf.queryExecution().optimizedPlan()
    leaves = plan.collectLeaves()
    names = {leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())}
    if names == {"LocalRelation"}:
        return "local"
    assert names == {"DataSourceV2ScanRelation"} and "i3cols_npy" in plan.toString(), names
    return "python"


def _rows(df):
    return sorted(df.collect(), key=lambda r: r["event_id"])


@pytest.mark.parametrize("case", ["all", "keys", "empty"])
def test_driver_read_matches_data_source(spark, kinds_dataset, tmp_path, monkeypatch, case):
    """Both sides of the driver-read rule return the same schema and
    rows: every kind, a nested struct, a ragged key, S/U/M, a ``keys=``
    projection, and a dataset of 0 rows.  Making ``_one_batch`` false
    sends the same small dataset through the DataSource."""
    from i3cols_spark.sources import npy_cols

    d, keys = kinds_dataset, None
    if case == "keys":
        keys = ["nested", "ragged", "m", "u8"]
    elif case == "empty":
        d = str(tmp_path / "empty")
        _save_kinds(d, 0)
    driver = read_npy_columns(spark, d, keys=keys)
    monkeypatch.setattr(npy_cols, "_one_batch", lambda keys, nrows: False)
    source = read_npy_columns(spark, d, keys=keys)
    assert (_scan(driver), _scan(source)) == ("local", "python")
    want = npy_cols.NpyColsDataSource({"path": d, "keys": ",".join(keys or ())}).schema()
    assert driver.schema == source.schema == want
    got = _rows(driver)
    assert len(got) == (0 if case == "empty" else 3)
    assert got == _rows(source)


def _add_big_key(d: str, nrows: int, per_row: int) -> None:
    """A ragged key of ``per_row`` 8-byte elements per row."""
    os.makedirs(os.path.join(d, "big"), exist_ok=True)
    idx = np.empty(nrows, dtype=[("start", "<u8"), ("stop", "<u8")])
    idx["stop"] = np.arange(1, nrows + 1) * per_row
    idx["start"] = idx["stop"] - per_row
    np.save(os.path.join(d, "big", "index.npy"), idx)
    np.save(os.path.join(d, "big", "data.npy"), np.ones(nrows * per_row, dtype="<f8"))


@pytest.fixture(scope="module")
def big_dataset(tmp_path_factory, npy_dataset):
    """``npy_dataset`` plus a ≈12.8 MB ragged key: four splits of the
    split rule, so it is read through the DataSource."""
    import shutil

    d = str(tmp_path_factory.mktemp("npybig") / "ds")
    shutil.copytree(npy_dataset[0], d)
    _add_big_key(d, 100, 16_000)
    return d


def test_one_split_read_plans_no_python_scan(spark, npy_dataset, big_dataset, tmp_path):
    """A read of one split and one batch is a local relation in the
    optimized plan; a read over 4 MiB or over 65536 rows scans the
    Python DataSource."""
    from i3cols_spark.sources.npy_cols import _range_bytes, _scan_keys

    small, big = npy_dataset[0], big_dataset
    assert _range_bytes(_scan_keys(small, None), 0, 100) <= 4 << 20
    assert _range_bytes(_scan_keys(big, None), 0, 100) > 12 << 20
    assert _scan(read_npy_columns(spark, small)) == "local"
    assert _scan(read_npy_columns(spark, big, partitions=1)) == "python"
    # the projection decides the bytes: without the big key it fits
    assert _scan(read_npy_columns(spark, big, keys=["hdr", "energy"])) == "local"
    for n, want in ((65536, "local"), (65537, "python")):
        d = str(tmp_path / f"rows{n}")
        os.makedirs(os.path.join(d, "b"))
        np.save(os.path.join(d, "b", "data.npy"), np.zeros(n, dtype="i1"))
        assert _scan(read_npy_columns(spark, d)) == want


def test_large_read_matches_small_read(spark, npy_dataset, big_dataset):
    """The DataSource read of the large variant equals the driver read
    of the same dataset without its big key, schema and rows."""
    small = read_npy_columns(spark, npy_dataset[0])
    big = read_npy_columns(spark, big_dataset)
    assert _scan(small) == "local" and _scan(big) == "python"
    assert big.schema["big"].dataType.simpleString() == "array<double>"
    rest = big.drop("big")
    assert rest.schema == small.schema
    assert _rows(rest) == _rows(small)
    assert big.select(F.sum(F.size("big"))).head()[0] == 100 * 16_000


def test_event_id_pushdown_narrows_large_read(spark, big_dataset):
    """Spark-level ``event_id`` predicates still narrow the splits the
    DataSource plans for a multi-split read."""
    df = read_npy_columns(spark, big_dataset)
    assert df.rdd.getNumPartitions() == 4
    tail = df.filter("event_id >= 90")
    assert tail.rdd.getNumPartitions() == 1
    assert [r["event_id"] for r in tail.select("event_id").collect()] == list(range(90, 100))
    mid = df.filter((F.col("event_id") >= 20) & (F.col("event_id") < 25))
    assert mid.rdd.getNumPartitions() == 1 and mid.count() == 5


@pytest.mark.parametrize("large", [False, True])
def test_bad_datasets_raise_on_both_sides(spark, tmp_path, large):
    """Misaligned columns and sub-array dtypes raise at open on both
    sides of the driver-read rule; a u8 value above the LongType range
    raises at open in the driver and at the action through the
    DataSource."""
    def dataset(name, **arrays):
        d = str(tmp_path / name)
        for k, arr in arrays.items():
            os.makedirs(os.path.join(d, k))
            np.save(os.path.join(d, k, "data.npy"), arr)
        if large:
            _add_big_key(d, 10, 60_000)
        return d

    with pytest.raises(ValueError, match="misaligned"):
        read_npy_columns(spark, dataset("misaligned", a=np.arange(10), b=np.arange(11)))
    with pytest.raises(NotImplementedError, match="sub-array"):
        read_npy_columns(spark, dataset("subarr", v=np.zeros(10, dtype=[("xyz", "f8", 3)])))
    u8 = np.arange(10, dtype="<u8")
    u8[3] = np.iinfo(np.uint64).max
    d = dataset("u8", u=u8)
    if large:
        df = read_npy_columns(spark, d)
        assert _scan(df) == "python"
        with pytest.raises(Exception, match="uint64 column exceeds"):
            df.select("u").collect()
    else:
        with pytest.raises(OverflowError, match="uint64 column exceeds"):
            read_npy_columns(spark, d)


def test_one_split_read_is_a_snapshot_taken_at_open(spark, tmp_path):
    """The driver read holds the rows it read at open: rewriting the
    dataset afterwards changes only later opens."""
    d = str(tmp_path / "snap")
    os.makedirs(os.path.join(d, "x"))
    np.save(os.path.join(d, "x", "data.npy"), np.arange(10, dtype="<f8"))
    df = read_npy_columns(spark, d)
    assert _scan(df) == "local"
    np.save(os.path.join(d, "x", "data.npy"), -np.arange(11, dtype="<f8"))
    assert [r["x"] for r in _rows(df)] == [float(i) for i in range(10)]
    assert read_npy_columns(spark, d).agg(F.sum("x")).head()[0] == -55.0


def test_multi_split_read_is_a_snapshot_taken_at_open(spark, tmp_path):
    """A DataSource read holds the rows present at open too: after an
    append, a repeated query and a newly planned one on the same frame
    both read the 10 rows the open counted."""
    d = str(tmp_path / "snap_big")

    def save(nrows: int) -> None:
        _add_big_key(d, nrows, 60_000)
        os.makedirs(os.path.join(d, "x"), exist_ok=True)
        np.save(os.path.join(d, "x", "data.npy"), np.arange(nrows, dtype="<i8"))

    save(10)
    df = read_npy_columns(spark, d, partitions=1)
    assert _scan(df) == "python"
    assert df.count() == 10
    save(11)
    assert df.count() == 10
    assert df.filter("event_id > 3").count() == 6
    assert read_npy_columns(spark, d).count() == 11


def test_npy_and_arrow_sources_work_from_a_new_session(spark, npy_dataset, big_dataset, tmp_path):
    """A session made by ``newSession()`` can register and use both
    Python DataSources after its parent has: a multi-split batch read,
    a stream, and an ``arrowipc`` round trip."""
    from i3cols_spark.sources.arrow_ipc import register_arrow_ipc
    from i3cols_spark.sources.npy_cols import stream_npy_columns

    assert read_npy_columns(spark, npy_dataset[0]).count() == 100
    register_arrow_ipc(spark)
    child = spark.newSession()

    big = read_npy_columns(child, big_dataset)
    assert _scan(big) == "python" and big.count() == 100

    out, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    q = (
        stream_npy_columns(child, npy_dataset[0], keys=["energy"])
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert child.read.parquet(out).count() == 100

    register_arrow_ipc(child)
    ipc = str(tmp_path / "ipc")
    child.range(5).write.format("arrowipc").option("path", ipc).mode("append").save()
    back = child.read.format("arrowipc").option("path", ipc).option("schema", "id bigint").load()
    assert sorted(r["id"] for r in back.collect()) == list(range(5))


@pytest.fixture(scope="module")
def split_dataset(tmp_path_factory):
    """≈32.5 MB of npy data over 20k rows: an 8-byte scalar key and a
    ragged key of 8-byte elements, 100–300 per row."""
    d = str(tmp_path_factory.mktemp("splits"))
    n = 20_000
    lens = np.random.default_rng(3).integers(100, 301, n)
    idx = np.empty(n, dtype=[("start", "<u8"), ("stop", "<u8")])
    idx["stop"] = np.cumsum(lens)
    idx["start"] = idx["stop"] - lens
    for k in ("x", "hits"):
        os.makedirs(os.path.join(d, k))
    np.save(os.path.join(d, "x", "data.npy"), np.arange(n, dtype="<f8"))
    np.save(os.path.join(d, "hits", "index.npy"), idx)
    np.save(os.path.join(d, "hits", "data.npy"), np.zeros(int(lens.sum()), dtype="<f8"))
    return d, idx


@pytest.mark.parametrize("batch_rows", [64, 1 << 16])
def test_batch_and_stream_readers_split_alike(monkeypatch, split_dataset, batch_rows):
    """One split rule for both readers: min(partitions, ⌈range bytes /
    4 MiB⌉) splits, whatever the Arrow batch size."""
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    from i3cols_spark.sources import npy_cols
    from i3cols_spark.sources.npy_cols import NpyColsStreamReader, _range_bytes

    monkeypatch.setattr(npy_cols, "_BATCH_ROWS", batch_rows)
    d, idx = split_dataset
    keys = _scan_keys(d, None)

    def plans(lo, hi, partitions):
        batch = NpyColsReader(d, keys, npartitions=partitions)
        batch.pushFilters([GreaterThanOrEqual(("event_id",), lo), LessThan(("event_id",), hi)])
        stream = NpyColsStreamReader(keys, npartitions=partitions)
        got = [p.value for p in batch.partitions()]
        assert got == [p.value for p in stream.partitions({"row": lo}, {"row": hi})]
        assert got[0][0] == lo and got[-1][1] == hi
        return got

    small = _range_bytes(keys, 1000, 1400)
    assert small == 400 * 24 + 8 * int(idx["stop"][1399] - idx["start"][1000])
    assert 0.5e6 < small < 1e6
    assert len(plans(1000, 1400, 4)) == 1
    big = _range_bytes(keys, 0, len(idx))
    assert 30e6 < big < 40e6
    assert len(plans(0, len(idx), 4)) == 4
    assert len(plans(0, len(idx), 64)) == -(-big // (4 << 20))


def test_two_opens_register_the_format_once(spark, npy_dataset, monkeypatch):
    """Registration pickles the DataSource class over py4j; the open
    path does it once per session, not once per open.  The session's
    registration record starts empty here, so the first open registers
    (again, which Spark allows within one session)."""
    import weakref

    from pyspark.sql.datasource import DataSourceRegistration

    from i3cols_spark import session

    calls = []
    real = DataSourceRegistration.register
    monkeypatch.setattr(
        DataSourceRegistration,
        "register",
        lambda self, cls: (calls.append(cls.name()), real(self, cls))[1],
    )
    monkeypatch.setattr(session, "_DATA_SOURCES", weakref.WeakKeyDictionary())
    d = npy_dataset[0]
    assert read_npy_columns(spark, d).count() == 100
    assert read_npy_columns(spark, d, keys=["energy"]).count() == 100
    assert calls == ["i3cols_npy"]


def test_one_registration_helper_and_one_npy_open_path():
    """``spark.dataSource.register`` is called only inside
    ``session.register_data_source``, and only ``sources/npy_cols.py``
    names the ``i3cols_npy`` format in a ``.format()`` call."""
    import ast
    import pathlib

    import i3cols_spark

    root = pathlib.Path(i3cols_spark.__file__).parent
    registers, formats = [], []

    def scan(node: ast.AST, rel: str, fn: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                scan(child, rel, child.name)
                continue
            if (
                isinstance(child, ast.Attribute)
                and child.attr == "register"
                and isinstance(child.value, ast.Attribute)
                and child.value.attr == "dataSource"
                and (rel, fn) != ("session.py", "register_data_source")
            ):
                registers.append(f"{rel}:{child.lineno} in {fn}")
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "format"
                and child.args
                and (
                    (isinstance(child.args[0], ast.Constant) and child.args[0].value == "i3cols_npy")
                    or (isinstance(child.args[0], (ast.Name, ast.Attribute))
                        and ast.unparse(child.args[0]).endswith("FORMAT_NAME"))
                )
                and rel != "sources/npy_cols.py"
            ):
                formats.append(f"{rel}:{child.lineno} in {fn}")
            scan(child, rel, fn)

    for path in sorted(root.rglob("*.py")):
        scan(ast.parse(path.read_text()), path.relative_to(root).as_posix(), "<module>")
    assert not registers, registers
    assert not formats, formats
