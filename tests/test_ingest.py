"""Ingest/ETL layer tests (SURVEY §7 Milestone 3): write→read-back
round trips, partition pruning, combine additivity, i3-shaped ragged
round trip."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from i3cols_spark.plans.checks import explain_str
from i3cols_spark.sources.ingest import (
    combine,
    compact,
    events_to_i3_shape,
    extract_jsonl,
    read_columns,
    with_run_info,
    write_columns,
)


def _write_jsonl(path: str, rows: list[dict]) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_extract_run_parse_write_read_roundtrip(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    _write_jsonl(
        str(src / "data_Run00000007_Subrun00000002.jsonl"),
        [{"event_id": i, "charge": i * 1.5, "tag": f"t{i}"} for i in range(50)],
    )
    _write_jsonl(
        str(src / "data_Run00000008_Subrun00000001.jsonl"),
        [{"event_id": i + 100, "charge": i * 2.0, "tag": f"u{i}"} for i in range(30)],
    )
    df = with_run_info(extract_jsonl(spark, str(src)))
    assert set(df.select("run").distinct().toPandas()["run"]) == {7, 8}

    out = str(tmp_path / "cols")
    write_columns(df, out, partition_by=("run",))
    back = read_columns(spark, out)
    assert back.count() == 80
    # Projection (keys=) reads a column subset — the load(keys=...) analog.
    subset = read_columns(spark, out, keys=["event_id", "charge"])
    assert subset.columns == ["event_id", "charge"]
    # Partition pruning: filtering the category column shows partition
    # filters in the scan, not a full-data filter.
    pruned = back.filter(F.col("run") == 7)
    assert pruned.count() == 50
    assert "PartitionFilters: [" in explain_str(pruned)


def test_combine_additivity_and_run_tags(spark, tmp_path):
    a_rows = [{"event_id": i, "v": float(i)} for i in range(20)]
    b_rows = [{"event_id": i, "v": float(i), "extra": "x"} for i in range(15)]
    src_a, src_b = str(tmp_path / "a.jsonl"), str(tmp_path / "b.jsonl")
    _write_jsonl(src_a, a_rows)
    _write_jsonl(src_b, b_rows)
    pa, pb = str(tmp_path / "pa"), str(tmp_path / "pb")
    write_columns(extract_jsonl(spark, src_a), pa)
    write_columns(extract_jsonl(spark, src_b), pb)

    out = str(tmp_path / "combined")
    merged = combine(spark, [pa, pb], out=out, run_values=[1, 2])
    assert merged.count() == 35  # UNION ALL additivity (S7)
    back = read_columns(spark, out)
    counts = {r["run"]: r["count"] for r in back.groupBy("run").count().collect()}
    assert counts == {1: 20, 2: 15}
    # missing columns null-filled by unionByName(allowMissingColumns)
    assert back.filter(F.col("run") == 1).filter(F.col("extra").isNotNull()).count() == 0


def test_compact_rewrites_fewer_files(spark, tmp_path):
    rows = [{"event_id": i, "v": float(i)} for i in range(200)]
    src = str(tmp_path / "many.jsonl")
    _write_jsonl(src, rows)
    p1 = str(tmp_path / "fragmented")
    extract_jsonl(spark, src).repartition(16).write.parquet(p1)
    n_before = len([f for f in os.listdir(p1) if f.endswith(".parquet")])
    p2 = str(tmp_path / "compacted")
    compact(spark, p1, p2, target_files=2)
    n_after = len([f for f in os.listdir(p2) if f.endswith(".parquet")])
    assert n_before == 16 and n_after <= 2
    assert read_columns(spark, p2).count() == 200


def test_i3_shape_ragged_roundtrip(spark, sf_dir, tmp_path):
    """FIXTURES.md §B: header + ArrayType(StructType) pulses column
    survives write→read→posexplode→rebuild exactly (the i3cols
    data.npy+index.npy invariant)."""
    events = events_to_i3_shape(spark, sf_dir)
    out = str(tmp_path / "i3shape")
    write_columns(events, out)
    back = read_columns(spark, out)
    # Parquet round-trips relax nullability flags; names+types must hold.
    assert back.schema.simpleString() == events.schema.simpleString()
    assert back.count() == events.count()

    exploded = back.filter(F.col("pulses").isNotNull()).select(
        "event_id", F.posexplode("pulses").alias("pos", "pulse")
    )
    rebuilt = exploded.groupBy("event_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "pulse"))), lambda s: s.pulse
        ).alias("pulses")
    )
    orig = back.filter(F.col("pulses").isNotNull()).select("event_id", "pulses")
    assert orig.exceptAll(rebuilt).count() == 0
    assert rebuilt.exceptAll(orig).count() == 0


def test_events_ts_normalized_for_both_parquet_flavors(spark, tmp_path):
    """Fixture contract pin: the driver has shipped
    events.ts as parquet TIMESTAMP(NANOS) (read: bigint under
    nanosAsLong) AND as timestamp[us] without timezone (read:
    TIMESTAMP_NTZ).  ``table()`` must yield the same contract for
    both — ``ts`` timestamp (µs, UTC session) + ``ts_ns`` bigint
    epoch-nanos — so a silent testdata regeneration can't re-break
    every unix_micros/window call site."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from i3cols_spark.sources.tables import table

    us = 1_700_000_000_123_456  # epoch µs
    base = {
        "event_id": pa.array([1], pa.int64()),
        "user_id": pa.array([7], pa.int64()),
        "event_type": pa.array(["click"], pa.string()),
        "value": pa.array([1.5], pa.float64()),
        "props": pa.array(["{}"], pa.string()),
    }

    flavors = {
        "ntz": pa.array([us], pa.timestamp("us")),  # no tz → TIMESTAMP_NTZ
        "nanos": pa.array([us * 1000], pa.timestamp("ns")),
        "tz": pa.array([us], pa.timestamp("us", tz="UTC")),  # → TIMESTAMP
    }
    for name, ts_arr in flavors.items():
        d = tmp_path / name
        d.mkdir()
        tbl = pa.table({"event_id": base["event_id"], "ts": ts_arr, **{
            k: v for k, v in base.items() if k != "event_id"}})
        pq.write_table(tbl, str(d / "events.parquet"))
        df = table(spark, str(d), "events")
        dtypes = dict(df.dtypes)
        assert dtypes["ts"] == "timestamp", (name, dtypes)
        assert dtypes["ts_ns"] == "bigint", (name, dtypes)
        row = df.select(F.unix_micros("ts").alias("us"), "ts_ns").head()
        assert row["us"] == us, (name, row)
        assert row["ts_ns"] == us * 1000, (name, row)


def test_spread_handles_url_encoded_paths(spark, tmp_path):
    """inputFiles() returns percent-encoded URIs; spread() must decode
    them before stat'ing, or a path with spaces reads as 0 bytes and
    skips the repartition it was sized for."""
    from i3cols_spark.sources.tables import spread

    d = tmp_path / "with space"
    d.mkdir()
    spark.range(1000).selectExpr("id", "repeat('x', 400) AS pad") \
        .coalesce(1).write.parquet(str(d / "t.parquet"))
    df = spark.read.parquet(str(d / "t.parquet"))
    assert any("%20" in f for f in df.inputFiles()), "precondition: URI not encoded"
    out = spread(df, spark, min_bytes=1)
    # one input split, nbytes > min_bytes → must have repartitioned
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_schema_drift_tripwire(spark, tmp_path, sf_dir):
    """A regenerated fixture whose logical types drift (the round-3
    breakage class) must fail LOUDLY at table() load, naming the
    drifted column — not surface mid-query."""
    import pytest

    from i3cols_spark.sources.tables import SchemaDriftError, table

    # retyped column: l_quantity double -> int
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").withColumn(
        "l_quantity", F.col("l_quantity").cast("int")
    )
    li.write.parquet(str(tmp_path / "lineitem.parquet"))
    with pytest.raises(SchemaDriftError, match="l_quantity.*'int'.*expected double"):
        table(spark, str(tmp_path), "lineitem")

    # dropped + extra column
    doc = spark.read.parquet(f"{sf_dir}/documents.parquet").drop("lang").withColumn(
        "extra", F.lit(1)
    )
    doc.write.parquet(str(tmp_path / "documents.parquet"))
    with pytest.raises(SchemaDriftError, match="missing column 'lang'"):
        table(spark, str(tmp_path), "documents")
    with pytest.raises(SchemaDriftError, match="unexpected column 'extra'"):
        table(spark, str(tmp_path), "documents")

    # both verified date flavors pass (ntz fixture is the shipped one)
    orders_ntz = table(spark, sf_dir, "orders")
    assert dict(orders_ntz.dtypes)["o_orderdate"] in ("timestamp_ntz", "timestamp")


def test_schema_evolution_explicit_read_equals_mergeschema(spark, sf_dir):
    """q_source_schema_evolution reads the two-epoch layout with the
    unified schema passed EXPLICITLY (the 100 TB path — no footer
    sweep); the mergeSchema inference read must agree row-for-row,
    and the v1 generation must genuinely lack the evolved column."""
    from i3cols_spark.operators.quality import _EVO_SCHEMA, _schema_evo_mirror

    path = _schema_evo_mirror(spark, sf_dir)
    v1 = spark.read.parquet(f"{path}/v1")
    assert "o_orderstatus" not in v1.columns  # drift is real, not cosmetic
    explicit = (
        spark.read.schema(_EVO_SCHEMA)
        .option("recursiveFileLookup", True)
        .parquet(path)
    )
    inferred = (
        spark.read.option("mergeSchema", True)
        .option("recursiveFileLookup", True)
        .parquet(path)
    )
    cols = sorted(explicit.columns)
    assert sorted(inferred.columns) == cols
    a = sorted(tuple(r) for r in explicit.select(*cols).collect())
    b = sorted(tuple(r) for r in inferred.select(*cols).collect())
    assert a == b and len(a) > 0


def test_badrecords_failfast_aborts_and_permissive_keeps_rows(spark, sf_dir):
    """The corrupt mirror's two contracted behaviors: FAILFAST aborts
    the read (validation mode), PERMISSIVE loses no good rows and
    buckets exactly the injected garbage."""
    import pytest
    from py4j.protocol import Py4JJavaError

    from i3cols_spark.operators.quality import _BAD_LINES, _badrecords_mirror
    from i3cols_spark.sources.tables import table

    path = _badrecords_mirror(spark, sf_dir)
    schema = (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double"
    )
    with pytest.raises(Exception, match="FAILFAST|Malformed|malformed"):
        spark.read.schema(schema).option("mode", "FAILFAST").json(path).count()
    # Column pruning reduces a filter-then-count to corrupt-column-only
    # references, which Spark disallows on raw JSON — cache() is the
    # documented escape (the registered query avoids this by grouping
    # on the corrupt flag in one pass instead of filtering).
    parsed = spark.read.schema(schema + ", _corrupt_record string").json(path)
    parsed.cache()
    try:
        good = parsed.filter(F.col("_corrupt_record").isNull())
        n_orders = table(spark, sf_dir, "orders").count()
        assert good.count() == n_orders  # no good row lost to the garbage
        assert parsed.count() == n_orders + len(_BAD_LINES)
    finally:
        parsed.unpersist()


def test_observe_collects_ingest_audit_metrics_in_one_pass(spark, sf_dir):
    """`df.observe` attaches audit aggregates to the SAME job as the
    real work — at 100 TB the difference between auditing a feed and
    scanning it twice.  Metrics must equal the directly-computed
    values."""
    from pyspark.sql import Observation

    from i3cols_spark.operators.quality import _BAD_LINES, _badrecords_mirror
    from i3cols_spark.sources.tables import table

    path = _badrecords_mirror(spark, sf_dir)
    parsed = spark.read.schema(
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, _corrupt_record string"
    ).json(path)
    obs = Observation("ingest_audit")
    audited = parsed.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.col("_corrupt_record").isNotNull().cast("long")
        ).alias("n_corrupt"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )
    # one action drives both the query and the metrics
    n_statuses = audited.groupBy("o_orderstatus").count().count()
    got = obs.get
    n_orders = table(spark, sf_dir, "orders").count()
    expect_total = table(spark, sf_dir, "orders").agg(
        F.round(F.sum("o_totalprice"), 2)
    ).collect()[0][0]
    assert got["n_rows"] == n_orders + len(_BAD_LINES)
    assert got["n_corrupt"] == len(_BAD_LINES)
    assert got["total"] == expect_total
    assert n_statuses == 4  # 3 real statuses + the corrupt-null group


def _jobs_in_group(spark, group: str, fn) -> list[int]:
    """Ids of the Spark jobs ``fn()`` launches, counted through a job
    group.  The status tracker is fed asynchronously by the listener
    bus, so a sentinel job in its own group is awaited first: once it
    is visible, every earlier job event has been processed."""
    import time

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sentinel = group + "-sentinel"
    for gid, action in ((group, fn), (sentinel, lambda: sc.parallelize([1], 1).count())):
        sc.setJobGroup(gid, gid)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(sentinel) and time.time() < deadline:
        time.sleep(0.05)
    return list(tracker.getJobIdsForGroup(group))


def test_table_schema_inferred_once_per_session(spark, sf_dir, tmp_path):
    """The first ``table()`` on a path infers the parquet schema (one
    Spark job); later opens are served from the session's schema memo
    with ``spark.read.schema`` and launch no job at all."""
    import shutil
    import uuid

    from i3cols_spark.sources.tables import table

    shutil.copy(f"{sf_dir}/lineitem.parquet", tmp_path / "lineitem.parquet")
    tag = uuid.uuid4().hex

    def open_lineitem():
        table(spark, str(tmp_path), "lineitem")

    first = _jobs_in_group(spark, f"memo-first-{tag}", open_lineitem)
    second = _jobs_in_group(spark, f"memo-second-{tag}", open_lineitem)
    assert len(first) == 1, first
    assert second == [], second
    # a memo-served open reads the same rows as an inferred one
    assert table(spark, str(tmp_path), "lineitem").count() == spark.read.parquet(
        f"{sf_dir}/lineitem.parquet"
    ).count()


def test_read_columns_infers_once_until_rewritten(spark, tmp_path):
    """``read_columns`` opens a partitioned dataset through the schema
    memo: a second open of unchanged files runs no Spark job, and an
    overwrite (here adding a column) is inferred again."""
    import uuid

    from i3cols_spark.sources.ingest import read_columns, write_columns

    path = str(tmp_path / "cols")
    base = spark.range(40).selectExpr("id AS event_id", "id % 3 AS run", "id * 0.5 AS x")
    write_columns(base, path, partition_by=("run",))
    tag = uuid.uuid4().hex

    def open_cols(group: str):
        opened = []
        jobs = _jobs_in_group(spark, f"{group}-{tag}", lambda: opened.append(read_columns(spark, path)))
        return jobs, opened[0]

    first, _ = open_cols("cols-first")
    second, df = open_cols("cols-second")
    assert len(first) >= 1, first
    assert second == [], second
    assert df.columns == ["event_id", "x", "run"]
    assert df.count() == 40

    write_columns(base.withColumn("y", base.x * 2), path, partition_by=("run",), mode="overwrite")
    third, df = open_cols("cols-rewritten")
    assert len(third) >= 1, third
    assert df.columns == ["event_id", "x", "y", "run"]
    assert df.agg({"y": "sum"}).head()[0] == 2 * 0.5 * sum(range(40))


def test_table_schema_memo_sees_in_place_rewrite(spark, tmp_path):
    """Rewriting a dataset in place with a different parquet schema (a
    new ``events.ts`` flavor) changes its content fingerprint, so the
    next open re-infers instead of serving the memoised schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from i3cols_spark.sources.tables import table, table_schema

    us = 1_700_000_000_123_456
    path = str(tmp_path / "events.parquet")

    def write(ts_arr):
        pq.write_table(pa.table({
            "event_id": pa.array([1], pa.int64()), "ts": ts_arr,
            "user_id": pa.array([7], pa.int64()),
            "event_type": pa.array(["click"], pa.string()),
            "value": pa.array([1.5], pa.float64()),
            "props": pa.array(["{}"], pa.string()),
        }), path)

    write(pa.array([us], pa.timestamp("us")))
    table(spark, str(tmp_path), "events")
    assert table_schema(spark, path, "events")["ts"].dataType.typeName() == "timestamp_ntz"
    write(pa.array([us * 1000], pa.timestamp("ns")))
    df = table(spark, str(tmp_path), "events")
    assert table_schema(spark, path, "events")["ts"].dataType.typeName() == "long"
    row = df.select(F.unix_micros("ts").alias("us"), "ts_ns").head()
    assert (row["us"], row["ts_ns"]) == (us, us * 1000)


def test_schema_drift_raises_on_every_open(spark, sf_dir, tmp_path):
    """A drifted file never enters the schema memo: every open raises,
    including after a good version of the same path was memoised."""
    import shutil

    import pytest

    from i3cols_spark.sources.tables import SchemaDriftError, table

    good = spark.read.parquet(f"{sf_dir}/nation.parquet")
    path = str(tmp_path / "nation.parquet")
    shutil.copy(f"{sf_dir}/nation.parquet", path)
    assert table(spark, str(tmp_path), "nation").count() == good.count()
    os.remove(path)
    good.withColumn("n_regionkey", F.col("n_regionkey").cast("string")) \
        .toPandas().to_parquet(path)
    for _ in range(2):
        with pytest.raises(SchemaDriftError, match="n_regionkey"):
            table(spark, str(tmp_path), "nation")


def test_schema_memo_keys_on_inference_confs(spark, sf_dir):
    """Flipping ``inferTimestampNTZ`` on the same path changes what
    inference yields for a tz-less timestamp column; the memo must
    follow the conf rather than serve the other flavor."""
    from i3cols_spark.sources.tables import table

    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    old = spark.conf.get(key, None)
    try:
        seen = {}
        for value in ("true", "false", "true"):
            spark.conf.set(key, value)
            seen.setdefault(value, set()).add(
                dict(table(spark, sf_dir, "orders").dtypes)["o_orderdate"]
            )
        assert seen == {"true": {"timestamp_ntz"}, "false": {"timestamp"}}, seen
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_schema_memo_miss_opens_the_path_once(spark, sf_dir, tmp_path, monkeypatch):
    """On a schema-memo miss, ``read_columns`` and ``table()`` return
    the frame that inferred the schema instead of reading the path a
    second time with ``.schema(s)``; a hit reads it once too."""
    import shutil

    from pyspark.sql.readwriter import DataFrameReader

    from i3cols_spark.sources.ingest import read_columns, write_columns
    from i3cols_spark.sources.tables import table

    calls = []
    real = DataFrameReader.parquet
    monkeypatch.setattr(
        DataFrameReader, "parquet", lambda self, *paths, **kw: (calls.append(paths), real(self, *paths, **kw))[1]
    )
    path = str(tmp_path / "cols")
    write_columns(spark.range(12).selectExpr("id AS event_id", "id % 2 AS run"), path, partition_by=("run",))
    assert read_columns(spark, path).count() == 12  # miss
    assert read_columns(spark, path).count() == 12  # hit
    shutil.copy(f"{sf_dir}/nation.parquet", tmp_path / "nation.parquet")
    assert table(spark, str(tmp_path), "nation").count() == 25  # miss
    assert calls == [(path,), (path,), (f"{tmp_path}/nation.parquet",)]
