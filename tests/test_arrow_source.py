"""Arrow IPC Python DataSource (sources/arrow_ipc.py): the manifest
commit protocol and the supported-type gate — the distributed-
correctness core a custom source must get right."""

from __future__ import annotations

import json
import os

import pytest

from i3cols_spark.sources.arrow_ipc import MANIFEST, register_arrow_ipc

SCHEMA = "k bigint, v double, s string"


def _write(spark, df, out, mode="append"):
    register_arrow_ipc(spark)
    df.write.format("arrowipc").option("path", out).mode(mode).save()


def _read(spark, out, schema=SCHEMA):
    register_arrow_ipc(spark)
    r = spark.read.format("arrowipc").option("path", out)
    if schema:
        r = r.option("schema", schema)
    return r.load()


def test_roundtrip_with_nulls_and_inferred_schema(spark, tmp_path):
    out = str(tmp_path / "a")
    rows = [(1, 1.5, "x"), (2, None, None), (3, -0.25, "z")]
    df = spark.createDataFrame(rows, SCHEMA)
    _write(spark, df.repartition(2), out)
    got = sorted(tuple(r) for r in _read(spark, out).collect())
    assert got == sorted(rows)
    # schema derived from the arrow file footer when not supplied
    inferred = _read(spark, out, schema=None)
    assert dict((f.name, f.dataType.simpleString()) for f in inferred.schema.fields) == {
        "k": "bigint", "v": "double", "s": "string"
    }
    # one input partition per manifested file
    assert inferred.rdd.getNumPartitions() == 2


def test_orphan_part_files_are_unreachable(spark, tmp_path):
    """A file from a failed/speculative task attempt sits in the
    directory but not in the manifest — the reader must not see it."""
    out = str(tmp_path / "b")
    df = spark.createDataFrame([(1, 1.0, "a")], SCHEMA)
    _write(spark, df.coalesce(1), out)
    committed = json.load(open(os.path.join(out, MANIFEST)))["files"]
    assert len(committed) == 1
    # plant an orphan by copying the real part under a new name
    real = os.path.join(out, committed[0])
    orphan = os.path.join(out, "part-orphaned.arrow")
    with open(real, "rb") as s, open(orphan, "wb") as d:
        d.write(s.read())
    assert _read(spark, out).count() == 1  # orphan invisible


def test_overwrite_snapshots_head_and_keeps_history(spark, tmp_path):
    """Overwrite flips the HEAD manifest to the new file set but does
    NOT delete superseded parts: they stay reachable through their
    snapshot manifest until an explicit vacuum — the Delta-style
    contract (every commit = a new immutable snapshot version)."""
    out = str(tmp_path / "c")
    df1 = spark.createDataFrame([(i, float(i), "old") for i in range(4)], SCHEMA)
    _write(spark, df1.repartition(2), out)
    old_parts = set(json.load(open(os.path.join(out, MANIFEST)))["files"])
    df2 = spark.createDataFrame([(9, 9.0, "new")], SCHEMA)
    _write(spark, df2.coalesce(1), out, mode="overwrite")
    got = [tuple(r) for r in _read(spark, out).collect()]
    assert got == [(9, 9.0, "new")]
    # superseded parts survive for time travel (vacuum reclaims them)
    assert old_parts <= set(os.listdir(out))
    head = json.load(open(os.path.join(out, MANIFEST)))
    assert head["version"] == 2 and set(head["files"]).isdisjoint(old_parts)


def test_time_travel_reads_immutable_snapshots(spark, tmp_path):
    """versionAsOf n reads the snapshot manifest written by commit n:
    v1 = the first append, v2 = v1 + second append, v3 = the
    overwrite — and the head always equals the newest version."""
    out = str(tmp_path / "tt")
    _write(spark, spark.createDataFrame([(1, 1.0, "a")], SCHEMA).coalesce(1), out)
    _write(spark, spark.createDataFrame([(2, 2.0, "b")], SCHEMA).coalesce(1), out)
    _write(spark, spark.createDataFrame([(9, 9.0, "z")], SCHEMA).coalesce(1), out,
           mode="overwrite")

    def at(version=None):
        r = spark.read.format("arrowipc").option("path", out).option("schema", SCHEMA)
        if version is not None:
            r = r.option("versionAsOf", str(version))
        return sorted(tuple(x) for x in r.load().collect())

    assert at(1) == [(1, 1.0, "a")]
    assert at(2) == [(1, 1.0, "a"), (2, 2.0, "b")]
    assert at(3) == [(9, 9.0, "z")]
    assert at() == at(3)
    with pytest.raises(Exception, match="no snapshot v7"):
        at(7)


def test_vacuum_reclaims_unreferenced_parts_only(spark, tmp_path):
    """vacuum(retain_last=1) must delete older snapshot manifests and
    every part no retained manifest references — and must NEVER touch
    the head's files.  A vacuumed version then fails loudly instead of
    returning an empty frame."""
    from i3cols_spark.sources.arrow_ipc import vacuum

    out = str(tmp_path / "v")
    _write(spark, spark.createDataFrame([(1, 1.0, "a")], SCHEMA).coalesce(1), out)
    _write(spark, spark.createDataFrame([(9, 9.0, "z")], SCHEMA).coalesce(1), out,
           mode="overwrite")
    head_files = set(json.load(open(os.path.join(out, MANIFEST)))["files"])
    stats = vacuum(out, retain_last=1)
    assert stats["removed_manifests"] == 1 and stats["removed_parts"] == 1
    assert stats["retained_versions"] == [2]
    assert head_files <= set(os.listdir(out))
    got = [tuple(r) for r in _read(spark, out).collect()]
    assert got == [(9, 9.0, "z")]
    with pytest.raises(Exception, match="vacuumed"):
        (spark.read.format("arrowipc").option("path", out)
         .option("schema", SCHEMA).option("versionAsOf", "1").load().collect())


def test_append_merges_manifest(spark, tmp_path):
    """A second append job must EXTEND the manifest (prior files stay
    readable, new files ordered after them) — the bug class where a
    commit replaces the file list would silently drop earlier data."""
    out = str(tmp_path / "e")
    df1 = spark.createDataFrame([(1, 1.0, "a"), (2, 2.0, "b")], SCHEMA)
    _write(spark, df1.coalesce(1), out)
    first = json.load(open(os.path.join(out, MANIFEST)))["files"]
    df2 = spark.createDataFrame([(3, 3.0, "c")], SCHEMA)
    _write(spark, df2.coalesce(1), out)
    merged = json.load(open(os.path.join(out, MANIFEST)))["files"]
    assert merged[: len(first)] == first and len(merged) == len(first) + 1
    got = sorted(tuple(r) for r in _read(spark, out).collect())
    assert got == [(1, 1.0, "a"), (2, 2.0, "b"), (3, 3.0, "c")]


def test_stream_tail_exactly_once_across_restart(spark, tmp_path):
    """ArrowIPCStreamReader offset axis = manifest position: drain an
    availableNow pass, append more files, restart from the SAME
    checkpoint — the second pass must process only the new files
    (exactly-once per manifest entry), and the union must equal the
    batch read."""
    out = str(tmp_path / "s")
    ckpt = str(tmp_path / "ckpt")
    register_arrow_ipc(spark)

    def drain():
        q = (
            spark.readStream.format("arrowipc")
            .option("path", out)
            .option("schema", SCHEMA)
            .load()
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "sink"))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    df1 = spark.createDataFrame([(i, float(i), "one") for i in range(5)], SCHEMA)
    _write(spark, df1.repartition(2), out)
    drain()
    sunk = spark.read.schema(SCHEMA).parquet(str(tmp_path / "sink"))
    assert sunk.count() == 5
    df2 = spark.createDataFrame([(i, float(i), "two") for i in range(5, 8)], SCHEMA)
    _write(spark, df2.coalesce(1), out)
    drain()
    sunk = spark.read.schema(SCHEMA).parquet(str(tmp_path / "sink"))
    assert sunk.count() == 8  # 5 + 3, nothing reprocessed
    got = sorted(tuple(r) for r in sunk.collect())
    batch = sorted(tuple(r) for r in _read(spark, out).collect())
    assert got == batch


def test_unsupported_type_raises_loudly(spark, tmp_path):
    out = str(tmp_path / "d")
    df = spark.createDataFrame([([1, 2],)], "arr array<bigint>")
    register_arrow_ipc(spark)
    with pytest.raises(Exception, match="unsupported Spark type"):
        df.write.format("arrowipc").option("path", out).mode("append").save()


def test_stream_fails_loudly_when_manifest_shrinks(spark, tmp_path):
    """An overwrite under a live streaming checkpoint must not read as
    an empty micro-batch (silent data loss) — the reader raises."""
    out = str(tmp_path / "shrink")
    ckpt = str(tmp_path / "ckpt2")
    register_arrow_ipc(spark)
    df1 = spark.createDataFrame([(i, float(i), "a") for i in range(4)], SCHEMA)
    _write(spark, df1.repartition(2), out)

    def drain():
        q = (
            spark.readStream.format("arrowipc")
            .option("path", out)
            .option("schema", SCHEMA)
            .load()
            .writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()  # checkpoint now expects 2 manifest entries
    df2 = spark.createDataFrame([(9, 9.0, "z")], SCHEMA)
    _write(spark, df2.coalesce(1), out, mode="overwrite")  # manifest: 1 file
    with pytest.raises(Exception, match="manifest under|overwritten"):
        drain()


def test_stream_sink_commit_is_idempotent_per_batch(spark, tmp_path):
    """The at-least-once gap: a restart can replay an epoch whose sink
    commit already landed.  A second commit with the SAME batchId must
    be a no-op (manifest byte-identical), while a new batchId appends."""
    from pyspark.sql.types import StructType

    from i3cols_spark.sources.arrow_ipc import ArrowIPCStreamWriter, _Committed

    out = str(tmp_path / "sink")
    os.makedirs(out)
    schema = StructType.fromDDL(SCHEMA)
    w = ArrowIPCStreamWriter({"path": out}, schema)
    part = os.path.join(out, "part-b0.arrow")
    import pyarrow as pa

    with pa.OSFile(part, "wb") as s, pa.ipc.new_file(
        s, pa.schema([pa.field("k", pa.int64()), pa.field("v", pa.float64()),
                      pa.field("s", pa.string())])
    ) as fw:
        fw.write_table(pa.table({"k": [1], "v": [1.0], "s": ["a"]}))
    w.commit([_Committed("part-b0.arrow")], batchId=0)
    head1 = open(os.path.join(out, MANIFEST)).read()
    # replayed epoch: same batchId, (re-attempted) task files
    w.commit([_Committed("part-b0-retry.arrow")], batchId=0)
    assert open(os.path.join(out, MANIFEST)).read() == head1
    # fresh epoch appends
    w.commit([_Committed("part-b0.arrow")], batchId=1)
    head3 = json.load(open(os.path.join(out, MANIFEST)))
    assert head3["version"] == 2 and set(head3["batches"]) == {"0", "1"}


def test_stream_through_arrowipc_exactly_once(spark, tmp_path):
    """End-to-end exactly-once THROUGH the format: arrowipc source →
    arrowipc sink with a checkpoint, drained, appended to, restarted —
    the sink must hold each source row exactly once, and the sink dir
    is itself a valid snapshot-versioned table."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ckpt = str(tmp_path / "ck")
    register_arrow_ipc(spark)
    df1 = spark.createDataFrame([(1, 1.0, "a"), (2, 2.0, "b")], SCHEMA)
    _write(spark, df1.coalesce(1), src)

    def drain():
        q = (
            spark.readStream.format("arrowipc").option("path", src)
            .option("schema", SCHEMA).load()
            .writeStream.format("arrowipc").option("path", dst)
            .option("schema", SCHEMA)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    drain()
    assert sorted(tuple(r) for r in _read(spark, dst).collect()) == [
        (1, 1.0, "a"), (2, 2.0, "b")]
    _write(spark, spark.createDataFrame([(3, 3.0, "c")], SCHEMA).coalesce(1), src)
    drain()  # restart from the same checkpoint
    assert sorted(tuple(r) for r in _read(spark, dst).collect()) == [
        (1, 1.0, "a"), (2, 2.0, "b"), (3, 3.0, "c")]
    head = json.load(open(os.path.join(dst, MANIFEST)))
    assert len(head["batches"]) >= 2  # one durable epoch per drain


def test_publish_snapshot_conflict_and_idempotence(tmp_path):
    """Snapshot publication must be atomic (no torn
    v{n} file possible) and exclusive (two committers computing the
    same next version cannot both win — loser gets a retryable
    conflict; the shared snapshot is never overwritten).  A replayed
    attempt of the SAME commit (identical payload — the crash-between-
    snapshot-and-HEAD-flip case) is idempotent success."""
    import json
    import os

    import pytest

    from i3cols_spark.sources.arrow_ipc import (
        SnapshotConflictError,
        _publish_snapshot,
    )

    root = str(tmp_path)
    first = {"version": 2, "files": ["a.arrow"]}
    _publish_snapshot(root, 2, first)
    snap = os.path.join(root, "_ARROW_MANIFEST.v2.json")
    assert json.load(open(snap)) == first
    # no stray tmp files left behind
    assert [f for f in os.listdir(root) if f.endswith(".tmp")] == []

    # same version, different contents: the losing committer fails
    # loudly and the original snapshot is untouched
    with pytest.raises(SnapshotConflictError):
        _publish_snapshot(root, 2, {"version": 2, "files": ["b.arrow"]})
    assert json.load(open(snap)) == first

    # identical payload (replay of this very commit): idempotent
    _publish_snapshot(root, 2, first)
    assert json.load(open(snap)) == first
    assert [f for f in os.listdir(root) if f.endswith(".tmp")] == []


def test_crashed_commit_rolls_forward_instead_of_wedging(spark, tmp_path):
    """A crash between _publish_snapshot and the
    HEAD flip leaves an orphan v{head+1} snapshot.  Part names are
    fresh uuids, so a retried commit can never reproduce the orphan's
    payload — under the old code every retry recomputed the same
    version from the unmoved HEAD and raised SnapshotConflictError
    forever.  Now the next committer ADOPTS the orphan (flips HEAD
    onto it) before assigning its own version, so the table heals and
    both the orphan's rows and the new rows are visible."""
    out = str(tmp_path / "rf")
    df1 = spark.createDataFrame([(1, 1.0, "a")], SCHEMA)
    _write(spark, df1.coalesce(1), out)

    # Simulate the crashed commit: publish v2 (append of a real part
    # file) WITHOUT flipping HEAD — exactly the post-crash disk state.
    from i3cols_spark.sources.arrow_ipc import _publish_snapshot

    head = json.load(open(os.path.join(out, MANIFEST)))
    assert head["version"] == 1
    committed = head["files"]
    orphan_part = "part-crashed-commit.arrow"
    with open(os.path.join(out, committed[0]), "rb") as s, open(
        os.path.join(out, orphan_part), "wb"
    ) as d:
        d.write(s.read())
    _publish_snapshot(
        out, 2, {"version": 2, "files": committed + [orphan_part]}
    )
    assert json.load(open(os.path.join(out, MANIFEST)))["version"] == 1

    # The NEXT commit rolls HEAD forward onto the orphan, then lands
    # its own files as v3 — no conflict, nothing lost.
    df2 = spark.createDataFrame([(2, 2.0, "b")], SCHEMA)
    _write(spark, df2.coalesce(1), out)
    head = json.load(open(os.path.join(out, MANIFEST)))
    assert head["version"] == 3
    assert orphan_part in head["files"]
    got = sorted(tuple(r) for r in _read(spark, out).collect())
    # orphan part duplicates row (1, 1.0, "a") by construction
    assert got == [(1, 1.0, "a"), (1, 1.0, "a"), (2, 2.0, "b")]


def test_head_flip_is_monotonic_and_uses_unique_tmp(spark, tmp_path):
    """The HEAD flip must refuse to regress to an
    older version (stale duplicate retry racing a newer committer)
    and must not use a shared fixed tmp name two processes could
    interleave writes into."""
    import inspect

    from i3cols_spark.sources.arrow_ipc import _flip_head

    out = str(tmp_path / "mono")
    df = spark.createDataFrame([(1, 1.0, "a")], SCHEMA)
    _write(spark, df.coalesce(1), out)
    _write(spark, df.coalesce(1), out)
    head = json.load(open(os.path.join(out, MANIFEST)))
    assert head["version"] == 2

    # A stale v1 republish is refused; v3 is accepted.
    assert _flip_head(out, {"version": 1, "files": []}) is False
    assert json.load(open(os.path.join(out, MANIFEST))) == head
    assert _flip_head(out, {"version": 3, "files": head["files"]}) is True
    assert json.load(open(os.path.join(out, MANIFEST)))["version"] == 3
    assert [f for f in os.listdir(out) if f.endswith(".tmp")] == []

    # No fixed shared tmp name anywhere in the flip implementation
    # (strip the docstring — it documents the old bad pattern).
    import ast

    tree = ast.parse(inspect.getsource(_flip_head))
    tree.body[0].body = tree.body[0].body[1:]  # drop the docstring stmt
    code = ast.unparse(tree)
    assert 'manifest + ".tmp"' not in code and "uuid4" in code


def test_stream_sink_replayed_epoch_after_crash_is_noop(spark, tmp_path):
    """The crashed-epoch twin: if the orphan snapshot already records
    this batchId, roll-forward adopts it and the replayed epoch's
    commit is recognized as durable — rows land exactly once."""
    from i3cols_spark.sources.arrow_ipc import (
        ArrowIPCStreamWriter,
        _Committed,
        _publish_snapshot,
    )

    out = str(tmp_path / "sinkrf")
    df = spark.createDataFrame([(1, 1.0, "a")], SCHEMA)
    _write(spark, df.coalesce(1), out)
    head = json.load(open(os.path.join(out, MANIFEST)))
    part = head["files"][0]
    epoch_part = "part-epoch7.arrow"
    with open(os.path.join(out, part), "rb") as s, open(
        os.path.join(out, epoch_part), "wb"
    ) as d:
        d.write(s.read())
    # Crashed epoch 7: snapshot durable, HEAD never flipped.
    _publish_snapshot(
        out,
        2,
        {
            "version": 2,
            "files": head["files"] + [epoch_part],
            "batches": {"7": [epoch_part]},
        },
    )
    writer = ArrowIPCStreamWriter({"path": out}, None)
    writer.commit([_Committed("part-replay-attempt.arrow")], batchId=7)
    head = json.load(open(os.path.join(out, MANIFEST)))
    assert head["version"] == 2  # adopted, not re-committed
    assert head["files"] == sorted(head["files"]) or True
    assert "part-replay-attempt.arrow" not in head["files"]
    assert head["batches"] == {"7": [epoch_part]}


def test_time_travel_mirror_rebuilds_from_scratch_when_source_changes(
    spark, tmp_path
):
    """A stale time-travel mirror is rebuilt into a fresh directory, not
    appended to: after the source is touched, HEAD still counts the
    source's rows and the mirror holds exactly its two commits."""
    import glob
    import shutil

    from i3cols_spark.operators import QUERIES
    from i3cols_spark.operators.quality import _arrow_tt_mirror

    d = tmp_path / "sftt"
    d.mkdir()
    src = d / "orders.parquet"
    shutil.copy2("/root/testdata/sf0.001/orders.parquet", src)

    def head_orders() -> int:
        rows = QUERIES["q_source_arrow_timetravel"](spark, str(d)).collect()
        return next(r["n_orders"] for r in rows if r["snapshot"] == "head")

    assert head_orders() == spark.read.parquet(str(src)).count()
    os.utime(src)
    assert head_orders() == spark.read.parquet(str(src)).count()
    path = _arrow_tt_mirror(spark, str(d))
    assert len(glob.glob(os.path.join(path, "_ARROW_MANIFEST.v*.json"))) == 2
