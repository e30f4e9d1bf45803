"""Dataset sinks publish by directory swap (``i3cols_spark.publish``):
a write that raises or is killed leaves the previous output byte-
identical and no ``.tmp-`` sibling behind, rewrites keep the category
layout, and no DataFrame write outside the protocol's places exists."""

from __future__ import annotations

import ast
import os
import pathlib
import signal
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from i3cols_spark import compat
from i3cols_spark.cli import main
from i3cols_spark.plans.checks import explain_str
from i3cols_spark.publish import sink
from i3cols_spark.sources import ingest
from i3cols_spark.sources.mirrors import data_fingerprint
from i3cols_spark.sources.npy_cols import read_npy_columns, write_npy_columns
from tests.conftest import SF_DIR

REPO = pathlib.Path(__file__).resolve().parent.parent


def _events(spark, n: int = 40):
    return spark.range(n).selectExpr("id AS event_id", "id % 3 AS run", "id / 2 AS x")


def _poison(df):
    """``df`` whose write job raises on one row, after other tasks ran."""
    return df.repartition(4).withColumn(
        "event_id", F.when(F.col("event_id") == 7, F.raise_error(F.lit("boom"))).otherwise(F.col("event_id"))
    )


def _siblings(out: str) -> list[str]:
    parent, name = os.path.split(out)
    return [n for n in os.listdir(parent) if n.startswith(name + ".tmp-")]


def _read_all(spark, out: str, npy: bool) -> list:
    df = read_npy_columns(spark, out) if npy else spark.read.parquet(out)
    return sorted(map(tuple, df.collect()))


def _via_write_columns(spark, src, out, poison):
    ingest.write_columns(ingest.read_columns(spark, src), out, partition_by=("run",), mode="overwrite")


def _via_combine(spark, src, out, poison):
    ingest.combine(spark, [src, src], out=out)


def _via_compact(spark, src, out, poison):
    ingest.compact(spark, src, out, target_files=2)


def _via_compress(spark, src, out, poison):
    compat.compress(spark, src, out)


def _via_decompress(spark, src, out, poison):
    compat.decompress(spark, src, out)


def _via_cli_sql(spark, src, out, poison):
    value = "raise_error('boom')" if poison else "-1"
    statement = f"SELECT CASE WHEN id = 7 THEN {value} ELSE id END AS event_id FROM range(0, 40, 1, 4)"
    assert main(["sql", statement, "--sf-dir", SF_DIR, "--out", out]) == 0


def _via_npy(spark, src, out, poison):
    df = spark.read.parquet(src).orderBy("event_id")  # columns event_id, x, run
    if poison:  # a null in a later column: raised after event_id was written
        df = df.withColumn("x", F.when(F.col("event_id") == 7, F.lit(None)).otherwise(F.col("x")))
    write_npy_columns(df, out, overwrite=True)


#: every user-facing dataset sink, as ``write(spark, src, out, poison)``;
#: a poisoned parquet sink fails in its Spark job (``read_columns`` is
#: patched to ``_poison`` the frames it opens), a poisoned npy export
#: on a null in its second key.
SINKS = {
    "write_columns": _via_write_columns,
    "combine": _via_combine,
    "compact": _via_compact,
    "compress": _via_compress,
    "decompress": _via_decompress,
    "cli_sql": _via_cli_sql,
    "write_npy_columns": _via_npy,
}


@pytest.mark.parametrize("name", sorted(SINKS))
def test_failed_write_leaves_the_previous_output(spark, tmp_path, monkeypatch, name):
    """Each sink first writes a good output; the same sink then fails
    inside its build: the previous output is byte-identical, reads the
    same rows, and no temp sibling of it remains."""
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    ingest.write_columns(_events(spark), src, partition_by=("run",))
    write, npy = SINKS[name], name == "write_npy_columns"
    write(spark, src, out, poison=False)
    before, rows = data_fingerprint(out), _read_all(spark, out, npy)
    real = ingest.read_columns
    with monkeypatch.context() as m:
        m.setattr(ingest, "read_columns", lambda *a, **kw: _poison(real(*a, **kw)))
        with pytest.raises(Exception, match="boom|nulls"):
            write(spark, src, out, poison=True)
    assert data_fingerprint(out) == before
    assert _read_all(spark, out, npy) == rows
    assert _siblings(out) == []


_KILLED_WRITER = """
import os, sys, time
from i3cols_spark.publish import sink
with sink(sys.argv[1], overwrite=True) as tmp:
    os.makedirs(os.path.join(tmp, "part"))
    open(os.path.join(tmp, "part", "partial.bin"), "wb").write(b"half a dataset")
    print("building", flush=True)
    time.sleep(120)
"""


@pytest.mark.parametrize("npy", [False, True], ids=["parquet", "npy"])
def test_killed_writer_leaves_out_and_the_next_write_reclaims(spark, tmp_path, npy):
    """A writer SIGKILLed mid-build (a plain Python process driving the
    sink helper) leaves ``out`` unchanged and its private sibling
    behind; the next write through a real sink reclaims that sibling
    and publishes a complete dataset."""
    out = str(tmp_path / "out")
    write = (lambda df: write_npy_columns(df, out, overwrite=True)) if npy else (
        lambda df: ingest.write_columns(df, out, mode="overwrite")
    )
    write(_events(spark, 10).orderBy("event_id"))
    before = data_fingerprint(out)
    proc = subprocess.Popen(
        [sys.executable, "-c", _KILLED_WRITER, out], cwd=REPO, stdout=subprocess.PIPE, text=True
    )
    try:
        assert proc.stdout.readline().strip() == "building"
    finally:
        proc.send_signal(signal.SIGKILL)
        proc.wait(timeout=30)
        proc.stdout.close()
    assert data_fingerprint(out) == before
    assert len(_siblings(out)) == 1
    write(_events(spark, 20).orderBy("event_id"))
    assert _siblings(out) == []
    assert len(_read_all(spark, out, npy)) == 20


def test_write_columns_modes(spark, tmp_path):
    """Only ``error`` and ``overwrite`` exist; ``error`` refuses an
    existing path before it builds anything."""
    out = str(tmp_path / "out")
    ingest.write_columns(_events(spark), out)
    before = data_fingerprint(out)
    with pytest.raises(FileExistsError):
        ingest.write_columns(_events(spark, 5), out)
    for mode in ("append", "ignore", "errorifexists"):
        with pytest.raises(ValueError, match="mode"):
            ingest.write_columns(_events(spark, 5), out, mode=mode)
    assert data_fingerprint(out) == before and _siblings(out) == []
    with pytest.raises(FileExistsError):
        write_npy_columns(_events(spark, 5), out)


def test_error_mode_refuses_an_out_published_during_the_build(tmp_path):
    """``sink(overwrite=False)`` checks ``out`` again at publish: a
    dataset another writer published meanwhile is kept, and this
    build is removed."""
    out = str(tmp_path / "out")
    with pytest.raises(FileExistsError):
        with sink(out, overwrite=False) as tmp:
            os.makedirs(tmp)
            os.makedirs(os.path.join(out, "theirs"))
    assert os.listdir(tmp_path) == ["out"] and os.listdir(out) == ["theirs"]


@pytest.mark.parametrize("name", ["compact", "compress", "decompress"])
def test_rewrites_keep_the_category_layout(spark, tmp_path, name):
    """A rewrite of a ``run=``-partitioned dataset stays partitioned:
    a filter on ``run`` plans partition filters on the output, and
    its rows equal the source's."""
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    ingest.write_columns(_events(spark), src, partition_by=("run",))
    SINKS[name](spark, src, out, poison=False)
    assert sorted(n for n in os.listdir(out) if n.startswith("run=")) == ["run=0", "run=1", "run=2"]
    got = ingest.read_columns(spark, out).filter(F.col("run") == 1)
    assert "PartitionFilters: [" in explain_str(got)
    assert "PartitionFilters: []" not in explain_str(got)
    want = ingest.read_columns(spark, src).filter(F.col("run") == 1)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_partition_columns_reads_the_directory_levels(tmp_path):
    for d in ("a=1/b=x", "a=2/b=y", "_temporary/c=1"):
        os.makedirs(tmp_path / "ds" / d)
    (tmp_path / "flat.parquet").write_bytes(b"")
    assert ingest.partition_columns(str(tmp_path / "ds")) == ("a", "b")
    assert ingest.partition_columns(str(tmp_path / "flat.parquet")) == ()
    assert ingest.partition_columns(str(tmp_path / "missing")) == ()


def test_every_dataset_write_goes_through_a_publishing_sink():
    """Outside ``ingest.write_columns``, a DataFrame ``.write`` in the
    package sits only in a nested ``build`` passed to ``write_once``,
    in ``ingest.write_bucketed`` (``saveAsTable``) or in
    ``streaming/jobs.py`` (stream sinks)."""
    allowed = {("sources/ingest.py", "write_columns"), ("sources/ingest.py", "write_bucketed")}
    stray = []

    def handed_to_write_once(fn: ast.AST | None, name: str) -> bool:
        return fn is not None and any(
            isinstance(call, ast.Call)
            and ast.unparse(call.func).endswith("write_once")
            and any(isinstance(a, ast.Name) and a.id == name for a in call.args)
            for call in ast.walk(fn)
        )

    def scan(node: ast.AST, rel: str, fn: ast.AST | None, ok: bool, calls: set[int]) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner_ok = ok or (rel, child.name) in allowed or handed_to_write_once(fn, child.name)
                scan(child, rel, child, inner_ok, calls)
                continue
            if (
                isinstance(child, ast.Attribute)
                and child.attr in ("write", "writeStream")
                and id(child) not in calls  # fh.write(...): a file, not a DataFrameWriter
                and not ok
            ):
                stray.append(f"{rel}:{child.lineno} in {fn.name if fn else '<module>'}")
            scan(child, rel, fn, ok, calls)

    root = REPO / "i3cols_spark"
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "streaming/jobs.py":
            continue
        tree = ast.parse(path.read_text())
        calls = {id(c.func) for c in ast.walk(tree) if isinstance(c, ast.Call)}
        scan(tree, rel, None, False, calls)
    assert not stray, stray
