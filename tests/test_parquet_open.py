"""Every parquet dataset the package reads opens through the schema
memo (``sources/tables.read_parquet``): derived mirrors are memo hits
on a repeat open and re-inferred after a rebuild, and no other parquet
read in the package infers a schema."""

from __future__ import annotations

import ast
import os
import pathlib
import uuid

import pytest
from pyspark.sql import functions as F

from i3cols_spark.sources import mirrors
from i3cols_spark.sources.tables import read_parquet, table
from tests.test_ingest import _jobs_in_group

REPO = pathlib.Path(__file__).resolve().parent.parent


@pytest.fixture
def warehouse(monkeypatch, tmp_path):
    """Mirrors of this test live in a temporary warehouse."""
    root = tmp_path / "warehouse"
    monkeypatch.setattr(mirrors, "_warehouse_root", lambda spark, kind: str(root / kind))
    return root


def test_mirror_open_is_a_memo_hit_until_rebuilt(spark, tmp_path, warehouse):
    """A ``write_once`` mirror opened twice infers its schema once; a
    rebuild after a source change publishes new part files, so the
    next open infers again and sees the column the rebuild added."""
    src = tmp_path / "src.txt"
    src.write_text("v1")
    tag = uuid.uuid4().hex

    def mirror(extra: bool) -> str:
        def build(out: str) -> None:
            df = spark.range(30).selectExpr("id", "id % 3 AS cell")
            if extra:
                df = df.withColumn("y", F.col("id") * 2)
            df.write.partitionBy("cell").parquet(out)

        path, _ = mirrors.write_once(spark, "memo_mirror", "m", [str(src)], build, {"v": 1})
        return path

    def open_mirror(group: str, path: str):
        opened = []
        jobs = _jobs_in_group(spark, f"{group}-{tag}", lambda: opened.append(read_parquet(spark, path)))
        return jobs, opened[0]

    path = mirror(extra=False)
    first, _ = open_mirror("mirror-first", path)
    second, df = open_mirror("mirror-second", path)
    assert len(first) >= 1, first
    assert second == [], second
    assert df.columns == ["id", "cell"] and df.count() == 30

    src.write_text("v2, one byte longer")
    assert mirror(extra=True) == path
    third, df = open_mirror("mirror-rebuilt", path)
    assert len(third) >= 1, third
    assert df.columns == ["id", "y", "cell"]
    assert df.agg(F.sum("y")).head()[0] == 2 * sum(range(30))


def test_ivf_query_reopens_its_index_without_inference(spark, sf_dir, tmp_path, warehouse):
    """Building ``q_similarity_ann_ivf``'s frame a second time in one
    session launches only the query vector's ``head()``: a memo-hit
    open of the IVF index launches no job.  Its schema is not inferred
    again, and its 63 cell directories are listed in the driver, since
    ``session.configure`` raises Spark's parallel-listing threshold
    (``spark.sql.sources.parallelPartitionDiscovery.threshold``, 32) on
    a local master."""
    from i3cols_spark.operators import QUERIES
    from i3cols_spark.operators.similarity import build_ivf_index

    q = QUERIES["q_similarity_ann_ivf"]
    tag = uuid.uuid4().hex
    first = q(spark, sf_dir).collect()

    def query_vector():
        table(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 0).select("embedding").head()

    head_jobs = _jobs_in_group(spark, f"ivf-head-{tag}", query_vector)
    index = build_ivf_index(spark, sf_dir)
    read_parquet(spark, index)
    open_jobs = _jobs_in_group(spark, f"ivf-open-{tag}", lambda: read_parquet(spark, index))
    built = []
    again = _jobs_in_group(spark, f"ivf-again-{tag}", lambda: built.append(q(spark, sf_dir)))
    assert open_jobs == [], open_jobs
    assert len(again) == len(head_jobs), (again, head_jobs)
    assert built[0].collect() == first


def _parquet_reads_without_schema(tree: ast.Module) -> list[int]:
    """Lines of ``….parquet(...)`` calls, and ``….format("parquet")
    ….load(...)`` calls, whose receiver chain is not a writer and
    holds no ``.schema(...)``."""
    bad = []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        chain, links = node.func.value, []
        while isinstance(chain, (ast.Call, ast.Attribute)):
            if isinstance(chain, ast.Attribute):
                links.append(chain.attr)
                chain = chain.value
            else:
                if isinstance(chain.func, ast.Attribute) and chain.func.attr == "format":
                    links += [f"format:{ast.unparse(a)}" for a in chain.args]
                chain = chain.func
        parquet_load = node.func.attr == "load" and "format:'parquet'" in links
        if not (node.func.attr == "parquet" or parquet_load):
            continue
        if not {"write", "writeStream", "schema"} & set(links):
            bad.append(node.lineno)
    return sorted(bad)


def test_every_parquet_read_is_schema_memoised():
    """Outside ``sources/tables.py`` a parquet read in the package
    either passes an explicit schema or goes through
    ``tables.read_parquet``, so the memo is the only reader that
    infers a parquet schema."""
    root = REPO / "i3cols_spark"
    stray = [
        f"{path.relative_to(root).as_posix()}:{line}"
        for path in sorted(root.rglob("*.py"))
        if path.relative_to(root).as_posix() != "sources/tables.py"
        for line in _parquet_reads_without_schema(ast.parse(path.read_text()))
    ]
    assert not stray, stray


def test_parquet_read_census_sees_the_read_forms():
    """The census flags inferring reads in each spelling and passes
    writers and explicit-schema reads."""
    flagged = _parquet_reads_without_schema(ast.parse(
        "spark.read.parquet(p)\n"
        "spark.read.option('a', 1).parquet(p).filter(x)\n"
        "spark.read.format('parquet').load(p)\n"
        "reader.parquet(p)\n"
        "spark.read.schema(s).parquet(p)\n"
        "spark.readStream.schema(s).format('parquet').load(p)\n"
        "df.write.mode('overwrite').parquet(p)\n"
        "df.repartition(2).write.partitionBy('c').parquet(p)\n"
        "spark.read.format('json').load(p)\n"
    ))
    assert flagged == [1, 2, 3, 4]
