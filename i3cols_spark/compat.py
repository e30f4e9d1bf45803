"""Reference-shaped API veneer — the i3cols public functions, mapped
1:1 onto this engine so an i3cols user can switch with minimal edits.

Semantics map (citations are reference file::function, SURVEY §2.1):

| reference | here | change for Spark |
|---|---|---|
| ``cols.load(dirpath, keys=, mmap=)`` | ``load`` | returns a lazy DataFrame + category (partition) values instead of a dict of mmapped arrays — laziness and projection are engine properties, not flags |
| ``cols.save_item(path, key, data)`` | ``save`` | one dataset = one parquet dir; "one dir per key" becomes "one column per key" |
| ``cols.concatenate_and_index_cols`` | ``concatenate_and_index`` | no offset fix-up; the run tag IS the category index |
| ``cols.compress`` / ``::decompress`` | ``compress`` / ``decompress`` | codec rewrite (zstd ↔ none); `.npz` has no analog — parquet is already compressed storage |
| ``extract.extract_files_as_one(paths, ...)`` | ``extract_files_as_one`` | icetray frame iteration → Spark json/parquet scan; multiprocessing pool → task parallelism |

Ragged columns need no special handling anywhere: the reference's
``data.npy`` + ``(start, stop)`` ``index.npy`` pair is exactly an
ArrayType column's Arrow offsets (SURVEY §1.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from i3cols_spark.sources import ingest


def _is_npy_dataset(dirpath: str) -> bool:
    """True when ``dirpath`` is in the reference's NATIVE layout (any
    ``<key>/data.npy`` subdir) — ``load`` then reads it through the
    i3cols_npy DataSource, so existing on-disk i3cols datasets work
    unconverted."""
    import os

    try:
        return any(
            os.path.isfile(os.path.join(dirpath, d, "data.npy"))
            for d in os.listdir(dirpath)
        )
    except (OSError, TypeError):
        return False


def load(
    spark: SparkSession,
    dirpath: str,
    keys: list[str] | None = None,
) -> tuple[DataFrame, dict[str, list]]:
    """i3cols/cols.py::load analog.

    Returns ``(df, category_index)``: a lazy column-pruned DataFrame
    (the arrays dict) and, when the dataset was written with a
    category layout (partitionBy — e.g. ``run``), the distinct
    category values (the reference's per-category (start, stop) map;
    slicing is ``df.filter(col(cat) == v)`` → partition pruning).
    """
    if _is_npy_dataset(dirpath):
        from i3cols_spark.sources.npy_cols import read_npy_columns

        df = read_npy_columns(spark, dirpath, keys=keys)
    else:
        df = ingest.read_columns(spark, dirpath, keys=keys)
    categories: dict[str, list] = {}
    for cat in ("run", "subrun"):
        if cat in df.columns and (keys is None or cat in keys):
            categories[cat] = sorted(
                r[cat] for r in df.select(cat).distinct().collect() if r[cat] is not None
            )
    return df, categories


def save(df: DataFrame, dirpath: str, category: str | None = "run", overwrite: bool = False) -> None:
    """i3cols/cols.py::save_item analog (whole-dataset form)."""
    part = (category,) if category and category in df.columns else ()
    ingest.write_columns(
        df, dirpath, partition_by=part, mode="overwrite" if overwrite else "error"
    )


def concatenate_and_index(
    spark: SparkSession, paths: list[str], out: str | None = None
) -> DataFrame:
    """i3cols/cols.py::concatenate_and_index_cols analog (CLI
    ``combine_runs``): union datasets, tag + partition by run."""
    return ingest.combine(spark, paths, out=out)


def compress(spark: SparkSession, path: str, out: str) -> None:
    """i3cols/cols.py::compress analog: rewrite with zstd (strongest
    codec available here; `.npz`'s whole-dir zip has no parquet analog
    because pages are already codec-compressed)."""
    ingest.compact(spark, path, out)


def decompress(spark: SparkSession, path: str, out: str) -> None:
    """i3cols/cols.py::decompress analog: rewrite uncompressed."""
    ingest.compact(spark, path, out, compression="none")


def extract_files_as_one(
    spark: SparkSession,
    paths: str | list[str],
    keys: list[str] | None = None,
    exclude_keys: list[str] | None = None,
    outdir: str | None = None,
) -> DataFrame:
    """i3cols/extract.py::extract_files_as_one analog: scan serial
    event records (JSON-lines stand-in for `.i3`), auto-discovering the
    schema, filtered to ``keys``/``exclude_keys``, optionally written
    as one combined columnar dataset (run-partitioned)."""
    df = ingest.with_run_info(ingest.extract_jsonl(spark, paths))
    if keys:
        cols = [k for k in keys if k in df.columns] + [
            c for c in ("run", "subrun") if c in df.columns and c not in keys
        ]
        df = df.select(*cols)
    if exclude_keys:
        df = df.drop(*[k for k in exclude_keys if k in df.columns])
    if outdir is not None:
        save(df, outdir, overwrite=True)
    return df
