"""CLI — the i3cols command-line surface re-expressed over Spark jobs
(i3cols/cli.py::main analog, SURVEY §2.1 S11).

Subcommand mapping:
  extract   ≙ extr_sep / extr_as_one  (JSON-lines → typed parquet,
              --keys/--exclude-keys projection, run parsing from names)
  combine   ≙ combine_runs            (union datasets, run-partitioned)
  compact   ≙ compress/decompress     (rewrite with codec/file sizing)
  query     — run a registered SURVEY §2.3 query by name
  index     — build/refresh the write-once IVF ANN index
              (operators/similarity.build_ivf_index, fingerprinted)
  bench     — the bench.py headline suite
  import-npy / export-npy — bridge the reference's native npy
              column-dir layout (sources/npy_cols.py DataSource)

Usage: python -m i3cols_spark.cli <subcommand> [options]
"""

from __future__ import annotations

import argparse
import json
import sys


def _write(spark, df, out: str, partition_by=(), overwrite: bool = True) -> None:
    """Write ``df`` with the parquet sink (``ingest.write_columns``),
    partitioned by those of ``partition_by`` it has, and print the
    result line ``{"written", "rows"}`` read back from ``out``."""
    from i3cols_spark.sources.ingest import read_columns, write_columns

    part = tuple(c for c in partition_by if c in df.columns)
    write_columns(df, out, partition_by=part, mode="overwrite" if overwrite else "error")
    print(json.dumps({"written": out, "rows": read_columns(spark, out).count()}))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="i3cols-spark")
    p.add_argument("--cpus", type=int, default=0, help="local[N] cores")
    sub = p.add_subparsers(dest="cmd", required=True)

    ex = sub.add_parser("extract", help="serial records → columnar parquet")
    ex.add_argument("inputs", nargs="+")
    ex.add_argument("--out", required=True)
    ex.add_argument("--keys", nargs="*", default=None, help="column subset")
    ex.add_argument("--exclude-keys", nargs="*", default=None)
    ex.add_argument("--partition-by", nargs="*", default=["run"])
    ex.add_argument("--overwrite", action="store_true")

    cb = sub.add_parser("combine", help="union N datasets (combine_runs)")
    cb.add_argument("inputs", nargs="+")
    cb.add_argument("--out", required=True)

    cp = sub.add_parser("compact", help="rewrite with zstd + file sizing")
    cp.add_argument("input")
    cp.add_argument("--out", required=True)
    cp.add_argument("--target-files", type=int, default=0)

    q = sub.add_parser("query", help="run a registered query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--limit", type=int, default=20)
    q.add_argument("--explain", action="store_true")

    inp = sub.add_parser("import-npy", help="npy column dirs → parquet dataset")
    inp.add_argument("input")
    inp.add_argument("--out", required=True)
    inp.add_argument("--keys", nargs="*", default=None)
    inp.add_argument("--partition-by", nargs="*", default=[])
    inp.add_argument("--overwrite", action="store_true")

    out = sub.add_parser("export-npy", help="parquet dataset → npy column dirs")
    out.add_argument("input")
    out.add_argument("--out", required=True)
    out.add_argument("--keys", nargs="*", default=None)

    sq = sub.add_parser("sql", help="ad-hoc SQL over the dataset tables")
    sq.add_argument("statement")
    sq.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sq.add_argument("--limit", type=int, default=20)
    sq.add_argument("--explain", action="store_true")
    sq.add_argument("--out", default=None, help="write full result as parquet instead of showing")

    ix = sub.add_parser(
        "index", help="build/refresh the write-once IVF ANN index"
    )
    ix.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ix.add_argument(
        "--refine-iters", type=int, default=0,
        help="Lloyd refinement iterations (0 = deterministic seed index)",
    )

    sub.add_parser("list", help="list registered queries")
    sub.add_parser("bench", help="run the headline bench (one JSON line)")

    vac = sub.add_parser(
        "vacuum", help="reclaim superseded arrowipc snapshots (time travel GC)"
    )
    vac.add_argument("path", help="arrowipc table directory")
    vac.add_argument(
        "--retain-last", type=int, default=1,
        help="newest snapshot versions to keep (HEAD is always kept)",
    )

    args = p.parse_args(argv)

    if args.cmd == "vacuum":
        # Pure filesystem walk over the manifest protocol — no Spark
        # session needed (and none should be paid for).
        from i3cols_spark.sources.arrow_ipc import vacuum

        print(json.dumps(vacuum(args.path, retain_last=args.retain_last)))
        return 0

    if args.cmd == "bench":
        # bench.py lives at the repo root next to __spark_entry__.py;
        # delegate so `i3cols-spark bench` and `python bench.py` are
        # the same measurement.
        import importlib.util
        import os as _os

        root = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
        spec = importlib.util.spec_from_file_location(
            "i3cols_bench", _os.path.join(root, "bench.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        mod.main()
        return 0

    if args.cmd == "list":
        from i3cols_spark.operators import ORACLES, QUERIES

        for name in sorted(QUERIES):
            kind = "oracle" if name in ORACLES else "rows-only"
            print(f"{name}\t{kind}")
        return 0

    from pyspark.sql import SparkSession

    from i3cols_spark.session import get_spark

    # In-process callers (tests, notebooks) may already own the
    # singleton session — getOrCreate hands it back to us, and stopping
    # it on exit would kill the caller's context out from under every
    # later fixture.  Only stop what this invocation itself created.
    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark("i3cols-cli", cpus=args.cpus or None)

    if args.cmd == "extract":
        from i3cols_spark.sources.ingest import extract_jsonl, with_run_info

        df = with_run_info(extract_jsonl(spark, args.inputs))
        if args.keys:
            df = df.select(*args.keys)
        if args.exclude_keys:
            df = df.drop(*args.exclude_keys)
        _write(spark, df, args.out, args.partition_by, args.overwrite)
    elif args.cmd == "index":
        import os as _os

        from i3cols_spark.operators.similarity import build_ivf_index

        idx = build_ivf_index(spark, args.sf_dir, refine_iters=args.refine_iters)
        with open(_os.path.join(idx, "_CENTROIDS.json")) as fh:
            meta = json.load(fh)
        print(json.dumps({
            "index": idx,
            "nlist": len(meta["cid"]),
            "refine_iters": args.refine_iters,
        }))
    elif args.cmd == "combine":
        from i3cols_spark.sources.ingest import combine

        merged = combine(spark, args.inputs, out=args.out)
        print(json.dumps({"written": args.out, "rows": merged.count()}))
    elif args.cmd == "compact":
        from i3cols_spark.sources.ingest import compact

        compact(spark, args.input, args.out, args.target_files)
        print(json.dumps({"written": args.out}))
    elif args.cmd == "import-npy":
        from i3cols_spark.sources.npy_cols import read_npy_columns

        df = read_npy_columns(spark, args.input, keys=args.keys)
        _write(spark, df, args.out, args.partition_by, args.overwrite)
    elif args.cmd == "export-npy":
        from i3cols_spark.sources.ingest import read_columns
        from i3cols_spark.sources.npy_cols import write_npy_columns

        df = read_columns(spark, args.input, keys=args.keys)
        write_npy_columns(df, args.out, overwrite=True)
        print(json.dumps({"written": args.out, "rows": df.count()}))
    elif args.cmd == "query":
        from i3cols_spark.operators import QUERIES

        if args.name not in QUERIES:
            print(f"unknown query: {args.name}", file=sys.stderr)
            return 2
        df = QUERIES[args.name](spark, args.sf_dir)
        if args.explain:
            df.explain("formatted")
        df.show(args.limit, truncate=False)
    elif args.cmd == "sql":
        # The full spark.sql surface over the dataset: every fixture
        # table is a temp view, so joins/windows/CTEs all work and
        # Catalyst owns the plan (the engine adds nothing here — which
        # is the point).
        from i3cols_spark.sources.tables import register_views

        register_views(spark, args.sf_dir)
        df = spark.sql(args.statement)
        if args.explain:
            df.explain("formatted")
        if args.out:
            _write(spark, df, args.out)
        else:
            df.show(args.limit, truncate=False)
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
