"""Per-query plan capture and timing.

Captures ``explain("formatted")`` to ``plan-dumps/<name>_<tag>.txt``
(gitignored) and times the query with the noop sink (bench.py's exact
convention: construction untimed, min over N timed actions), without
paying the full 48-query suite for every iteration.

Usage:
  python scripts/opt_measure.py explain <tag> <query> [...]   # plan-dumps/<q>_<tag>.txt
  python scripts/opt_measure.py time [--passes N] <query> [...]
  python scripts/opt_measure.py both <tag> <query> [...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default os.cpu_count()).

Import-path rule: the engine is imported from THIS script's checkout,
not a hardcoded path, so a detached-worktree "before" run measures the
before code.  Every run
prints the resolved package path so an interleaved A/B transcript
self-documents which tree each JVM imported.
"""

from __future__ import annotations

import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

PLANS_DIR = os.path.join(_REPO, "plan-dumps")


def main() -> int:
    mode = sys.argv[1]
    if mode == "--where":
        # Self-test hook: print which tree the engine resolves from
        # (no Spark session) so a worktree A/B can be sanity-checked.
        import i3cols_spark

        print(os.path.dirname(os.path.abspath(i3cols_spark.__file__)))
        return 0
    args = sys.argv[2:]
    passes = 3
    if args and args[0] == "--passes":
        passes = int(args[1])
        args = args[2:]
    tag = None
    if mode in ("explain", "both"):
        tag, *names = args
    else:
        names = args

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import i3cols_spark

    print(f"# engine: {os.path.dirname(i3cols_spark.__file__)}", file=sys.stderr)
    from i3cols_spark.session import get_spark

    spark = get_spark("opt-measure")
    spark.sparkContext.setLogLevel("ERROR")
    from i3cols_spark.operators import QUERIES

    # Warm the JVM + parquet footers (bench.py convention, not measured).
    QUERIES["q_topk"](spark, sf_dir).collect()

    os.makedirs(PLANS_DIR, exist_ok=True)
    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    for name in names:
        if mode in ("explain", "both"):
            df = QUERIES[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(PLANS_DIR, f"{name}_{tag}.txt")
            with open(path, "w") as fh:
                fh.write(plan)
            print(f"# wrote {path} ({len(plan)} bytes)", file=sys.stderr)
        if mode in ("time", "both"):
            for _ in range(passes):
                df = QUERIES[name](spark, sf_dir)
                spark.sparkContext.setJobDescription(f"opt: {name}")
                t0 = time.perf_counter()
                df.write.mode("overwrite").format("noop").save()
                dt = round(time.perf_counter() - t0, 3)
                timings[name] = min(timings.get(name, dt), dt)
                if name not in rows:
                    rows[name] = QUERIES[name](spark, sf_dir).count()
                print(f"# {name}: {dt}s ({rows[name]} rows)", file=sys.stderr)
    for name, t in timings.items():
        print(f"{name}\t{t}\t{rows[name]}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
