"""Simulate the driver's verify pass at the real surface.

Builds a VANILLA SparkSession (deliberately without i3cols_spark's
configs — the driver owns the session), imports ``__spark_entry__``
fresh, smoke-runs ``entry()``, then runs every ``queries()`` entry at
the driver's correctness SF against ``oracle_sql()`` in DuckDB with an
order-insensitive value-hash compare (the driver-gate semantics).

Usage: python scripts/driver_sim.py [sf_dir] [query ...]
       python scripts/driver_sim.py [sf_dir] --chunk i/N
       python scripts/driver_sim.py [sf_dir] --names-file FILE

``--chunk i/N`` (1-based) runs the i-th of N contiguous slices of the
alphabetically-sorted surface — the full sf0.1 sweep no longer fits
one 30-minute invocation, so the standing recipe
is N sequential chunk runs whose TOTAL lines add up to the full
surface.  ``--names-file`` reads one query name per line (blank lines
and #-comments ignored) for arbitrary batching.
"""

from __future__ import annotations

import hashlib
import sys
import time

sys.path.insert(0, "/root/repo")


def value_hash(columns, rows) -> str:
    from i3cols_spark.compare import _canon_rows, assert_driver_sortable

    # The driver pandas-sorts every output column; replicate its crash mode.
    assert_driver_sortable(list(columns), rows, "value_hash")
    canon = _canon_rows(list(columns), rows)
    h = hashlib.sha256()
    for r in canon:
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def _parse_selection(argv: list) -> tuple:
    """Returns (only_names | None, chunk | None) from the CLI tail."""
    only: set = set()
    chunk = None
    it = iter(argv)
    for a in it:
        if a == "--chunk":
            i, n = next(it).split("/")
            chunk = (int(i), int(n))
            if not (1 <= chunk[0] <= chunk[1]):
                raise SystemExit(f"--chunk {i}/{n}: need 1 <= i <= N")
        elif a == "--names-file":
            with open(next(it)) as fh:
                for line in fh:
                    line = line.split("#", 1)[0].strip()
                    if line:
                        only.add(line)
        else:
            only.add(a)
    return only, chunk


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only, chunk = _parse_selection(sys.argv[2:])

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as mod

    t0 = time.time()
    rows = mod.entry(spark).collect()
    print(f"SMOKE entry(): {len(rows)} rows in {time.time()-t0:.1f}s -> {rows[:2]}")
    assert len(rows) > 0, "smoke: entry() returned 0 rows"

    from i3cols_spark.compare import duckdb_connect

    queries, oracles = mod.queries(), mod.oracle_sql()
    con = duckdb_connect(sf_dir)
    names = sorted(queries)
    if chunk is not None:
        i, n = chunk
        per = -(-len(names) // n)  # ceil
        names = names[(i - 1) * per : i * per]
        print(f"CHUNK {i}/{n}: {len(names)} queries "
              f"({names[0]} .. {names[-1]})" if names else f"CHUNK {i}/{n}: empty")
    n_ok = n_weak = n_fail = 0
    for name in names:
        fn = queries[name]
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols, s_rows = sdf.columns, [tuple(r) for r in sdf.collect()]
            if name not in oracles:
                from i3cols_spark.compare import assert_driver_sortable

                assert_driver_sortable(list(s_cols), s_rows, name)
                print(f"  WEAK {name}: rows={len(s_rows)} ({time.time()-t0:.1f}s)")
                n_weak += 1
                continue
            res = con.execute(oracles[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
            sh, dh = value_hash(s_cols, s_rows), value_hash(d_cols, d_rows)
            status = "OK" if (sh == dh and len(s_rows) == len(d_rows)) else "HASH-MISMATCH"
            if status == "OK":
                n_ok += 1
            else:
                n_fail += 1
            print(
                f"  {status} {name}: rows={len(s_rows)}/{len(d_rows)} "
                f"hash={sh}/{dh} ({time.time()-t0:.1f}s)"
            )
        except Exception as e:  # noqa: BLE001
            n_fail += 1
            print(f"  ERROR {name}: {type(e).__name__}: {e}")
    print(f"TOTAL ok={n_ok} weak={n_weak} fail={n_fail}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
