"""Tiny-scale self-test of the benchmark.

    python3 perfbench/selftest.py

Run from the repository root (takes a few minutes).  Checks that:

1. every metric named in BENCHMARK.json is emitted with its unit, on
   every workload, untraced and traced;
2. a wrong expected result is counted as a failed operation (the run
   finishes and reports it) instead of crashing the run;
3. another seed changes the inputs (row order) but not the expected
   query results.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, trace: int, *extra: str) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--scale", "tiny", *extra,
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, declared: list, label: str) -> None:
    got = result["metrics"]
    for m in declared:
        assert m["name"] in got, f"{label}: metric {m['name']} missing"
        assert got[m["name"]]["unit"] == m["unit"], f"{label}: {m['name']} unit {got[m['name']]['unit']} != {m['unit']}"
        assert isinstance(got[m["name"]]["value"], (int, float)), f"{label}: {m['name']} not a number"
    extra = set(got) - {m["name"] for m in declared}
    assert not extra, f"{label}: undeclared metrics {sorted(extra)}"
    assert result["attempted"] >= 1, f"{label}: nothing attempted"


def check_seed_independence() -> None:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import tempfile

    import datagen
    from checks import OracleCache
    from i3cols_spark.operators import ORACLES
    from workloads import ANALYTICS, DEDUP, SCALES

    s = SCALES["tiny"]
    tables = datagen.query_tables(s["sf"], s["docs"], s["vecs"])
    fp = datagen.fingerprint(tables)
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench")) as tmp:
        hashes = {}
        for seed in (1, 2):
            d = os.path.join(tmp, f"seed{seed}")
            datagen.write_query_tables(tables, d, seed)
            # A throwaway cache file: each seed's oracles run for real.
            cache = OracleCache(os.path.join(tmp, f"cache{seed}.json"))
            hashes[seed] = {q: cache.expected(fp, ORACLES[q], d, tables) for q in ANALYTICS + DEDUP}
        with open(os.path.join(tmp, "seed1", "lineitem.parquet"), "rb") as a, \
                open(os.path.join(tmp, "seed2", "lineitem.parquet"), "rb") as b:
            assert a.read() != b.read(), "seeds 1 and 2 wrote identical inputs"
    assert hashes[1] == hashes[2], "expected results depend on the seed"
    print(f"ok: seeds 1 and 2 differ in input bytes, agree on {len(hashes[1])} expected results")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    check_seed_independence()
    for w in bench["workloads"]:
        name = w["name"]
        r = run(name, 5, 0)
        check_metrics(r, bench["end_to_end"], f"{name} untraced")
        assert r["correct"] and r["failed"] == 0, f"{name}: failures on a clean run: {r}"
        r = run(name, 5, 1)
        check_metrics(r, bench["per_layer"], f"{name} traced")
        print(f"ok: {name} emits every end-to-end and per-layer metric with its unit")
    # Runnable but not in BENCHMARK.json: check it still runs clean.
    r = run("dedup", 5, 0)
    check_metrics(r, bench["end_to_end"], "dedup untraced")
    assert r["correct"] and r["failed"] == 0, f"dedup: failures on a clean run: {r}"
    print("ok: dedup emits every end-to-end metric with its unit")
    for name, corrupt in (("analytics", "q_agg_groupby"), ("ingest", "readback")):
        r = run(name, 6, 0, "--corrupt", corrupt)
        assert not r["correct"] and r["failed"] >= 1, f"{name}: corrupted expectation not counted: {r}"
        check_metrics(r, bench["end_to_end"], f"{name} corrupted")
        print(f"ok: {name} with a corrupted {corrupt} expectation finished, failed={r['failed']}")
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
