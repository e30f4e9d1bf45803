"""Benchmark entry point.

    python3 perfbench/run.py --workload {analytics,dedup,ingest} --seed N \
        --seconds S --trace {0,1} [--scale {bench,tiny}] [--corrupt NAME ...]

Run from the repository root.  One run = one workload in one process on
``local[<cores>]``:

1. Generate the seeded inputs under ``.perfbench/`` (untimed) and look
   up the expected output hashes (DuckDB oracles, cached by dataset
   fingerprint + oracle SQL).
2. Set up three times, each time on empty warehouse/temp dirs (so the
   program's write-once caches rebuild): registry import, ``get_spark``
   and one warm pass.  The first sample is the cold start of the
   process (JVM launch; its pass collects and checks every output, the
   checks untimed).  The later two re-import the registry and call
   ``get_spark`` again, which on the live session re-runs its builder
   and ``configure``; each is also charged the cold sample's JVM launch
   and session start.  ``setup_s`` is the median.
3. After each later set-up sample, measure half of ``--seconds``: whole
   passes, one client, closed loop.  End-to-end figures come from each
   operation type's median latency.
4. Print a readable summary, then, as the last stdout line, one JSON
   object ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 1`` instead measures once untraced and once traced (spans
around the layers' public functions + Spark's event log), and reports
the per-layer metrics and the tracing overhead.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
SETUP_SAMPLES = 3
#: Job group of the traced run's per-layer probes (kept out of the
#: per-operation engine figures).
PROBE_GROUP = "probe"
#: Spark local property naming the operation a job belongs to.
OP_PROPERTY = "perfbench.op"
WORKLOADS = ("analytics", "dedup", "ingest")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("bench", "tiny"), default="bench")
    p.add_argument(
        "--corrupt", nargs="*", default=(),
        help="corrupt the expected result of these operations (self-test)",
    )
    return p.parse_args(argv)


def prepare_env(run_dir: str) -> None:
    """Hermetic run state: every write-once cache of the program (npy
    mirror under the temp dir, IVF index in the warehouse) lands in this
    run's own dirs; Python workers import the checkout's package."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    # A 1 GiB heap cap; the heap starts at the JVM's default size and
    # grows only as the program's allocation demands, so the JVM's
    # high-water mark follows what the program uses.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    # Every JVM (launcher and driver) keeps its temp files in the run dir.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData"
    os.environ["TZ"] = "UTC"
    time.tzset()


def fresh_state(run_dir: str, i: int) -> None:
    """Point the program at empty state for set-up sample ``i``: a new
    temp dir and an emptied warehouse dir (the warehouse path is a
    static conf, fixed per session)."""
    import tempfile

    tempfile.tempdir = os.path.join(run_dir, f"tmp{i}")
    os.makedirs(tempfile.tempdir)
    os.environ["SPARK_WAREHOUSE_DIR"] = wh = os.path.join(run_dir, "warehouse")
    shutil.rmtree(wh, ignore_errors=True)


def import_registry() -> float:
    """Import the program's query registry afresh (every ``i3cols_spark``
    module re-executes, its in-memory caches start empty); seconds."""
    for name in [m for m in sys.modules if m == "i3cols_spark" or m.startswith("i3cols_spark.")]:
        del sys.modules[name]
    t0 = time.perf_counter()
    import i3cols_spark.operators  # noqa: F401

    return time.perf_counter() - t0


def set_event_log(log_dir: str) -> None:
    """Static confs for the next SparkContext, through JVM system
    properties (SparkConf loads them at construction)."""
    from pyspark import SparkContext

    os.makedirs(log_dir, exist_ok=True)
    props = SparkContext._jvm.java.lang.System
    for k, v in (
        ("spark.eventLog.enabled", "true"),
        ("spark.eventLog.dir", "file://" + log_dir),
        ("spark.eventLog.compress", "false"),
        ("spark.eventLog.rolling.enabled", "false"),
    ):
        props.setProperty(k, v)


def stop_jvm() -> None:
    """Let the driver JVM exit (it does on EOF of its stdin) and wait
    for it, so no process of the run outlives it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def peak_rss_mb(spark) -> float:
    """Driver JVM high-water mark + driver Python peak RSS."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


class Bench:
    def __init__(self, args, run_dir: str, t_import: float):
        from workloads import ANALYTICS, DEDUP, SCALES, IngestWorkload, QueryWorkload

        self.args = args
        self.run_dir = run_dir
        self.t_import = t_import
        scale = SCALES[args.scale]
        if args.workload == "ingest":
            self.wl = IngestWorkload(scale, tuple(args.corrupt))
        else:
            queries = ANALYTICS if args.workload == "analytics" else DEDUP
            self.wl = QueryWorkload(args.workload, queries, scale, STATE, tuple(args.corrupt))
        self.spark = None
        self.all_ops = []
        self.passes = 0

    # -- session + passes ----------------------------------------------
    def start_session(self) -> float:
        """``get_spark`` (the first call also launches the JVM).
        Returns its seconds."""
        t0 = time.perf_counter()
        from i3cols_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.args.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.cores = self.spark.sparkContext.defaultParallelism
        return time.perf_counter() - t0

    def run_pass(self, pass_i: int, verify: bool, tracer=None, label="pass") -> list:
        ops = []
        for name in self.wl.pass_ops(pass_i):
            if tracer is not None:
                # The job group names the operation; the local property
                # also reaches the jobs of stream queries the operation
                # starts (their thread inherits it, their group is the
                # query's run id).
                self.spark.sparkContext.setJobGroup(name, f"{label}{pass_i}")
                self.spark.sparkContext.setLocalProperty(OP_PROPERTY, name)
                with tracer.span("op", op=name, phase=label, pass_i=pass_i):
                    op = self.wl.run_op(self.spark, name, verify, tracer)
            else:
                op = self.wl.run_op(self.spark, name, verify)
            op.pass_i = pass_i
            if not op.ok:
                print(f"# FAILED {name}: {op.error}", file=sys.stderr)
            ops.append(op)
        self.all_ops.extend(ops)
        return ops

    def setup(self, sample: int, verify: bool, tracer=None, restart=False) -> tuple[float, float, float]:
        """One set-up sample on empty write-once state: (registry import
        s, session start s, warm pass s).  Sample 0 is the cold start of
        the process (JVM launch included); later samples re-import the
        registry and call ``get_spark`` again, which on a live session
        re-runs its builder and ``configure`` (``restart`` stops the
        session first).  The warm pass time sums its operations, so
        output checks stay untimed.  A ``tracer`` wraps the layers of
        the freshly imported modules."""
        if restart:
            self.close()
        fresh_state(self.run_dir, sample)
        self.wl.reset()
        import_s = self.t_import if sample == 0 else import_registry()
        if tracer is not None:
            tracer.wrap_layers()
        start_s = self.start_session()
        ops = self.run_pass(-1 - sample, verify=verify, tracer=tracer, label="warm")
        return import_s, start_s, sum(o.latency_s for o in ops)

    def measure(self, seconds: float, tracer=None) -> list:
        """Whole passes until ``seconds`` of operation time (none if
        ``seconds`` <= 0)."""
        ops, busy = [], 0.0
        while busy < seconds:
            pass_ops = self.run_pass(self.passes, verify=False, tracer=tracer)
            if tracer is not None and hasattr(self.wl, "probe_layers"):
                self.spark.sparkContext.setJobGroup(PROBE_GROUP, "per-layer probes")
                self.spark.sparkContext.setLocalProperty(OP_PROPERTY, PROBE_GROUP)
                self.wl.probe_layers(self.spark, tracer)
            busy += sum(o.latency_s for o in pass_ops)
            ops.extend(pass_ops)
            self.passes += 1
        return ops

    # -- the two run kinds -----------------------------------------------
    def run_untraced(self) -> dict:
        """Set-up samples (the first is the cold start), each warm one
        followed by whole passes until its share of ``--seconds`` of
        operation time is reached, so the measured passes spread over
        the run."""
        parts = [self.setup(0, verify=True)]
        ops = []
        for i in range(1, SETUP_SAMPLES):
            parts.append(self.setup(i, verify=False))
            busy = sum(o.latency_s for o in ops)
            ops += self.measure(i * self.args.seconds / (SETUP_SAMPLES - 1) - busy)
        return {"setup_parts": parts, "ops": ops, "peak_rss_mb": peak_rss_mb(self.spark)}

    def run_traced(self) -> dict:
        from tracing import Tracer, read_event_log

        # Untraced reference (same measurement, no spans, no event log).
        self.setup(0, verify=True)
        ref_ops = self.measure(self.args.seconds)
        log_dir = os.path.join(self.run_dir, "eventlog")
        set_event_log(log_dir)
        tracer = Tracer()
        with tracer.span("run", workload=self.args.workload, seed=self.args.seed):
            _, start_s, warm_s = self.setup(1, verify=False, tracer=tracer, restart=True)
            since = time.time()
            ops = self.measure(self.args.seconds, tracer)
        tracer.unwrap_layers()
        self.close()  # flushes and closes the event log
        engine = read_event_log(log_dir, int(since * 1000), OP_PROPERTY)
        os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
        trace_path = os.path.join(STATE, "traces", f"{self.args.workload}-seed{self.args.seed}.json")
        tracer.write(trace_path, engine)
        return {
            "ref_ops": ref_ops, "ops": ops, "start_s": start_s, "warm_s": warm_s,
            "since": since, "tracer": tracer, "engine": engine, "trace_path": trace_path,
        }

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def latency_gmean(ops: list) -> float:
    """Geometric mean over operation types of each type's median
    latency: every query (or ETL step) weighs the same, and which one
    is the median of a mixed sample does not make the figure jump."""
    meds = type_medians(ops)
    return math.exp(statistics.fmean(math.log(m) for m in meds)) if meds else 0.0


def type_medians(ops: list) -> list:
    """Median latency of each operation type (failed operations out)."""
    by_name: dict[str, list] = {}
    for o in ops:
        if o.ok:
            by_name.setdefault(o.name, []).append(o.latency_s)
    return [median(v) for v in by_name.values()]


def setup_samples(parts: list) -> list:
    """Set-up sample totals.  The JVM launch and session start happen
    once per process, in the cold sample; each later sample is charged
    that time plus its own registry import, ``get_spark`` and warm pass."""
    (import0, start0, pass0), later = parts[0], parts[1:]
    return [import0 + start0 + pass0] + [start0 + sum(p) for p in later]


def end_to_end(res: dict) -> dict:
    meds = type_medians(res["ops"])
    return {
        "setup_s": (median(setup_samples(res["setup_parts"])), "s"),
        "ops_per_s": (len(meds) / sum(meds) if meds else 0.0, "1/s"),
        "latency_gmean_s": (latency_gmean(res["ops"]), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }


def per_layer(res: dict, wl, cores: int) -> dict:
    """Per-layer metrics of a traced run; sums are per operation."""
    from workloads import IngestWorkload

    tr, eng = res["tracer"], res["engine"]
    ops = res["ops"]
    n = max(1, len(ops))
    since = res["since"]
    tot: dict[str, float] = {}
    for group, counters in eng.items():
        if group != PROBE_GROUP:
            for k, v in counters.items():
                tot[k] = max(tot.get(k, 0.0), v) if k == "stage_skew_max" else tot.get(k, 0.0) + v
    per_op = lambda k: tot.get(k, 0.0) / n  # noqa: E731
    span_sum = lambda name: sum(tr.durations(name, since)) / n  # noqa: E731
    ingest = isinstance(wl, IngestWorkload)
    ref, traced = latency_gmean(res["ref_ops"]), latency_gmean(ops)
    query_ops = [o for o in ops if o.name.startswith("q_")]
    batches = [b for o in ops for b in o.extra.get("batches", [])]
    m = {
        "session.start_s": (res["start_s"], "s"),
        "session.warmup_s": (res["warm_s"], "s"),
        "operators.construct_s": (median([o.construct_s for o in query_ops]), "s/op"),
        "operators.action_s": (median([o.latency_s - o.construct_s for o in query_ops]), "s/op"),
        "sources.table_open_s": (span_sum("sources.table"), "s/op"),
        "sources.npy_scan_s": (
            median(tr.durations("probe.npy_scan", since)) if ingest
            else median([o.latency_s for o in ops if o.name == "q_source_npy_scan"]), "s",
        ),
        "sources.parquet_write_s": (median(tr.durations("probe.parquet_write", since)), "s"),
        "sources.readback_s": (median([o.latency_s for o in ops if o.name == "readback"]), "s"),
        "sources.npy_export_s": (median(tr.durations("sources.write_npy_columns", since)), "s"),
        "streaming.batch_s": (median([b[0] for b in batches]), "s"),
        "streaming.rows_per_batch": (median([b[1] for b in batches]), "rows"),
        "engine.jobs": (per_op("jobs"), "count/op"),
        "engine.stages": (per_op("stages"), "count/op"),
        "engine.tasks": (per_op("tasks"), "count/op"),
        "engine.scheduler_delay_s": (per_op("scheduler_delay_s"), "s/op"),
        "engine.executor_run_s": (per_op("executor_run_s"), "s/op"),
        "engine.executor_cpu_s": (per_op("executor_cpu_s"), "s/op"),
        "engine.slot_busy_ratio": (
            tot.get("executor_run_s", 0.0) / (sum(o.latency_s for o in ops) * cores), "ratio",
        ),
        "engine.stage_skew_max": (tot.get("stage_skew_max", 0.0), "ratio"),
        "engine.shuffle_write_mb": (per_op("shuffle_write_mb"), "MB/op"),
        "engine.shuffle_read_mb": (per_op("shuffle_read_mb"), "MB/op"),
        "engine.spill_mb": (per_op("spill_mb"), "MB/op"),
        "engine.gc_s": (per_op("gc_s"), "s/op"),
        "engine.input_mb": (per_op("input_mb"), "MB/op"),
        "engine.output_mb": (per_op("output_mb"), "MB/op"),
        "engine.failed_tasks": (tot.get("failed_tasks", 0.0), "count"),
        "pyworker.start_s": (per_op("py_start_ms") / 1e3, "s/op"),
        "pyworker.init_s": (per_op("py_init_ms") / 1e3, "s/op"),
        "pyworker.run_s": (per_op("py_run_ms") / 1e3, "s/op"),
        "pyworker.sent_mb": (per_op("py_sent_b") / 1e6, "MB/op"),
        "pyworker.received_mb": (per_op("py_received_b") / 1e6, "MB/op"),
        "trace.overhead_ratio": (traced / ref - 1.0 if ref and traced else 0.0, "ratio"),
    }
    return m


def print_query_table(res: dict) -> None:
    """Per-operation breakdown of the traced run (stderr)."""
    by_group = res["engine"]
    rows = {}
    for o in res["ops"]:
        r = rows.setdefault(o.name, {"n": 0, "construct": [], "latency": []})
        r["n"] += 1
        r["construct"].append(o.construct_s)
        r["latency"].append(o.latency_s)
    print("# traced run, per operation (medians; engine sums per op)", file=sys.stderr)
    print(f"# {'op':32s} {'n':>3s} {'constr_s':>9s} {'lat_s':>8s} {'jobs':>6s} {'tasks':>7s} "
          f"{'exec_s':>7s} {'shufMB':>7s} {'py_init_s':>9s} {'py_run_s':>8s}", file=sys.stderr)
    for name, r in sorted(rows.items()):
        g = by_group.get(name, {})
        k = max(1, r["n"])
        print(
            f"# {name:32s} {r['n']:3d} {median(r['construct']):9.3f} {median(r['latency']):8.3f} "
            f"{g.get('jobs', 0) / k:6.1f} {g.get('tasks', 0) / k:7.1f} {g.get('executor_run_s', 0) / k:7.3f} "
            f"{g.get('shuffle_write_mb', 0) / k:7.2f} {g.get('py_init_ms', 0) / k / 1e3:9.3f} "
            f"{g.get('py_run_ms', 0) / k / 1e3:8.3f}",
            file=sys.stderr,
        )
    print(f"# spans written to {os.path.relpath(res['trace_path'], ROOT)}", file=sys.stderr)


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    if not os.path.isdir(os.path.join(ROOT, "i3cols_spark")):
        print(f"perfbench: no i3cols_spark package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    run_dir = os.path.join(STATE, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    prepare_env(run_dir)
    bench = None
    try:
        bench = Bench(args, run_dir, import_registry())
        bench.wl.prepare(run_dir, args.seed)
        if args.trace:
            res = bench.run_traced()
            metrics = per_layer(res, bench.wl, bench.cores)
            print_query_table(res)
        else:
            res = bench.run_untraced()
            metrics = end_to_end(res)
        extra = bench.wl.summary(res["ops"])
    finally:
        if bench is not None:
            bench.close()
            stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)

    ops = bench.all_ops
    failed = sum(1 for o in ops if not o.ok)
    lat = sorted(o.latency_s for o in res["ops"] if o.ok)
    print(f"# workload={args.workload} seed={args.seed} trace={args.trace} cores={bench.cores} "
          f"measured ops={len(res['ops'])} (n={len(lat)} ok)")
    for k, (v, unit) in metrics.items():
        print(f"{k:28s} {v:14.6g} {unit}")
    if not args.trace:
        k90 = int(0.9 * len(lat))
        p90 = f"{lat[k90]:.6g} s" if len(lat) - k90 >= 10 else f"n/a (needs >=100 samples, have {len(lat)})"
        print(f"{'latency_p50_s':28s} {median(lat):14.6g} s (n={len(lat)})")
        print(f"{'latency_p90_s':28s} {p90}")
        print(f"{'cold_start_s':28s} {setup_samples(res['setup_parts'])[0]:14.6g} s (n=1)")
        print(f"{'set-up samples':28s} "
              f"{', '.join('+'.join(f'{x:.2f}' for x in p) for p in res['setup_parts'])} s "
              "(registry import + get_spark + warm pass)")
    for k, (v, n, unit) in extra.items():
        print(f"{k:28s} {v:14.6g} {unit} (n={n})")
    print(f"{'error_rate':28s} {failed / max(1, len(ops)):14.6g} ratio (failed {failed} of {len(ops)} attempted)")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
