"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process runs one workload: it starts a
Spark session at ``local[nproc]``, makes (or reuses) the seed's inputs under
``.perfbench_work/`` in the checkout, loads them, warms up, then runs one
operation at a time (a closed loop with one client) until ``--seconds`` of
op time have passed, checking every op's output outside its timing.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end metrics; with ``--trace 1`` the run
alternates untraced and traced ops and the metrics are the per-layer ones.
Lines before it are a human-readable report. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OP_TIMEOUT_S = 150

#: layer spans; every traced run reports the same metrics for each, with
#: zeros where a workload does not run that layer
LAYERS = (
    "icetable.scan", "extraction", "linking.map", "linking.apply",
    "canonicalize", "dictionary", "icetable.commit",
    "mining.amie", "mining.measures",
    "prediction.predict", "prediction.rank", "prediction.evaluate",
    "mining.constants", "mining.measures_constants",
)
SPAN_METRICS = (
    ("self_s", "s"), ("rows", "count"), ("spark.jobs", "count"),
    ("spark.task_busy_s", "s"), ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"), ("spark.slot_idle_frac", "ratio"),
    ("spark.failed_tasks", "count"),
)
#: (metric, unit, span, row key) counts beyond each span's ``rows``
EXTRA_COUNTS = (
    ("icetable.scan.files", "count", "icetable.scan", "files"),
    ("canonicalize.sameas_edges", "count", "canonicalize", "sameas_edges"),
    ("canonicalize.merged_nodes", "count", "canonicalize", "merged_nodes"),
    ("dictionary.terms", "count", "dictionary", "terms"),
    ("icetable.commit.files", "count", "icetable.commit", "files"),
    ("icetable.commit.bytes", "B", "icetable.commit", "bytes"),
    ("mining.constants.local_gate", "count", "mining.constants",
     "local_gate"),
)
#: engine environment knobs the benchmark leaves at their defaults
ENGINE_ENV_PREFIXES = ("RDFRULES_", "SPARK_GRAFT_")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--prepare", action="store_true",
                    help="only make every workload's shared inputs and "
                         "cross-checks, in this process")
    return ap.parse_args(argv)


def log(msg: str) -> None:
    print(msg, flush=True)


def spark_conf() -> dict:
    return {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def prepare_env() -> int:
    """Keep every file the run writes inside the checkout, make the engine
    importable by Spark's Python workers, and drop engine env knobs so its
    gates stay at their defaults. Returns the core count."""
    for k in list(os.environ):
        if k.startswith(ENGINE_ENV_PREFIXES):
            del os.environ[k]
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM, spark-submit's launcher included: no hsperfdata files and
    # no temporary files outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}")
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "")
                            .split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    return len(os.sched_getaffinity(0))


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    s = sorted(xs)
    k = (len(s) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_report(xs: list[float]) -> str:
    """The highest whole percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return f"n={n}: no percentile has 10 samples beyond it"
    q = int(100 * (1 - 10 / n))
    return f"n={n}: p{q}={percentile(xs, q):.4f} s"


class Watchdog:
    """Cancels every Spark job if an op runs past OP_TIMEOUT_S."""

    def __init__(self, sc):
        self.sc = sc
        self.fired = False
        self.timer = None

    def __enter__(self):
        def fire():
            self.fired = True
            self.sc.cancelAllJobs()

        self.timer = threading.Timer(OP_TIMEOUT_S, fire)
        self.timer.daemon = True
        self.timer.start()
        return self

    def __exit__(self, *exc):
        self.timer.cancel()
        return False


def layer_metrics(tracer, traced_ops: list[int], cores: int) -> dict:
    """Per-layer metrics: each value is the median over the traced ops of
    the per-op sum over that layer's spans."""
    from tracer import slot_idle_frac

    per_op = [tracer.op_summary(i) for i in traced_ops]

    def med(fn):
        return statistics.median(fn(s) for s in per_op)

    def get(summary, span, key):
        return float(summary.get(span, {}).get(key, 0.0))

    m = {}
    for span in LAYERS:
        for key, unit in SPAN_METRICS:
            if key == "spark.slot_idle_frac":
                v = med(lambda s: slot_idle_frac(
                    get(s, span, "task_busy_s"), get(s, span, "self_s"), cores)
                    if span in s else 0.0)
            else:
                v = med(lambda s: get(s, span, key.replace("spark.", "")))
            m[f"{span}.{key}"] = (v, unit)
    for name, unit, span, key in EXTRA_COUNTS:
        m[name] = (med(lambda s: get(s, span, key)), unit)

    def ratio(num_span, den_span, num_key="rows", den_key="rows"):
        def f(s):
            den = get(s, den_span, den_key)
            return get(s, num_span, num_key) / den if den else 0.0
        return med(f)

    m["icetable.commit.bytes_per_triple"] = (
        ratio("icetable.commit", "icetable.commit", "bytes"), "B/triple")
    m["mining.measures.keep_ratio"] = (
        ratio("mining.measures", "mining.amie"), "ratio")
    m["mining.measures_constants.keep_ratio"] = (
        ratio("mining.measures_constants", "mining.constants"), "ratio")
    m["op.self_s"] = (med(lambda s: get(s, "op", "self_s")), "s")
    m["trace.coverage"] = (med(lambda s: get(s, "op", "coverage")), "ratio")
    return m


def stop_spark(spark, tree) -> None:
    """Stop the session, the JVM and every process it started, and wait
    until each has ended."""
    from pyspark import SparkContext

    started = [p for p in tree.pids() if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 20
    for pid in started:
        while alive(pid) and time.time() < deadline:
            time.sleep(0.1)
        if alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import rdfrules_spark  # noqa: F401  (the engine under test)
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    nproc = prepare_env()

    from rdfrules_spark.session import get_spark
    from tracer import ProcTree

    clock = time.perf_counter
    every = [w(None, ROOT, WORK, args.seed, args.size)
             for w in WORKLOADS.values()]
    wl = every[list(WORKLOADS).index(args.workload)]
    t0 = clock()
    if not args.prepare:
        if not all(w.shared_ready() for w in every):
            # what needs Spark, for every workload at once and in a
            # separate process and JVM: this run's measurements see the
            # same engine state as a run on cached inputs, and only the
            # first run in a checkout pays for it
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--prepare",
                 "--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", "0", "--size", args.size],
                check=True, stdout=sys.stderr, timeout=600,
            )
        if not wl.ready():
            wl.generate()
    gen_s = clock() - t0

    tree = ProcTree()
    t0 = clock()
    conf = spark_conf()
    spark = get_spark("perfbench", master=f"local[{nproc}]", extra_conf=conf)
    session_s = clock() - t0
    wl.spark = spark
    try:
        if args.prepare:
            for w in every:
                if not w.shared_ready():
                    w.spark = spark
                    w.prepare_shared()
            return 0
        return run(args, wl, nproc, conf, tree, session_s, gen_s)
    finally:
        stop_spark(spark, tree)


def run(args, wl, nproc, conf, tree, session_s, gen_s) -> int:
    from tracer import SparkCounters, Tracer

    clock = time.perf_counter
    spark = wl.spark
    setup_bad = wl.crosscheck()
    t = clock()
    wl.load()
    load_s = clock() - t
    t = clock()
    wl.warmup()
    warm_s = clock() - t
    setup_s = session_s + load_s + warm_s
    tree.sample()

    untraced = Tracer(enabled=False)
    tracer = Tracer(SparkCounters(spark)) if args.trace else None
    times = {"untraced": [], "traced": []}
    cpu, work, bad = [], [], list(setup_bad)
    attempted = failed = 0
    op_time = 0.0
    while True:
        i = attempted
        traced = bool(args.trace) and i % 2 == 0
        tr = tracer if traced else untraced
        attempted += 1
        out = None
        c0 = tree.cpu_s()
        start = clock()
        try:
            with Watchdog(spark.sparkContext) as dog:
                with (tr.span("op", i) if traced else nullcontext()):
                    out = wl.op(i, tr)
            dt = clock() - start
            c1 = tree.cpu_s()
            problems = wl.check(out)
        except Exception as e:  # an op that raises is a failed op
            dt = clock() - start
            c1 = tree.cpu_s()
            problems = [f"op {i} raised {type(e).__name__}: {e}"
                        + (" (timeout)" if dog.fired else "")]
        op_time += dt
        log(f"  op {i}: {dt:.3f} s{' traced' if traced else ''}, "
            f"cpu {c1 - c0:.2f} s")
        tree.sample()
        if problems:
            failed += 1
            bad.extend(problems)
        else:
            times["traced" if traced else "untraced"].append(dt)
            cpu.append(c1 - c0)
            work.append(wl.work_triples(out))
        if out is not None:
            wl.cleanup(out)
        if traced:
            tracer.release()
        enough = op_time >= args.seconds and (
            not args.trace or (times["traced"] and times["untraced"]))
        if enough or attempted >= 1000 or (failed and not any(times.values())
                                           and attempted >= 3):
            break

    log(f"perfbench {args.workload} seed={args.seed} size={args.size} "
        f"trace={args.trace} master=local[{nproc}]")
    log(f"  inputs: {json.dumps(wl.describe())}")
    log(f"  spark conf: {json.dumps(conf)}")
    log(f"  input generation and reference cross-checks (untimed, "
        f"cached): {gen_s:.2f} s")
    log(f"  setup: session {session_s:.2f} s + load {load_s:.2f} s "
        f"+ warm-up {warm_s:.2f} s")
    log(f"  ops: attempted={attempted} failed={failed} "
        f"fail_ratio={failed / attempted:.4f} (ratio)")
    for p in bad:
        log(f"  CHECK FAILED: {p}")
    un = times["untraced"]
    if un:
        log(f"  op_s tail: {tail_report(un)}")

    metrics = {}
    if not args.trace and un:
        p50 = statistics.median(un)
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_s_p50": (p50, "s"),
            "cpu_s_per_op": (statistics.median(cpu), "s"),
            "triples_per_s": (statistics.median(work) / p50, "1/s"),
        }
    elif args.trace and un and times["traced"]:
        traced_ops = sorted({s.op for s in tracer.spans if s.name == "op"})
        metrics = layer_metrics(tracer, traced_ops, nproc)
        tp50 = statistics.median(times["traced"])
        metrics["proc.peak_rss_mb"] = (tree.peak_rss_mb(), "MB")
        metrics["trace.op_s_p50"] = (tp50, "s")
        metrics["trace.overhead_s"] = (tp50 - statistics.median(un), "s")
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        path = os.path.join(
            WORK, "traces", f"{args.workload}-{args.size}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "spans": tracer.dump()}, f)
        log(f"  spans written to {os.path.relpath(path, ROOT)}")
    for k, (v, unit) in metrics.items():
        log(f"  {k} = {v:.6g} {unit}")
    result = {
        "correct": not bad,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
