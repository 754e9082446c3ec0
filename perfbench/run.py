"""The repository benchmark: seeded workloads on the engine's public API.

Usage (from the repository root)::

    python3 perfbench/run.py --workload raster_pipeline --seed 1 --seconds 20 --trace 0

One process, one Spark session on ``local[<nproc>]``, one closed-loop client.
The workload's inputs are generated from ``--seed`` and set up three times
(``setup_s`` is the median); warm-up rounds follow, whose timings are
discarded; then rounds run until ``--seconds`` have passed
(a round is started while at least half of a typical round still fits).
After the loop the workload's outputs are checked once more. Every check
that fails, and every call that raises, counts as a failed operation.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` is the separate
traced run, with Spark's event log on: it measures half of the window
without spans, the other half with a span and a Spark job group around
every call into a layer, then makes the calls that give the remaining
layers a span of their own, times the kernels on the driver, parses the
event log and prints the per-layer metrics. The tracing overhead is reported
two ways: the measured cost of one span times the spans in a round, and the
raw difference between the two halves' round times (the event log is on in
both; rounds still speed up as the JVM warms, which biases that difference
low).

Stdout: one line per metric (``metric <workload> <name> <value> <unit>
n=<samples>``), then, as the last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. Everything the run writes stays
under ``perfbench/out/``; a provenance-stamped JSON of the run is written
there too (and, for a traced run, the spans).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
SETUP_REPS = 3
JVM_HEAP_START = "4g"


def session(extra: dict):
    from quadtree_block_compression_spark.session import build_session
    conf = {
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.showConsoleProgress": "false",
        # a throughput collector on a heap that starts large: with the
        # default collector, rounds kept speeding up for minutes as the heap
        # grew, so a run's figures depended on where its loop fell
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')} "
                                          f"-XX:+UseParallelGC -Xms{JVM_HEAP_START}"),
        "spark.sql.warehouse.dir": os.path.join(OUT, "warehouse"),
    }
    conf.update(extra)
    spark = build_session("perfbench", cores=os.cpu_count(), extra=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def peak_rss_mb(spark) -> dict[str, float]:
    """VmHWM in MB of the driver JVM, of its Python workers (its descendant
    processes) and of this driver process."""
    parents: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parents[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    jvm = spark.sparkContext._gateway.proc.pid
    workers, frontier = set(), [jvm]
    while frontier:
        kids = [c for c, pp in parents.items() if pp == frontier[-1] and c not in workers]
        frontier.pop()
        workers.update(kids)
        frontier += kids
    return {"jvm": _hwm_mb([jvm]), "workers": _hwm_mb(workers),
            "driver": _hwm_mb([os.getpid()])}


def _hwm_mb(pids) -> float:
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return kb / 1024.0


def provenance(seed: int, traced: bool, wl) -> dict:
    import numpy
    import pyarrow
    import pyspark
    try:
        rev = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        rev = None
    return {"seed": seed, "traced": traced, "git_rev": rev, "source_hash": source_hash(),
            "nproc": os.cpu_count(), "python": platform.python_version(),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__, "input_hashes": wl.input_hashes,
            "input_sizes": wl.input_sizes}


def source_hash() -> str:
    """Hash of the engine's source, for checkouts that are not git trees."""
    import hashlib
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "quadtree_block_compression_spark")
    for d, dirs, names in sorted(os.walk(pkg)):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                h.update(n.encode())
                with open(os.path.join(d, n), "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def host_controls(spark) -> dict[str, float]:
    """Fixed work outside the engine, timed in the run (median of five): how
    fast this host was during the run, for reading drift between runs."""
    import numpy as np
    data = np.random.default_rng(0).random(1 << 20)

    def med(fn):
        ts = []
        for _ in range(5):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        return statistics.median(ts)

    return {"numpy_sort_s": med(lambda: np.sort(data)),
            "spark_range_s": med(lambda: spark.range(0, 1 << 22, 1, 8)
                                 .selectExpr("sum(hash(id) % 1000)").collect())}


def stop_jvm() -> None:
    """End the gateway JVM this process started, and wait until it has: it
    exits when its stdin pipe closes, and it takes its Python workers along."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


class Run:
    """One benchmark invocation: session, set-up, measured rounds, checks."""

    def __init__(self, args):
        self.args = args
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.rounds: list[float] = []
        self.phases: dict[str, float] = {}
        self._t = time.perf_counter()

    def phase(self, name: str) -> None:
        """Close the current phase of the run under ``name`` (wall seconds)."""
        now = time.perf_counter()
        self.phases[name] = self.phases.get(name, 0.0) + now - self._t
        self._t = now

    def attempt(self, what: str, fn) -> bool:
        """Run one operation; an exception counts it as failed."""
        self.attempted += 1
        try:
            fn()
            return True
        except Exception:  # the benchmark must report, not crash
            self.failed += 1
            self.errors.append(f"{what}: {traceback.format_exc(limit=3)}")
            return False

    def setup(self, wl) -> list[float]:
        times = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup()
            times.append(time.perf_counter() - t0)
        return times

    def loop(self, wl, tracer, seconds: float, rounds: list[float]) -> None:
        """Closed loop: the next round starts when the previous one returned,
        while at least half of a typical round still fits in ``seconds``.
        A round's time is the sum of its calls into the engine, so the
        benchmark's own checking is not part of it."""
        start = time.perf_counter()
        while True:
            rep = len(self.rounds) + len(rounds)
            wl.round_s = 0.0
            with tracer.span(f"{wl.name}.round", rep):
                ok = self.attempt(f"round {rep}", lambda: wl.round(rep))
            if not ok:
                return
            rounds.append(wl.round_s)
            if time.perf_counter() - start + statistics.median(rounds) / 2 > seconds:
                return


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full")
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import quadtree_block_compression_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # Python workers import the engine from this checkout; every scratch
    # file Spark or Python writes stays under perfbench/out
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(OUT, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(OUT, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(OUT, "spark-local")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(OUT, "work", tag)
    shutil.rmtree(work, ignore_errors=True)

    from tracing import Tracer
    events = os.path.join(OUT, "events", tag)
    shutil.rmtree(events, ignore_errors=True)
    conf = {}
    if args.trace:
        os.makedirs(events)
        conf = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + events,
                "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"}
    t0 = time.perf_counter()
    spark = session(conf)
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark, args.workload, enabled=False)
        wl = WORKLOADS[args.workload](spark, args.seed, args.scale, work, tracer)
        run = Run(args)
        run.phases["session_start"] = session_s
        result = (traced(run, wl, spark, tracer, tag, events) if args.trace
                  else untraced(run, wl, spark, tracer))
    finally:
        from pyspark.sql import SparkSession
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    run.phase("stop")
    print("phases " + " ".join(f"{k}={v:.1f}" for k, v in run.phases.items()), file=sys.stderr)
    failed = run.failed + sum(not ok for _, ok, _ in wl.checks)
    attempted = run.attempted + len(wl.checks)
    for line in run.errors:
        print(line, file=sys.stderr)
    for what, ok, detail in wl.checks:
        if not ok:
            print(f"check failed: {what}: {detail}", file=sys.stderr)
    result.update({"workload": args.workload, "purpose": wl.purpose, "phases_s": run.phases,
                   "host_controls_s": getattr(run, "controls", {}),
                   "attempted": attempted, "failed": failed,
                   "failed_op_share": failed / max(attempted, 1),
                   "provenance": provenance(args.seed, bool(args.trace), wl)})
    with open(os.path.join(OUT, f"{tag}.json"), "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(f"metric {args.workload} failed_op_share {result['failed_op_share']} ratio "
          f"n={attempted}")
    metrics = result.get("per_layer" if args.trace else "end_to_end", {})
    print(json.dumps({"correct": failed == 0 and bool(metrics), "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


def untraced(run: Run, wl, spark, tracer) -> dict:
    setup = run.setup(wl)
    run.phase("setup")
    wl.prepare_checks()
    run.phase("prepare_checks")
    wl.warmup()
    run.phase("warmup")
    run.loop(wl, tracer, run.args.seconds, run.rounds)
    run.phase("loop")
    run.attempt("final checks", wl.final_checks)
    run.phase("final_checks")
    run.controls = host_controls(spark)
    if not run.rounds:  # the first round failed: nothing to report
        return {}
    rss = peak_rss_mb(spark)
    e2e = {"setup_s": (statistics.median(setup), "s", len(setup)), **wl.named_metrics()}
    detail = {**wl.detail_metrics(), "peak_rss_mb": (sum(rss.values()), "MB", 1)}
    for k, (v, u, n) in {**e2e, **detail}.items():
        print(f"metric {wl.name} {k} {v} {u} n={n}")
    return {"end_to_end": {k: (v, u) for k, (v, u, _) in e2e.items()},
            "detail": {k: (v, u) for k, (v, u, _) in detail.items()},
            "samples": {"setup": setup, "round": run.rounds, **wl.ops},
            "item": wl.item, "peak_rss_mb_by_process": rss}


def traced(run: Run, wl, spark, tracer, tag: str, events: str) -> dict:
    from layers import kernel_bench, per_layer
    from tracing import self_times, span_cost_s
    import eventlog

    half = run.args.seconds / 2
    run.setup(wl)
    run.phase("setup")
    wl.prepare_checks()
    wl.warmup()
    run.phase("warmup")
    plain: list[float] = []
    run.loop(wl, tracer, half, plain)
    tracer.enabled = True
    traced_rounds: list[float] = []
    run.loop(wl, tracer, half, traced_rounds)
    run.phase("loop")
    run.attempt("final checks", wl.final_checks)
    run.attempt("traced extras", wl.traced_extras)
    kernels = kernel_bench(wl, tracer)
    per_span = span_cost_s(tracer)
    rss = peak_rss_mb(spark)
    memory = {"memory.peak_rss_mb": sum(rss.values()), "memory.jvm_hwm_mb": rss["jvm"],
              "memory.workers_hwm_mb": rss["workers"], "memory.driver_hwm_mb": rss["driver"]}
    spark.stop()  # flushes the event log
    run.phase("traced_extras")
    if not (plain and traced_rounds):
        return {}

    logs = [os.path.join(events, f) for f in os.listdir(events)]
    groups = eventlog.parse(logs[0]) if logs else {}
    spans = tracer.spans
    selfs = self_times(spans)
    for s in spans:
        s["self_s"] = selfs[s["id"]]
        s["counters"] = groups.get(s["id"], {})
    # spans per traced round (its own span included), times the cost of one
    rounds_n = sum(1 for s in spans if s["name"] == f"{wl.name}.round")
    in_rounds = sum(1 for s in spans if s["rep"] >= 0)
    overhead = per_span * in_rounds / max(rounds_n, 1)
    delta = statistics.median(traced_rounds) - statistics.median(plain)
    layers = per_layer(wl, spans, groups, {**kernels, **memory},
                       {"trace.round_p50_s": statistics.median(traced_rounds),
                        "trace.round_delta_s": delta,
                        "trace.overhead_s": overhead})
    with open(os.path.join(OUT, f"{tag}.spans.json"), "w") as f:
        json.dump({"provenance": provenance(run.args.seed, True, wl), "spans": spans},
                  f, indent=1)
    print(f"metric {wl.name} tracing_overhead_s {overhead} s n={rounds_n}")
    print(f"metric {wl.name} traced_minus_untraced_round_s {delta} s "
          f"n={len(plain)}+{len(traced_rounds)}")
    for k, (v, u) in layers.items():
        print(f"metric {wl.name} {k} {v} {u}")
    return {"per_layer": layers, "untraced_round_samples": plain,
            "traced_round_samples": traced_rounds, "tracing_overhead_s": overhead,
            "traced_minus_untraced_round_s": delta}


if __name__ == "__main__":
    sys.exit(main())
