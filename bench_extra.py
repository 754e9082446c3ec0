"""Round-6 measurement harness (bench.py is FROZEN — this file carries the
optimization round's extra instrumentation; cite numbers in
OPTIMIZATION_r06.md).

Usage:
    python bench_extra.py [--sf DIR] [--queries a,b,c] [--plans OUTDIR]
                          [--noop] [--reps N] [--profile]

* times each query exactly like bench.py (`.count()`, tracked-cache release
  between queries) unless --noop, which times a full-materialization noop
  sink instead (guide §1.4). A `.count()` lets Catalyst prune every column
  a projection-only query computes (the executed plan of
  `lang_id(docs).groupBy().count()` holds no `regexp` at all), so it times
  such queries as a bare scan — use --noop for them;
* --plans writes `.explain("formatted")` for each timed query to
  OUTDIR/<query>_<suffix>.txt (suffix via --suffix, default "before");
* --profile implies --noop, so its counters cover the work a query's
  output really costs: it runs each query's timed reps under a job group
  named after it, with the Spark event log on, and adds the
  ``perfbench/eventlog.py`` counters per query (jobs, stages, tasks,
  executor CPU, shuffle, spill, GC, Python worker time) as "profile" to
  the JSON line;
* prints one JSON line {"queries": {...}, "sf": ..., "total": ...}.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import sys
import tempfile
import time
from contextlib import redirect_stdout

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import bench as benchmod  # round-start bench: reuse its session + query list


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                                   "/root/testdata/sf0.1"))
    ap.add_argument("--queries", default=None,
                    help="comma list; default = bench.py's BENCH_QUERIES")
    ap.add_argument("--plans", default=None, help="dir for explain dumps")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--noop", action="store_true",
                    help="time a noop-sink write instead of count()")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--profile", action="store_true",
                    help="event-log counters per query, one job group each "
                         "(implies --noop)")
    args = ap.parse_args()
    args.noop = args.noop or args.profile

    events = None
    if args.profile:
        # the event log rides in as submit args, so bench.py's own session
        # builder makes the profiled session
        events = tempfile.mkdtemp(prefix="bench-extra-events-")
        conf = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + events,
                "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"}
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            [f"--conf {k}={v}" for k, v in conf.items()]
            + [os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")])

    import __spark_entry__ as entrymod
    spark = benchmod._session(benchmod.CPUS)
    sc = spark.sparkContext
    qs = entrymod.queries()
    names = (args.queries.split(",") if args.queries
             else list(benchmod.BENCH_QUERIES))

    from quadtree_block_compression_spark.functions.cache import release_caches

    timings: dict[str, list[float]] = {}
    for name in names:
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            try:
                buf = io.StringIO()
                with redirect_stdout(buf):
                    qs[name](spark, args.sf).explain("formatted")
                with open(os.path.join(args.plans,
                                       f"{name}_{args.suffix}.txt"), "w") as f:
                    f.write(buf.getvalue())
            except Exception as e:  # plan capture must never sink the timing
                print(f"# explain({name}) failed: {e}", file=sys.stderr)
            release_caches()
        if args.profile:
            sc.setJobGroup(name, f"bench_extra profile: {name}")
        for _ in range(args.reps):
            sc.setJobDescription(f"r06-probe: {name}")
            t0 = time.time()
            df = qs[name](spark, args.sf)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            timings.setdefault(name, []).append(round(time.time() - t0, 3))
            release_caches()
        sc.setJobDescription(None)
        sc.setLocalProperty("spark.jobGroup.id", None)

    best = {k: min(v) for k, v in timings.items()}
    out = {"queries": best, "samples": timings, "sf": args.sf,
           "noop": args.noop, "total": round(sum(best.values()), 3)}
    if args.profile:
        out["profile"] = _profile(spark, events, names)
    print(json.dumps(out))


def _profile(spark, events: str, names) -> dict:
    """Stops ``spark`` (which flushes its event log) and returns the
    ``perfbench/eventlog.py`` counters of each query's job group."""
    sys.path.insert(0, os.path.join(HERE, "perfbench"))
    import eventlog

    spark.stop()
    try:
        (log,) = [os.path.join(events, f) for f in os.listdir(events)]
        groups = eventlog.parse(log)
    finally:
        shutil.rmtree(events, ignore_errors=True)
    profile = {}
    for name in names:
        c = dict(groups.get(name) or {k: 0 for k in eventlog.COUNTERS})
        c["job_s"] = sum(b - a for a, b in c.pop("job_intervals", []))
        profile[name] = {k: round(v, 3) for k, v in c.items()}
    return profile


if __name__ == "__main__":
    main()
