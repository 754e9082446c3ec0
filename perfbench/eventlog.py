"""Spark event-log parser: per-job-group counters for the traced run.

Reads one uncompressed, non-rolling event log (the traced session sets
``spark.eventLog.compress=false`` and ``spark.eventLog.rolling.enabled=false``)
and sums, per job group, the jobs, stages, tasks and the stage accumulables
that tell where time and bytes went. Each benchmark span sets its own job
group, so a group is a span.
"""

from __future__ import annotations

import json

# stage accumulable name -> (counter, scale to the counter's unit)
_ACCUMULABLES = {
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "time to run Python workers": ("python_run_s", 1e-3),
    "time to start Python workers": ("python_boot_s", 1e-3),
    "data sent to Python workers": ("python_bytes_sent", 1),
}

COUNTERS = ("jobs", "stages", "tasks", "executor_cpu_s", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "gc_s", "python_run_s",
            "python_boot_s", "python_bytes_sent")


def parse(path: str) -> dict[str, dict]:
    """Job group → counters plus ``job_intervals`` (epoch seconds)."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    done_stages: set[int] = set()

    def group(g: str) -> dict:
        if g not in groups:
            groups[g] = {c: 0 for c in COUNTERS}
            groups[g]["job_intervals"] = []
        return groups[g]

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                if g is None:
                    continue
                jid = e["Job ID"]
                job_group[jid] = g
                job_start[jid] = e["Submission Time"] / 1000.0
                group(g)["jobs"] += 1
                for sid in e["Stage IDs"]:
                    if sid not in done_stages:
                        stage_group[sid] = g
            elif kind == "SparkListenerJobEnd":
                jid = e["Job ID"]
                if jid in job_group:
                    group(job_group[jid])["job_intervals"].append(
                        (job_start[jid], e["Completion Time"] / 1000.0))
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                sid = info["Stage ID"]
                done_stages.add(sid)
                if sid not in stage_group:
                    continue
                c = group(stage_group[sid])
                c["stages"] += 1
                c["tasks"] += info["Number of Tasks"]
                for acc in info.get("Accumulables", []):
                    spec = _ACCUMULABLES.get(acc.get("Name"))
                    if spec is None:
                        continue
                    try:
                        c[spec[0]] += float(acc["Value"]) * spec[1]
                    except (KeyError, TypeError, ValueError):
                        continue
    return groups
