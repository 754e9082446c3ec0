"""Span recorder for the traced benchmark run.

A span is one call from the benchmark into an engine layer. Each span gets a
Spark job group of its own, so the event-log parser can attribute every job
and stage to the innermost span that was open when it ran. Spans are kept in
memory and written out once, when the run ends.

With ``enabled=False`` the recorder does nothing but yield, so the untraced
run pays no tracing cost.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, workload: str, enabled: bool):
        self.sc = spark.sparkContext
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, rep: int = -1):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {"id": f"{self.workload}:{len(self.spans)}", "name": name,
             "layer": name.split(".")[0], "workload": self.workload,
             "rep": rep, "parent": parent["id"] if parent else None,
             "start": time.time(), "end": None}
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s["id"], name)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span id → duration minus the part of it covered by its children."""
    children: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def span_cost_s(tracer: Tracer, n: int = 200) -> float:
    """Wall time one empty span adds (its job-group calls into the JVM)."""
    t0 = time.perf_counter()
    for _ in range(n):
        with tracer.span("trace.probe"):
            pass
    cost = (time.perf_counter() - t0) / n
    del tracer.spans[-n:]
    return cost
