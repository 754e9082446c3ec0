"""Checkpoint-resumable staged pipeline (north_rule).

The reference is a one-shot process; at 10^12 images a run must survive
preemption. Model (SURVEY.md §2.9): each stage writes its output parquet +
a manifest entry (stage name, row count, wall time, input fingerprint);
``run_stage`` skips any stage whose manifest entry is complete and whose
fingerprint matches — resume is "read the last complete stage", exactly the
``_SUCCESS``-style barrier pattern. The entry also records rows and bytes
per write task, read from the written files' parquet footers, and
``lineage()`` serves them as lineage rows.
"""

from __future__ import annotations

import calendar
import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .lineage import LINEAGE_SCHEMA, lineage_rows, written_parts

MANIFEST = "manifest.json"
_TIME_FMT = "%Y-%m-%dT%H:%M:%SZ"


class StagedPipeline:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._manifest_path = os.path.join(root, MANIFEST)
        self.manifest: dict = {}
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                self.manifest = json.load(f)

    def _save(self) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path)

    def stage_path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def run_stage(self, name: str, build: Callable[[], DataFrame],
                  fingerprint: str = "") -> DataFrame:
        """Run (or resume) one stage. ``build`` returns the stage DataFrame;
        its output is persisted to parquet and re-read, so downstream plans
        start from a scan (bounded lineage, stable resume point)."""
        entry = self.manifest.get(name)
        path = self.stage_path(name)
        if entry and entry.get("complete") and entry.get("fingerprint") == fingerprint:
            return self.spark.read.parquet(path)

        t0 = time.time()
        build().write.mode("overwrite").parquet(path)
        parts = written_parts(path)
        self.manifest[name] = {
            "complete": True,
            "fingerprint": fingerprint,
            "rows": sum(p[1] for p in parts),
            "parts": parts,
            "seconds": round(time.time() - t0, 3),
            "path": path,
            "finished_at": time.strftime(_TIME_FMT, time.gmtime()),
        }
        self._save()
        return self.spark.read.parquet(path)

    def lineage(self) -> DataFrame:
        """One ``LINEAGE_SCHEMA`` row per write task of every completed stage,
        plus each stage's total row (``partition_id = -1``). An entry written
        without ``parts`` contributes its total row only."""
        rows = []
        for name, e in sorted(self.manifest.items()):
            t = float(calendar.timegm(time.strptime(e["finished_at"], _TIME_FMT)))
            rows += (lineage_rows(name, e["parts"], t) if "parts" in e
                     else [(name, -1, e["rows"], 0, t)])
        return self.spark.createDataFrame(rows, LINEAGE_SCHEMA)
