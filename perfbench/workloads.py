"""The benchmark's workloads.

Each workload is one closed-loop client: it sends a *round* (a fixed
sequence of calls into the engine's public functions), waits for it to
return, checks the outputs, and sends the next. Inputs are generated from
the seed in set-up, written to parquet under the run's work directory and
read back, so every round starts from a scan, as a user's job would.

A round is the workload's *operator pass*: its own operator over the whole
input, results aggregated on the driver and checked. It takes under a
second, so a run measures a few dozen of them after a warm-up of the same
rounds. Each pass is followed by a fixed pure-Spark reference job, so that
the pass's cost can be read apart from the host's speed.

A workload records the wall time of each call (``self.ops``) and every check
it made (``self.checks``); ``run.py`` turns those into metrics. The traced
run adds ``traced_extras``: a fresh staged pipeline run into an empty root,
resumes of it, and direct calls to the layers reached only inside a
pipeline, or not at all, so each gets a span of its own. The raster
workload's include one kNN batch of 32 seeded queries over the centroids
the pipeline wrote.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from quadtree_block_compression_spark.config import DEFAULT_CONFIG
from quadtree_block_compression_spark.fixtures.geometries import (
    generate_geometries, generate_knn_queries)
from quadtree_block_compression_spark.fixtures.images import images_pandas
from quadtree_block_compression_spark.functions.cache import release_caches
from quadtree_block_compression_spark.kernels.codecs import decode_image
from quadtree_block_compression_spark.kernels.geometry import points_in_polygon
from quadtree_block_compression_spark.kernels.quadtree import assign_tiles_image
from quadtree_block_compression_spark.operators.dedup_blocks import dedup_exact
from quadtree_block_compression_spark.operators.dedup_text import minhash_lsh_pairs
from quadtree_block_compression_spark.operators.knn import knn_ring
from quadtree_block_compression_spark.operators.spatial_join import (
    detect_hot_cells, polygons_by_cell, spatial_join_broadcast, spatial_join_salted)
from quadtree_block_compression_spark.operators.text_analysis import annotate
from quadtree_block_compression_spark.operators.tiling import assign_tiles
from quadtree_block_compression_spark.plans.corpus_pipeline import run_corpus_pipeline
from quadtree_block_compression_spark.plans.lineage import (
    lineage_summary, partition_lineage)
from quadtree_block_compression_spark.plans.quadtree_pipeline import run_quadtree_pipeline

from docgen import documents

# Input sizes per scale: "full" is the measured size, "smoke" the size of
# the benchmark's own tests.
SIZES = {
    "full": {"images": 256, "max_side": 64, "polygons": 64, "queries": 32,
             "docs": 4000, "sample": 8},
    "smoke": {"images": 24, "max_side": 32, "polygons": 16, "queries": 8,
              "docs": 300, "sample": 4},
}
# A cell holding more leaf centroids than this is "hot" and takes the salted
# path of spatial_join_salted (the engine's default, 10k, is never reached
# at these sizes, so S4 would skip salting entirely).
HOT_CELL_THRESHOLD = 2
KNN_KS = (1, 5, 16)
# Rounds of the warm-up: the operator passes kept getting faster for about
# a dozen calls (the driver JVM still compiling their code paths), so a
# shorter warm-up left each run's figures depending on how far its JVM had
# got.
WARMUP_ROUNDS = 12
# Resumes of the traced run's pipeline root.
RESUMES = 3
# Rows of the reference job timed after every operator pass: fixed
# pure-Spark work, no engine code, on all cores. The host's speed moved by up
# to 1.8x from one minute to the next, and both the pass and the reference
# moved with it; their ratio moves with the engine.
REFERENCE_ROWS = 1 << 22


def frame_hash(pdf: pd.DataFrame) -> str:
    """Content hash of a generated input table (provenance stamp)."""
    h = hashlib.sha256()
    for col in pdf.columns:
        h.update(col.encode())
        for v in pdf[col]:
            h.update(v if isinstance(v, bytes) else repr(v).encode())
    return h.hexdigest()[:16]


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total, files


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def reference_job(spark, cores: int) -> int:
    return spark.range(0, REFERENCE_ROWS, 1, cores).selectExpr(
        "sum(hash(id) % 1000)").collect()[0][0]


def _rows_hash(rows) -> str:
    """Order-insensitive hash of a collection of row tuples."""
    return hashlib.sha256("\n".join(sorted(map(repr, rows))).encode()).hexdigest()


def _manifest_rows(pipe) -> dict[str, int]:
    return {k: v["rows"] for k, v in sorted(pipe.manifest.items())}


class Workload:
    name = ""
    purpose = ""
    item = ""  # what items_per_s counts
    input_name = ""  # the input whose content hash fingerprints the pipeline
    stored_input = ""  # input_sizes key that stored_bytes_per_input_byte divides by
    resume_frames: dict[str, str] = {}  # stage → key of its frame in the pipeline's result
    pipeline_label = ""  # the pipeline function, for its span's name
    op_span = ""  # the span name of the operator pass

    def __init__(self, spark, seed: int, scale: str, work: str, tracer):
        self.spark = spark
        self.seed = seed
        self.size = SIZES[scale]
        self.work = work
        self.tr = tracer
        self.ops: dict[str, list[float]] = {}
        self.checks: list[tuple[str, bool, str]] = []
        self.input_hashes: dict[str, str] = {}
        self.input_sizes: dict[str, int] = {}
        self.extras: dict[str, float] = {}
        self.stage_seconds: list[dict[str, float]] = []
        self.expect_rows: dict[str, int] | None = None
        self.expect_ref: int | None = None
        self.round_s = 0.0
        self.cores = os.cpu_count()

    def timed(self, op: str, name: str, rep: int, fn):
        """Call ``fn`` inside a span and record its wall time under ``op``.
        The engine's tracked caches are released after it returns: the
        call is one query, and that is the engine's query boundary."""
        with self.tr.span(name, rep):
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        release_caches()
        self.ops.setdefault(op, []).append(dt)
        self.round_s += dt
        return out

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        self.checks.append((what, bool(ok), detail))

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def write_input(self, name: str, pdf: pd.DataFrame):
        self.input_hashes[name] = frame_hash(pdf)
        path = self.path("inputs", name)
        self.spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)
        self.input_sizes[f"{name}_rows"] = len(pdf)
        self.input_sizes[f"{name}_parquet_bytes"] = tree_bytes(path)[0]

    def read_input(self, name: str):
        return self.spark.read.parquet(self.path("inputs", name))

    def fresh_pipeline(self, rep: int) -> None:
        """Fresh run into an empty root; checks the stage row counts, and
        that they repeat when the run is made again."""
        root = self.path("pipeline", f"r{rep}")
        shutil.rmtree(root, ignore_errors=True)
        fp = self.input_hashes[self.input_name]
        out = self.timed("pipeline", f"pipeline.{self.pipeline_label}", rep,
                         lambda: self.run_pipeline(root, fp))
        pipe = out["pipeline"]
        rows = _manifest_rows(pipe)
        self.check_stage_rows(rows)
        if self.expect_rows is None:
            self.expect_rows = rows
        self.check("stage rows repeat across fresh runs", rows == self.expect_rows,
                   f"{rows} != {self.expect_rows}")
        self.stage_seconds.append({k: v["seconds"] for k, v in pipe.manifest.items()})
        self.stored = tree_bytes(root)[0]
        self.root, self.fp, self.complete = root, fp, dict(pipe.manifest)
        for old in os.listdir(self.path("pipeline")):  # only the newest root stays
            if old != f"r{rep}":
                shutil.rmtree(self.path("pipeline", old), ignore_errors=True)

    def pipeline_extras(self) -> None:
        """A fresh run, then resumes of its root: nothing may re-run, and
        the frames a resume returns hold the manifest's row counts."""
        self.fresh_pipeline(-1)
        for _ in range(RESUMES):
            resumed = self.timed("resume", "pipeline.resume", -1,
                                 lambda: self.run_pipeline(self.root, self.fp))
            self.check("resume re-runs no stage",
                       resumed["pipeline"].manifest == self.complete)
        counts = {stage: resumed[key].count() for stage, key in self.resume_frames.items()}
        self.check("resume returns the stage rows", counts == self.expect_rows,
                   f"{counts} != {self.expect_rows}")
        self.resumed = resumed

    def pipeline_metrics(self) -> dict[str, float]:
        """Per-stage manifest seconds and bytes written, for the traced run."""
        out = {"pipeline.files_written": float(tree_bytes(self.root)[1]),
               "pipeline.stored_bytes_per_input_byte":
                   self.stored / self.input_sizes[self.stored_input]}
        for stage in self.stage_seconds[0]:
            out[f"pipeline.{stage}_s"] = float(np.median(
                [s[stage] for s in self.stage_seconds]))
            out[f"pipeline.{stage}_bytes_written"] = float(
                tree_bytes(os.path.join(self.root, stage))[0])
        return out

    def lineage_metrics(self, stage: str, weigh_col: str) -> None:
        """Time partition_lineage on a materialized stage output."""
        df = self.spark.read.parquet(os.path.join(self.root, stage))
        lin = self.timed("x_lineage", "lineage.partition_lineage", -1,
                         lambda: partition_lineage(df, stage, weigh_col=weigh_col)
                         .localCheckpoint(eager=True))
        self.extras["lineage.skew_factor"] = float(
            lineage_summary(lin).collect()[0]["skew_factor"])

    def named_metrics(self) -> dict[str, tuple[float, str, int]]:
        """The end-to-end metrics of the calls: name → (value, unit, samples)."""
        op, ref = self.ops["op"], self.ops["reference"]
        return {"pass_cost_ratio": (float(np.median(op) / np.median(ref)), "ratio", len(op))}

    def detail_metrics(self) -> dict[str, tuple[float, str, int]]:
        """Printed with the end-to-end metrics, but not gated: the host's
        speed moves them as much as the engine does."""
        op, ref = self.ops["op"], self.ops["reference"]
        return {"items_per_s": (self.items / float(np.median(op)), "items/s", len(op)),
                "reference_s": (float(np.median(ref)), "s", len(ref))}

    # -- per workload ------------------------------------------------------
    def setup(self) -> None:
        """Generate the inputs from the seed, write them, read them back."""
        raise NotImplementedError

    def prepare_checks(self) -> None:
        """Compute expected outputs in process (untimed)."""

    def warmup(self) -> None:
        """Rounds whose timings are discarded (their checks count): the
        first run of each query plan compiles it."""
        for _ in range(WARMUP_ROUNDS):
            self.round(-1)
        self.ops.clear()

    def op_totals(self) -> tuple:
        """The operator pass, aggregated on the driver."""
        raise NotImplementedError

    def round(self, rep: int) -> None:
        """One operator pass, then the reference job (timed, not part of
        the round's time)."""
        got = self.timed("op", self.op_span, rep, self.op_totals)
        self.check("operator pass totals", got == self.expect_op,
                   f"{got} != {self.expect_op}")
        t0 = time.perf_counter()
        ref = reference_job(self.spark, self.cores)
        self.ops.setdefault("reference", []).append(time.perf_counter() - t0)
        if self.expect_ref is None:
            self.expect_ref = ref
        self.check("reference job result repeats", ref == self.expect_ref)

    def final_checks(self) -> None:
        """Checks too costly for every round, made once after the loop."""

    def traced_extras(self) -> None:
        """Traced run only: calls that give a layer a span of its own."""


# ---------------------------------------------------------------------------
def _pip_oracle(points: pd.DataFrame, geoms: pd.DataFrame) -> set:
    """Brute-force (image_id, tile_id, geom_id) of every point in every polygon."""
    px, py = points["wx"].to_numpy(), points["wy"].to_numpy()
    out = set()
    for gid, vx, vy in zip(geoms["geom_id"], geoms["vx"], geoms["vy"]):
        inside = points_in_polygon(px, py, np.asarray(vx), np.asarray(vy))
        out.update((a, b, gid) for a, b in zip(points["image_id"][inside],
                                               points["tile_id"][inside]))
    return out


def _knn_oracle(cent: pd.DataFrame, q: pd.DataFrame) -> dict:
    """Brute-force top-k per query, ties broken by (distance, image_id, tile_id)."""
    wx, wy = cent["wx"].to_numpy(), cent["wy"].to_numpy()
    iid, tid = cent["image_id"].to_numpy(), cent["tile_id"].to_numpy()
    out = {}
    for qid, x, y, k in zip(q["query_id"], q["x"], q["y"], q["k"]):
        d = np.sqrt((wx - x) ** 2 + (wy - y) ** 2)
        order = np.lexsort((tid, iid, d))[:k]
        out[qid] = [(iid[i], tid[i], float(d[i])) for i in order]
    return out


def _knn_matches(got, expect: dict) -> bool:
    """The engine's top-k equals the brute force: the same distances in rank
    order, and the same ids except where distances tie within tolerance."""
    by_q: dict[str, list] = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append((r.rank, r.image_id, r.tile_id, r.distance))
    if set(by_q) != set(expect):
        return False
    for qid, want in expect.items():
        have = sorted(by_q[qid])
        if len(have) != len(want):
            return False
        for (_, iid, tid, d), (wi, wt, wd) in zip(have, want):
            if not np.isclose(d, wd, rtol=1e-12, atol=1e-9):
                return False
            ties = sum(np.isclose(wd, w[2], rtol=1e-12, atol=1e-9) for w in want)
            if (iid, tid) != (wi, wt) and ties < 2:
                return False
    return True


class RasterPipeline(Workload):
    name = "raster_pipeline"
    purpose = ("the paper's operator: tile assignment over seeded images, Python "
               "quadtree kernels behind Arrow UDFs; the traced run adds the "
               "checkpointed quadtree pipeline (tile, dedup, centroids, salted PIP "
               "join), its resume, the broadcast and salted joins and a kNN batch")
    # images, not blocks: a seed's block count varies by about 7% while the
    # pass's time barely moves, so blocks/s would mostly measure the seed;
    # the traced run reports tiling.blocks_per_s
    item = "images tiled per second of the tiling pass"
    input_name = "images"
    stored_input = "images_parquet_bytes"
    pipeline_label = "run_quadtree_pipeline"
    op_span = "tiling.assign_tiles"
    resume_frames = {"s1_blocks": "blocks", "s2_dedup": "deduped",
                     "s3_centroids": "centroids", "s4_spatial_join": "spatial"}

    def setup(self):
        s = self.size
        self.images_pdf = images_pandas(s["images"], seed=self.seed, max_side=s["max_side"])
        self.write_input("images", self.images_pdf)
        self.geoms_pdf = generate_geometries(s["polygons"], seed=self.seed * 101)
        self.input_hashes["polygons"] = frame_hash(self.geoms_pdf)
        self.input_sizes["polygons"] = len(self.geoms_pdf)
        self.images = self.read_input("images")
        self.geoms = self.spark.createDataFrame(self.geoms_pdf)

    def prepare_checks(self):
        """In-process tiling of every image: the totals every tiling pass
        must reproduce, and full rows of a seeded sample of images for the
        order-insensitive output hash."""
        rng = np.random.default_rng(self.seed)
        pick = set(rng.choice(len(self.images_pdf), self.size["sample"], replace=False).tolist())
        blocks = leaves = side_sum = level_sum = 0
        rows = []
        for i, (iid, data) in enumerate(zip(self.images_pdf["image_id"],
                                            self.images_pdf["bytes"])):
            c = assign_tiles_image(decode_image(bytes(data)), DEFAULT_CONFIG)
            blocks += len(c["tile_id"])
            leaves += sum(c["is_leaf"])
            side_sum += sum(b - a for a, b in zip(c["x0"], c["x1"]))
            level_sum += sum(c["level"])
            if i in pick:
                rows += list(zip([iid] * len(c["tile_id"]), c["tile_id"], c["level"],
                                 c["x0"], c["y0"], c["x1"], c["y1"], c["is_leaf"],
                                 [bytes(p).hex() for p in c["block_px"]]))
        self.expect_tiles = self.expect_op = (blocks, leaves, side_sum, level_sum)
        self.items = len(self.images_pdf)
        self.sample_ids = sorted(self.images_pdf["image_id"].iloc[sorted(pick)])
        self.expect_sample_hash = _rows_hash(rows)

    def tile_totals(self, images):
        return tuple(assign_tiles(images).agg(
            F.count(F.lit(1)), F.sum(F.col("is_leaf").cast("long")),
            F.sum((F.col("x1") - F.col("x0")).cast("long")),
            F.sum(F.col("level").cast("long"))).collect()[0])

    def op_totals(self):
        return self.tile_totals(self.images)

    def run_pipeline(self, root, fp):
        return run_quadtree_pipeline(self.spark, self.images, self.geoms, root,
                                     input_fingerprint=fp)

    def queries(self) -> pd.DataFrame:
        q = generate_knn_queries(self.size["queries"], seed=self.seed * 7919 + 1)
        # a fixed k mix, so every batch asks for the same number of answers
        q["k"] = np.array(KNN_KS, dtype="int32")[np.arange(len(q)) % len(KNN_KS)]
        return q

    def check_stage_rows(self, rows):
        blocks, leaves = self.expect_tiles[:2]
        self.check("pipeline stage rows match in-process tiling",
                   rows["s1_blocks"] == blocks and rows["s2_dedup"] == blocks
                   and rows["s3_centroids"] == leaves, str(rows))

    def final_checks(self):
        sample = self.images.filter(F.col("image_id").isin(self.sample_ids))
        rows = [(r.image_id, r.tile_id, r.level, r.x0, r.y0, r.x1, r.y1, r.is_leaf,
                 bytes(r.block_px).hex())
                for r in assign_tiles(sample).select(
                    "image_id", "tile_id", "level", "x0", "y0", "x1", "y1",
                    "is_leaf", "block_px").collect()]
        self.check("tiling sample hash equals in-process kernel",
                   _rows_hash(rows) == self.expect_sample_hash)

    def traced_extras(self):
        self.pipeline_extras()
        cent = self.spark.read.parquet(os.path.join(self.root, "s3_centroids"))
        self.centroids_pdf = cent.select("image_id", "tile_id", "wx", "wy").toPandas()
        joined = {tuple(r) for r in self.resumed["spatial"].select(
            "image_id", "tile_id", "geom_id").collect()}
        self.check("S4 join equals brute-force PIP",
                   joined == _pip_oracle(self.centroids_pdf, self.geoms_pdf))
        s1 = self.spark.read.parquet(os.path.join(self.root, "s1_blocks"))
        self.timed("x_dedup", "dedup_blocks.dedup_exact", -1, lambda: noop(dedup_exact(s1)))
        self.lineage_metrics("s1_blocks", "block_px")
        pts = self.spark.read.parquet(os.path.join(self.root, "s3_centroids"))

        def join(fn):
            return {tuple(r) for r in fn(pts, self.geoms).select(
                "image_id", "tile_id", "geom_id").collect()}

        expect = _pip_oracle(self.centroids_pdf, self.geoms_pdf)
        b = self.timed("x_broadcast", "spatial_join.spatial_join_broadcast", -1,
                       lambda: join(spatial_join_broadcast))
        s = self.timed("x_salted", "spatial_join.spatial_join_salted", -1,
                       lambda: join(lambda p, g: spatial_join_salted(
                           p, g, hot_threshold=HOT_CELL_THRESHOLD)))
        self.check("broadcast join equals brute-force PIP", b == expect)
        self.check("salted join equals brute-force PIP", s == expect)
        cands = self.timed("x_candidates", "spatial_join.candidates", -1,
                           lambda: pts.join(polygons_by_cell(self.geoms), "cell").count())
        hot = self.timed("x_hot", "spatial_join.detect_hot_cells", -1,
                         lambda: detect_hot_cells(pts, HOT_CELL_THRESHOLD).count())
        qpdf = self.queries()
        answers = self.timed("knn", "knn.knn_ring", -1,
                             lambda: knn_ring(pts, self.spark.createDataFrame(qpdf)).collect())
        self.answers = len(answers)
        self.check("knn equals brute force",
                   _knn_matches(answers, _knn_oracle(self.centroids_pdf, qpdf)))
        self.extras.update(self.pipeline_metrics())
        self.extras.update({
            "tiling.blocks": float(self.expect_tiles[0]),
            "spatial_join.candidates": float(cands),
            "spatial_join.matches": float(len(expect)),
            "spatial_join.pip_hit_ratio": len(expect) / max(cands, 1),
            "spatial_join.hot_cells": float(hot),
            "knn.answers": float(self.answers),
        })


# ---------------------------------------------------------------------------
class CorpusPipeline(Workload):
    name = "corpus_pipeline"
    purpose = ("shuffle-heavy JVM text operators and no Python kernels: annotate "
               "over seeded documents; the traced run adds the corpus pipeline "
               "(annotate, exact and MinHash-LSH near dedup, quality filter), its "
               "resume and MinHash-LSH pairs")
    item = "documents annotated per second"
    input_name = "documents"
    stored_input = "documents_parquet_bytes"
    pipeline_label = "run_corpus_pipeline"
    op_span = "text_analysis.annotate"
    resume_frames = {"s1_annotate": "annotated", "s2_exact_dedup": "exact_deduped",
                     "s3_near_dedup": "near_deduped", "s4_quality_filter": "clean"}

    def setup(self):
        self.docs_pdf = documents(self.size["docs"], self.seed)
        self.write_input("documents", self.docs_pdf)
        self.docs = self.read_input("documents")

    def prepare_checks(self):
        self.items = len(self.docs_pdf)
        self.expect_op = (self.items, self.docs_pdf["text"].nunique())

    def annotate_totals(self, docs):
        return tuple(annotate(docs).agg(F.count(F.lit(1)),
                                        F.countDistinct("fingerprint")).collect()[0])

    def op_totals(self):
        return self.annotate_totals(self.docs)

    def run_pipeline(self, root, fp):
        return run_corpus_pipeline(self.spark, self.docs, root, input_fingerprint=fp)

    def check_stage_rows(self, rows):
        self.check("stage rows start at the input and only shrink",
                   rows["s1_annotate"] == self.items
                   and rows["s1_annotate"] >= rows["s2_exact_dedup"]
                   >= rows["s3_near_dedup"] >= rows["s4_quality_filter"], str(rows))

    def traced_extras(self):
        self.pipeline_extras()
        pairs = self.timed("x_minhash", "dedup_text.minhash_lsh_pairs", -1,
                           lambda: minhash_lsh_pairs(self.docs).count())
        self.lineage_metrics("s1_annotate", "text")
        self.extras.update(self.pipeline_metrics())
        self.extras["dedup_text.pairs"] = float(pairs)


WORKLOADS = {w.name: w for w in (RasterPipeline, CorpusPipeline)}
