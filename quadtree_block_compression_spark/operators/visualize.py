"""Debug visualization — parity with the reference's analytics renders.

The reference draws tile boundary boxes over the (un)padded image and
colors dedup groups (``pkg/quadtreeImage/quadtreeImage.go:82-109,241-268``,
box drawing ``pkg/utils/imageUtils.go:17-37``). The HSV random-palette
group coloring is deliberately not ported (non-deterministic,
``quadtreeImage.go:336-352`` uses ``rand.Float64`` — SURVEY.md §2.8 F10);
dedup groups here get a deterministic palette keyed by block_hash.

Output is a PNG per image in a binary column — a debug artifact, not a
pipeline stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def render_tile_overlay(blocks: DataFrame, images: DataFrame,
                        color_dedup_groups: bool = False) -> DataFrame:
    """(image_id, overlay_png) — original image with leaf-tile boxes drawn;
    optionally fills blocks that share a block_hash with a deterministic
    group color."""
    leaves = (blocks.filter(F.col("is_leaf"))
              .select("image_id", "x0", "y0", "x1", "y1", "block_hash", "oob"))
    joined = leaves.join(images.select("image_id", "bytes", "w", "h"), "image_id")

    def render(pdf):
        import numpy as np
        import pandas as pd
        from ..kernels.codecs import decode_image, encode_png

        image_id = pdf["image_id"].iloc[0]
        img = decode_image(bytes(pdf["bytes"].iloc[0])).copy()
        h, w = img.shape[:2]
        if color_dedup_groups:
            counts = pdf.groupby("block_hash")["x0"].count()
            for x0, y0, x1, y1, bh in zip(pdf["x0"], pdf["y0"], pdf["x1"],
                                          pdf["y1"], pdf["block_hash"]):
                if counts.get(bh, 0) > 1:
                    # deterministic palette: hash bits → RGB
                    c = np.array([(bh >> s) & 0xFF for s in (0, 8, 16)], dtype=np.uint8)
                    xa, ya = max(int(x0), 0), max(int(y0), 0)
                    xb, yb = min(int(x1), w), min(int(y1), h)
                    if xb > xa and yb > ya:
                        img[ya:yb, xa:xb] = (img[ya:yb, xa:xb] // 2 + c // 2)
        box = np.array([255, 0, 0], dtype=np.uint8)
        for x0, y0, x1, y1 in zip(pdf["x0"], pdf["y0"], pdf["x1"], pdf["y1"]):
            xa, ya = max(int(x0), 0), max(int(y0), 0)
            xb, yb = min(int(x1), w), min(int(y1), h)
            if xb <= xa or yb <= ya:
                continue  # the visualization skip filter (P5): OOB tiles
            img[ya, xa:xb] = box
            img[yb - 1, xa:xb] = box
            img[ya:yb, xa] = box
            img[ya:yb, xb - 1] = box
        return pd.DataFrame([{"image_id": image_id, "overlay_png": encode_png(img)}])

    return joined.groupBy("image_id").applyInPandas(
        render, "image_id string, overlay_png binary")


def write_analytics(artifacts: DataFrame, analytics_dir: str,
                    enabled: bool = True, ext: str = "png",
                    timestamp: int | None = None) -> str | None:
    """Materialize visualization artifacts with the reference's analytics
    directory convention (``cmd/codec/main.go:139-181``): a run writes into
    ``analytics_dir/<unix-ts>/``, and if that directory already exists the
    suffixes ``<unix-ts>_0``, ``<unix-ts>_1``, … are probed in order —
    byte-identical naming, so tooling pointed at a reference analytics tree
    keeps working. Disabled (or empty dir) → no-op returning None, like the
    reference's ``analyticsEnabled`` guard.

    ``artifacts``: (image_id, overlay_png) rows — e.g.
    :func:`render_tile_overlay` output. Files land as ``<name>.<ext>``.
    Collection is bounded by the artifact count (debug renders, one row per
    image in the visualized set) — this is a driver-side debug sink by
    contract, not a data-scale pipeline stage; at scale write the artifact
    DataFrame to parquet instead and keep this for the curated render set.
    """
    import os
    import time

    if not enabled or not analytics_dir:
        return None
    ts = int(time.time()) if timestamp is None else int(timestamp)
    current = os.path.join(analytics_dir, str(ts))
    i = 0
    while os.path.exists(current):
        current = os.path.join(analytics_dir, f"{ts}_{i}")
        i += 1
    os.makedirs(current)
    for row in artifacts.select("image_id", "overlay_png").toLocalIterator():
        with open(os.path.join(current, f"{row[0]}.{ext}"), "wb") as f:
            f.write(bytes(row[1]))
    return current