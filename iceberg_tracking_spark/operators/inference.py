"""Batch model-inference scaffold + multi-scale tiling (SURVEY §2.8 M1-M2).

M2 (tiling) is pure Catalyst: the tile grid is computed as arrays and
exploded — a flatMap expressed declaratively, so Catalyst can pipeline
it with the scan and push filters below it. Coordinate translate back
to original space (X14) is plain arithmetic.

M1 (inference) runs through operators/boundary.map_rows: the model is
built once and shipped once per task, forward passes run over Arrow
batches. The model here is a deterministic stub (the torch stack is not
in this container); the partitioning, batching, and schema mechanics
are the real thing — swap `_StubDetector` for a torch/ONNX load on a
GPU cluster.
"""

from __future__ import annotations

import hashlib
import math
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .boundary import map_rows


def tile_plan(
    images: DataFrame,
    window: int = 1536,
    overlap: float = 0.35,
    scales: tuple[float, ...] = (0.5, 1.0),
) -> DataFrame:
    """Emit one row per (image, scale, tile_x, tile_y).

    Replicates the reference's sliding-window planner
    (detection.py:1307-1423): per scale, if the scaled image exceeds the
    window, generate overlapping windows with stride
    `window*(1-overlap)`, snapping the last tile to the edge so no
    partial windows are emitted (detection.py:1362-1368).

    `images` needs (width, height) columns; all arithmetic is integral
    (floor) so any SQL oracle agrees bit-for-bit.
    """
    stride = int(window * (1.0 - overlap))

    def axis_positions(dim: Column) -> Column:
        # positions 0, stride, 2*stride, ..., snapped so last tile ends at dim
        n = F.greatest(
            F.ceil((dim - F.lit(window)).cast("double") / F.lit(stride)).cast("int")
            + 1,
            F.lit(1),
        )
        return F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.least(i * F.lit(stride), F.greatest(dim - F.lit(window), F.lit(0))),
        )

    out = None
    for scale in scales:
        scaled = images.select(
            "media_id",
            F.lit(float(scale)).alias("scale"),
            F.floor(F.col("width") * F.lit(scale)).cast("int").alias("sw"),
            F.floor(F.col("height") * F.lit(scale)).cast("int").alias("sh"),
        )
        tiles = (
            scaled.withColumn("tile_x", F.explode(F.array_distinct(axis_positions(F.col("sw")))))
            .withColumn("tile_y", F.explode(F.array_distinct(axis_positions(F.col("sh")))))
            .select("media_id", "scale", "sw", "sh", "tile_x", "tile_y")
        )
        out = tiles if out is None else out.unionByName(tiles)
    return out


def translate_boxes_to_original(
    boxes: DataFrame,
    tile_x: str = "tile_x",
    tile_y: str = "tile_y",
    scale: str = "scale",
) -> DataFrame:
    """X14: translate tile-local box coords back to original image space:
    add the tile offset, divide by the scale."""
    return boxes.select(
        *[c for c in boxes.columns if c not in ("bb_left", "bb_top", "bb_width", "bb_height")],
        ((F.col("bb_left") + F.col(tile_x)) / F.col(scale)).alias("bb_left"),
        ((F.col("bb_top") + F.col(tile_y)) / F.col(scale)).alias("bb_top"),
        (F.col("bb_width") / F.col(scale)).alias("bb_width"),
        (F.col("bb_height") / F.col(scale)).alias("bb_height"),
    )


class _StubDetector:
    """Deterministic fake detector: hash-derived boxes per tile.

    Placeholder for a torch Faster R-CNN load+forward
    (reference detection.py:1376-1380). Stateless md5 arithmetic, so
    one instance serves every partition.
    """

    def predict(self, media_id: int, scale: float, tx: int, ty: int):
        seed = int.from_bytes(
            hashlib.md5(f"{media_id}_{scale}_{tx}_{ty}".encode()).digest()[:4], "big"
        )
        n = seed % 3  # 0-2 detections per tile
        boxes = []
        for k in range(n):
            h = hashlib.md5(f"{seed}_{k}".encode()).digest()
            boxes.append(
                (
                    float(h[0] * 4), float(h[1] * 4),
                    20.0 + h[2] % 64, 20.0 + h[3] % 64,
                    (h[4] % 100) / 100.0,
                )
            )
        return boxes


def detect_tiles(tiles: DataFrame) -> DataFrame:
    """M1: per-tile batch inference via map_rows. Output: tile-local
    detections (one row per box)."""
    model = _StubDetector()

    def _infer(r):
        for box in model.predict(r.media_id, r.scale, r.tile_x, r.tile_y):
            yield (r.media_id, r.scale, r.tile_x, r.tile_y, *box)

    return map_rows(
        tiles,
        "media_id long, scale double, tile_x int, tile_y int, "
        "bb_left double, bb_top double, bb_width double, bb_height double, "
        "conf double",
        _infer,
    )


def generate_embeddings(
    detections: DataFrame,
    dim: int = 64,
    cache_size: int = 32,
) -> DataFrame:
    """Per-detection embedding generation with frame-clustered decode
    caching (reference generate_iceberg_embeddings, embedding.py:1263-1387
    + the LRU trick at embedding.py:234-250, 1346-1349).

    The expensive step is decoding a full frame once, not cropping one
    box — so detections are range-partitioned AND sorted by
    (sequence, frame) before the Arrow pass: every frame lands in
    exactly one partition, arrives contiguously, and is decoded exactly
    once into a small executor-local LRU (the distributed form of the
    reference's sorted-DataLoader + 32-frame cache). Output rows carry
    `cache_miss` so tests can assert decode count == distinct frames.

    The frame decode + backbone are deterministic stubs (no image/torch
    libs in this container); the partitioning, ordering, batch shape,
    and cache mechanics are the production pattern — swap `_decode` /
    `_embed` for cv2 + a TorchScript model on a GPU cluster.
    """
    from collections import OrderedDict

    out_schema = (
        "sequence string, frame string, obj_id int, "
        f"embedding array<float>, cache_miss boolean"
    )

    def _partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: OrderedDict = OrderedDict()

        def _decode(seq: str, frame: str):
            key = (seq, frame)
            if key in cache:
                cache.move_to_end(key)
                return cache[key], False
            seed = int(hashlib.md5(f"{seq}/{frame}".encode()).hexdigest()[:8], 16)
            mat = seed  # stands in for the decoded frame
            cache[key] = mat
            if len(cache) > cache_size:
                cache.popitem(last=False)
            return mat, True

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                mat, miss = _decode(r.sequence, r.frame)
                h = hashlib.md5(
                    f"{mat}/{r.obj_id}/{r.bb_left:.3f}/{r.bb_top:.3f}".encode()
                ).digest()
                vec = [
                    (h[i % 16] * 16 + i) / 4096.0 for i in range(dim)
                ]
                rows.append((r.sequence, r.frame, int(r.obj_id), vec, miss))
            yield pd.DataFrame(
                rows,
                columns=["sequence", "frame", "obj_id", "embedding", "cache_miss"],
            )

    clustered = (
        detections.repartitionByRange("sequence", "frame")
        .sortWithinPartitions("sequence", "frame")
    )
    return clustered.mapInPandas(_partition, schema=out_schema)
