"""Spatial joins: span -> block assignment by bbox overlap (J8).

Re-expresses the recognition-task alignment
(OmniDocBench/utils/ocr_utils.py:170-203 with dataset/recog_dataset.py:
19-40): each OCR span's polygon is matched to the GT block whose bbox
overlaps it most (overlap ratio relative to the span's own area).

Spark-first: a theta-join within ``img_id`` — the equi-part shuffles
both sides once on img_id; the bbox predicate + argmax is a window over
the joined pairs.  All Column arithmetic, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _overlap_area(a: Column, b: Column) -> Column:
    """Intersection area of two [x0,y0,x1,y1] bboxes."""
    w = F.greatest(
        F.least(a[2], b[2]) - F.greatest(a[0], b[0]), F.lit(0.0))
    h = F.greatest(
        F.least(a[3], b[3]) - F.greatest(a[1], b[1]), F.lit(0.0))
    return w * h


def bbox_area(a: Column) -> Column:
    return F.greatest(a[2] - a[0], F.lit(0.0)) * F.greatest(a[3] - a[1], F.lit(0.0))


def overlap_ratio(span_bbox: Column, block_bbox: Column) -> Column:
    """Overlap relative to the span's own area (ocr_utils.py:180-203:
    the span belongs to the block containing most of it)."""
    area = bbox_area(span_bbox)
    return F.when(area > 0, _overlap_area(span_bbox, block_bbox) / area
                  ).otherwise(F.lit(0.0))


def assign_spans_to_blocks(spans: DataFrame, blocks: DataFrame,
                           min_overlap: float = 0.5) -> DataFrame:
    """spans(img_id, span_id, bbox) x blocks(img_id, block_id, bbox) ->
    (img_id, span_id, block_id, overlap) keeping each span's best block.

    One shuffle on img_id; within-page pair count is bounded by page
    element counts (tens), so the theta part never explodes."""
    s = spans.select("img_id", "span_id", F.col("bbox").alias("sb"))
    b = blocks.select("img_id", "block_id", F.col("bbox").alias("bb"))
    pairs = (
        s.join(b, "img_id")
        .withColumn("overlap", overlap_ratio(F.col("sb"), F.col("bb")))
        .where(F.col("overlap") >= min_overlap)
    )
    w = Window.partitionBy("img_id", "span_id").orderBy(
        F.desc("overlap"), F.asc("block_id"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("img_id", "span_id", "block_id",
                F.round("overlap", 6).alias("overlap"))
    )
