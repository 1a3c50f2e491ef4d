"""Spatial predicates as native Spark column expressions.

These are the JVM-side (whole-stage-codegen) equivalents of the reference's
per-pair Python math:
  * IoU — benchmarks/caption_evaluator/evaluator.py:121-152

Bboxes are passed as four explicit double columns (x1, y1, x2, y2) so the
expressions inline into codegen without struct field extraction overhead.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def iou(
    ax1: Column, ay1: Column, ax2: Column, ay2: Column,
    bx1: Column, by1: Column, bx2: Column, by2: Column,
) -> Column:
    """Intersection-over-union (evaluator.py:121-152); 0.0 on empty overlap
    or degenerate union."""
    ix1 = F.greatest(ax1, bx1)
    iy1 = F.greatest(ay1, by1)
    ix2 = F.least(ax2, bx2)
    iy2 = F.least(ay2, by2)
    inter = F.when(
        (ix2 > ix1) & (iy2 > iy1), (ix2 - ix1) * (iy2 - iy1)
    ).otherwise(F.lit(0.0))
    area_a = (ax2 - ax1) * (ay2 - ay1)
    area_b = (bx2 - bx1) * (by2 - by1)
    union = area_a + area_b - inter
    return F.when(union <= 0, F.lit(0.0)).otherwise(inter / union)


def round_half_up(col: Column, digits: int) -> Column:
    """Explicit half-up rounding as a deterministic IEEE expression —
    identical formula is used in the DuckDB oracle SQL so both sides round
    the same way regardless of engine-native ROUND semantics."""
    factor = float(10 ** digits)
    return F.floor(col * F.lit(factor) + F.lit(0.5)) / F.lit(factor)
