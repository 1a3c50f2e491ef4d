"""Extracted items with their captions (SURVEY J1-J3, P8).

Reference semantics (caption_matcher.py:21-199, figure_extractor.py:144-272):
  * per page and per item type, the reference scores all (item, caption)
    pairs and assigns them greedily, each item and caption used at most
    once; unmatched items keep a NULL caption;
  * item ids are per-document cumulative counters in (page, detection-order)
    order: fig_%02d_%02d / table_%02d_%02d (figure_extractor.py:205-207,242-244).

Spark shape: the assignment needs only one page's detections, so the fused
detect stage makes it (``algorithms.match_page_captions``) and each figure
or table row arrives with its caption's columns (and, under a crop codec,
its crop). What is left is native: a filter and one window for the item
ids — no join, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..synthdata import FIGURE_CLASSES, TABLE_CLASSES
from .crop import CROP_COLUMNS


def match_captions(det: DataFrame) -> DataFrame:
    """Detections carrying the fused stage's caption columns -> one row per
    item:

    url, item_type, item_id, item_seq, page_number, width/height (the
    item's page pixel dims), item_x1..y2, cap_x1..y2 (nullable),
    caption_text (nullable), then the crop columns (crop.CROP_COLUMNS)
    when the fused stage rendered crops.
    """
    item_type = (F.when(F.col("class_name").isin(*FIGURE_CLASSES), "figure")
                 .otherwise("table"))
    items = (det.where(F.col("class_name").isin(*FIGURE_CLASSES | TABLE_CLASSES))
             .withColumn("item_type", item_type))

    # per-document cumulative counter in (page, detection order) —
    # figure_extractor.py:179-244
    w = Window.partitionBy("url", "item_type").orderBy("page_no", "det_idx")
    prefix = F.when(F.col("item_type") == "figure", F.lit("fig")).otherwise(F.lit("table"))
    # item_seq: the raw per-doc counter as an INTEGER. Downstream tie-breaks
    # (evaluate.compare_matches) must order by it, not by the %02d-formatted
    # item_id — past 99 pages/items lexicographic order diverges from the
    # reference's insertion order ("fig_100_x" < "fig_20_x").
    return items.select(
        "url",
        "item_type",
        F.concat(prefix, F.format_string("_%02d_%02d", F.col("page_no"), F.row_number().over(w)))
        .alias("item_id"),
        F.row_number().over(w).alias("item_seq"),
        F.col("page_no").alias("page_number"),
        "width", "height",
        *(F.col(c).alias(f"item_{c}") for c in ("x1", "y1", "x2", "y2")),
        "cap_x1", "cap_y1", "cap_x2", "cap_y2",
        F.col("cap_text").alias("caption_text"),
        *(c for c in CROP_COLUMNS if c in det.columns),
    )
