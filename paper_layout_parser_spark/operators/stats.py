"""Statistics aggregations (SURVEY A1-A7) — all native Spark SQL.

Mirrors result_processor.py:53-100 (per-document statistics),
result_processor.py:169-211 (cross-document summary report) and
matching/types.py:56-72 (extraction statistics). Rounding uses the
explicit half-up formula shared with the DuckDB oracle so averages are
bit-identical across engines (see functions.geometry.round_half_up).

Two-level rollups are two explicit groupBys (per-url, then global) — the
per-class and per-page breakdowns stay relational (groupBy rows) and are
only folded into maps at the JSON edge, which keeps every aggregation
map-side-combinable at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.geometry import round_half_up


def page_detection_counts(det: DataFrame) -> DataFrame:
    """A1: per (url, page_no) detection count (by_page / num_detections)."""
    return det.groupBy("url", "page_no").agg(
        F.count("*").alias("num_detections")
    )


def class_stats(det: DataFrame, per_url: bool = False) -> DataFrame:
    """A2+A3: count and average confidence (4 dp) by class."""
    keys = (["url"] if per_url else []) + ["class_name"]
    return det.groupBy(*keys).agg(
        F.count("*").alias("n_detections"),
        round_half_up(F.avg("confidence"), 4).alias("avg_confidence"),
    )


def doc_stats(det: DataFrame, total_pages: DataFrame) -> DataFrame:
    """A4: per-document totals. ``average_detections_per_page`` divides by
    the page count (result_processor.py:97-99). Pages with zero detections
    never appear in ``det``, so the count comes from ``total_pages``
    (url, total_pages): the reference counts all rasterized pages.
    """
    return det.groupBy("url").agg(
        F.count("*").alias("total_detections"),
    ).join(total_pages, "url").select(
        "url",
        "total_pages",
        "total_detections",
        F.when(F.col("total_pages") > 0,
               round_half_up(F.col("total_detections")
                             / F.col("total_pages"), 2))
        .otherwise(F.lit(0.0))
        .alias("average_detections_per_page"),
    )


def summary_report(doc_stats_df: DataFrame) -> DataFrame:
    """A5: global rollup (result_processor.py:169-211) — one row."""
    return doc_stats_df.agg(
        F.count("*").alias("total_documents"),
        F.sum("total_pages").alias("total_pages"),
        F.sum("total_detections").alias("total_detections"),
    ).select(
        "total_documents",
        "total_pages",
        "total_detections",
        F.when(F.col("total_pages") > 0,
               round_half_up(F.col("total_detections") / F.col("total_pages"), 2))
        .otherwise(F.lit(0.0))
        .alias("average_detections_per_page"),
    )


def document_result(enriched: DataFrame, model: str = "doclayout-yolo",
                    processed_at: str | None = None) -> DataFrame:
    """The reference's nested per-document result.json as one row per url
    (result_processor.py:102-131): pages array (page_number, image_size,
    num_detections, detections[]) + statistics (by_class / by_page /
    average_confidence_by_class maps, totals).

    Maps are folded ONLY at this JSON edge via map_from_entries — all
    upstream aggregation stays relational (map-side combinable). The
    ``processed_at`` timestamp is an injected parameter, never now()
    (determinism — SURVEY §1.2)."""
    det_struct = F.struct(
        F.col("class_id"), F.col("class_name"), F.col("confidence"),
        F.struct(F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2")).alias("bbox"),
    )
    pages = (
        enriched.groupBy("url", "page_no", "width", "height")
        .agg(
            F.count("*").alias("num_detections"),
            F.array_sort(
                F.collect_list(F.struct(F.col("det_idx").alias("i"), det_struct.alias("d")))
            ).alias("dets_sorted"),
        )
        .select(
            "url",
            F.struct(
                F.col("page_no").alias("page_number"),
                F.struct(F.col("width"), F.col("height")).alias("image_size"),
                F.col("num_detections"),
                F.transform(F.col("dets_sorted"), lambda x: x["d"]).alias("detections"),
            ).alias("page"),
            "num_detections",
        )
    )
    by_class = (
        enriched.groupBy("url", "class_name")
        .agg(F.count("*").alias("n"),
             round_half_up(F.avg("confidence"), 4).alias("avg_conf"))
        .groupBy("url")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("class_name", "n")))
            ).alias("by_class"),
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("class_name", "avg_conf")))
            ).alias("average_confidence_by_class"),
        )
    )
    doc = pages.groupBy("url").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("page").getField("page_number").alias("p"),
                                    F.col("page").alias("pg")))
        ).alias("pages_sorted"),
        F.sum("num_detections").alias("total_detections"),
        # JSON object keys are strings (matches the reference's serialized
        # by_page; from_json also requires string keys); entries sorted by
        # page number first so serialization order matches the reference's
        # insertion order
        F.map_from_entries(
            F.transform(
                F.array_sort(F.collect_list(F.struct(
                    F.col("page").getField("page_number").alias("k"),
                    F.col("num_detections").alias("v"),
                ))),
                lambda e: F.struct(e["k"].cast("string").alias("k"),
                                   e["v"].alias("v")),
            )
        ).alias("by_page"),
        F.count("*").alias("total_pages"),
    )
    out = doc.join(by_class, "url").select(
        "url",
        F.col("total_pages"),
        F.lit(model).alias("model"),
        (F.lit(processed_at).cast("string") if processed_at
         else F.lit(None).cast("string")).alias("processed_at"),
        F.transform(F.col("pages_sorted"), lambda x: x["pg"]).alias("pages"),
        F.struct(
            F.col("total_detections"),
            F.col("by_class"),
            F.col("by_page"),
            F.col("average_confidence_by_class"),
            F.when(F.col("total_pages") > 0,
                   round_half_up(F.col("total_detections") / F.col("total_pages"), 2))
            .otherwise(F.lit(0.0)).alias("average_detections_per_page"),
        ).alias("statistics"),
    )
    return out


def result_json(enriched: DataFrame, **kw) -> DataFrame:
    """K1: the JSON result sink — (url, result_json string). ``from_json``
    with the same schema round-trips it (S4, tested)."""
    doc = document_result(enriched, **kw)
    payload = F.struct(*[F.col(c) for c in doc.columns if c != "url"])
    return doc.select("url", F.to_json(payload).alias("result_json"))


def extraction_stats(matched: DataFrame) -> DataFrame:
    """A6: per (url, item_type): total items and items with captions.
    The reference counts truthy caption_text (types.py:56-58), so an empty
    extracted string does NOT count as captioned."""
    has_caption = F.col("caption_text").isNotNull() & (F.col("caption_text") != "")
    return matched.groupBy("url", "item_type").agg(
        F.count("*").alias("total_items"),
        F.count(F.when(has_caption, 1)).alias("items_with_captions"),
    )
