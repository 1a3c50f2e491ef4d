"""End-to-end extraction pipeline (SURVEY §3.1 Spark shape):

pages -> plan_splits (skew salting)
      -> rasterize + detect + enrich + caption match (ONE batched
         mapInPandas stage)
      -> normalize (native)
      -> { enriched rows || quarantine rows || page tallies }
      -> { stats aggs  ||  item-id window -> extraction (+ crops) }
      -> groupBy(url) doc-text assembly

The fused stage is the pipeline's only render and, after plan_splits,
its only Python. Its normalized output is the hub: detections (``stage``
null) form ``enriched``, failed pages (``error`` set) form
``quarantine``, and the one tally row per rendered page
(``stage='page'``) gives ``doc_stats`` its page counts. Each figure or
table detection also carries its caption's columns, which only
``matched`` reads, and, given a crop codec, its crop, which only
``crops`` reads; every other output drops them. Stats, matching,
assembly and quarantine all branch from it, so run_pipeline persists it
once; callers release it with ``PipelineOutputs.unpersist`` (see
sources.catalog for the Iceberg/parquet stage-checkpoint helper).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.assembly import assemble_doc_text
from ..operators.crop import CROP_COLUMNS
from ..operators.detect import (
    CAPTION_COLUMNS,
    StubDetectorBackend,
    normalize_detections,
    rasterize_detect_enrich,
)
from ..operators.matching import match_captions
from ..operators.rasterize import plan_splits
from ..operators.stats import doc_stats


@dataclass
class PipelineOutputs:
    enriched: DataFrame       # + reading_order_rank, clipped text
    matched: DataFrame        # extracted items with captions
    doc_text: DataFrame       # url, doc_text (byte-identity surface)
    doc_stats: DataFrame      # per-url totals
    quarantine: DataFrame     # failed pages (url, page_no, stage, error)
    crops: DataFrame | None   # crop.CROP_SCHEMA rows; None without a codec
    # the persisted fused-stage output every other frame filters
    fused: DataFrame = field(repr=False)

    def unpersist(self) -> None:
        """Release the cached fused-stage output."""
        self.fused.unpersist()


def run_pipeline(
    pages: DataFrame,
    backend_factory=StubDetectorBackend,
    chunk_pages: int = 16,
    num_partitions: int | None = None,
    crop_codec_factory=None,
) -> PipelineOutputs:
    """``crop_codec_factory`` (e.g. crop.StubCropCodec) makes the fused
    stage render each figure and table's crop and fills ``crops``; the
    default does no crop work."""
    planned = plan_splits(pages, chunk_pages=chunk_pages, num_partitions=num_partitions)
    # rasterize + inference + clipped text + XY-cut + caption matching
    # (+ crops) in ONE mapInPandas stage (see rasterize_detect_enrich).
    # Its rows are detections (each figure and table with its caption and
    # crop), page tallies and quarantine rows (C6 error containment:
    # failed pages become rows, never failed jobs).
    # persist the single fused output — detections, tallies and
    # quarantine rows — so enriched, matched, crops, doc_text, doc_stats
    # and quarantine all read the cache and the UDF stage runs once. On a
    # cluster, replace the persist with a catalog.checkpoint_stage (same
    # cut point, durable + resumable).
    fused = normalize_detections(rasterize_detect_enrich(
        planned, backend_factory, crop_codec_factory)).persist()
    detected = fused.where(F.col("stage").isNull()).drop("stage", "error")
    enriched = detected.drop(*CAPTION_COLUMNS, *CROP_COLUMNS)
    quarantine = fused.where(F.col("error").isNotNull()).select(
        "url", "page_no", "stage", "error"
    )
    # one tally row per rendered page: covers zero-detection pages and
    # pages that later failed in detect, without a second render pass
    total_pages = fused.where(F.col("stage") == "page").groupBy("url").agg(
        F.count("*").cast("int").alias("total_pages")
    )
    # matched and crops are two projections of one item-id window
    items = match_captions(detected)
    crops = None
    if crop_codec_factory is not None:
        crops = items.select("url", "item_type", "item_id", "page_number",
                             *CROP_COLUMNS)
    return PipelineOutputs(
        enriched=enriched,
        matched=items.drop(*CROP_COLUMNS),
        doc_text=assemble_doc_text(enriched),
        doc_stats=doc_stats(enriched, total_pages=total_pages),
        quarantine=quarantine,
        crops=crops,
        fused=fused,
    )
