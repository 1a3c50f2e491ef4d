"""End-to-end extraction pipeline (SURVEY §3.1 Spark shape):

pages -> plan_splits (skew salting)
      -> rasterize + detect + enrich + caption match (ONE batched
         mapInPandas stage)
      -> normalize (native)
      -> { enriched rows || quarantine rows || page tallies }
      -> { stats aggs  ||  item-id window -> extraction }
      -> groupBy(url) doc-text assembly

The fused stage is the default outputs' only render and, after
plan_splits, their only Python. Its normalized output is the hub:
detections (``stage`` null) form ``enriched``, failed pages (``error``
set) form ``quarantine``, and the one tally row per rendered page
(``stage='page'``) gives ``doc_stats`` its page counts. Each figure or
table detection also carries its caption's columns, which only
``matched`` reads; every other output drops them. Stats, matching,
assembly and quarantine all branch from it, so run_pipeline persists it
once; callers release it with ``PipelineOutputs.unpersist`` (see
sources.catalog for the Iceberg/parquet stage-checkpoint helper). ``rasterized`` is a separate lazy render, read
only by crop re-rendering and VLM payloads.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.assembly import assemble_doc_text
from ..operators.detect import (
    CAPTION_COLUMNS,
    StubDetectorBackend,
    normalize_detections,
    rasterize_detect_enrich,
)
from ..operators.matching import match_captions
from ..operators.rasterize import plan_splits, rasterize_pages
from ..operators.stats import doc_stats


@dataclass
class PipelineOutputs:
    rasterized: DataFrame     # one row per page (lazy second render)
    detections: DataFrame     # normalized detections
    enriched: DataFrame       # + reading_order_rank, clipped text
    matched: DataFrame        # extracted items with captions
    doc_text: DataFrame       # url, doc_text (byte-identity surface)
    doc_stats: DataFrame      # per-url totals
    quarantine: DataFrame     # failed pages (url, page_no, stage, error)
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
) -> PipelineOutputs:
    planned = plan_splits(pages, chunk_pages=chunk_pages, num_partitions=num_partitions)
    # rasterize + inference + clipped text + XY-cut + caption matching in
    # ONE mapInPandas stage (see rasterize_detect_enrich). Its rows are
    # detections (each figure and table with its caption), page tallies
    # and quarantine rows (C6 error containment: failed pages become
    # rows, never failed jobs).
    # persist the single fused output — detections, tallies and
    # quarantine rows — so enriched, matched, doc_text, doc_stats and
    # quarantine all read the cache and the UDF stage runs once. On a
    # cluster, replace the persist with a catalog.checkpoint_stage (same
    # cut point, durable + resumable).
    fused = normalize_detections(
        rasterize_detect_enrich(planned, backend_factory)).persist()
    detected = fused.where(F.col("stage").isNull()).drop("stage", "error")
    enriched = detected.drop(*CAPTION_COLUMNS)
    quarantine = fused.where(F.col("error").isNotNull()).select(
        "url", "page_no", "stage", "error"
    )
    # one tally row per rendered page: covers zero-detection pages and
    # pages that later failed in detect, without a second render pass
    total_pages = fused.where(F.col("stage") == "page").groupBy("url").agg(
        F.count("*").cast("int").alias("total_pages")
    )
    det = enriched.drop("reading_order_rank", "text")
    # crop re-rendering and VLM payloads need page rows; nothing else
    # reads this lineage, so the default outputs never run it
    rasterized = (rasterize_pages(planned).where(F.col("error").isNull())
                  .drop("error"))
    return PipelineOutputs(
        rasterized=rasterized,
        detections=det,
        enriched=enriched,
        matched=match_captions(detected),
        doc_text=assemble_doc_text(enriched),
        doc_stats=doc_stats(enriched, total_pages=total_pages),
        quarantine=quarantine,
        fused=fused,
    )
