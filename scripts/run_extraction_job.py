#!/usr/bin/env python
"""Cluster job entrypoint: resumable end-to-end extraction.

Usage (via scripts/submit_example.sh):
    run_extraction_job.py <pages_table_or_path> <warehouse_root> [--full]

Reads the pages table, processes only not-yet-committed urls, checkpoints
doc_text / extracted_items / doc_stats with per-partition lineage rows and
appends the quarantine rows.

Resume contract (exactly-once per url): the commit goes through
``sources.catalog.commit_pending``, the committer the streaming ingest and
the corpus build share. A url is done once its batch commits, whether or
not it has rows in every table, so a second run over the same input is a
no-op. A crash between the table writes re-runs the batch with a per-table
left-anti, which neither duplicates rows nor leaves gaps.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame, SparkSession

from paper_layout_parser_spark.operators.crop import StubCropCodec
from paper_layout_parser_spark.plans.pipeline import run_pipeline
from paper_layout_parser_spark.sources.catalog import Catalog, commit_pending

# (table, PipelineOutputs attribute, page column for lineage accounting)
STAGE_TABLES = [
    ("doc_text", "doc_text", None),
    ("extracted_items", "matched", "page_number"),
    ("doc_stats", "doc_stats", None),
]


def _full_tables(out):
    """--full adds the remaining main.py --extract sinks: the nested
    per-doc result.json (K1) and the crop images (K4), which the fused
    stage rendered from the pages it had open (``out.crops``)."""
    from paper_layout_parser_spark.operators.stats import result_json

    return [
        ("doc_results", result_json(out.enriched), None),
        ("crops", out.crops, "page_number"),
    ]


def run_job(spark: SparkSession, pages: DataFrame, cat: Catalog,
            full: bool = False) -> int:
    """Process all urls not yet committed; returns the number of urls
    processed this run. ``full`` adds the result.json and crop-image sinks
    (the complete main.py --extract surface)."""
    tables = [t for t, _, _ in STAGE_TABLES] + (
        ["doc_results", "crops"] if full else [])

    def run_stages(todo: DataFrame):
        out = run_pipeline(todo,
                           crop_codec_factory=StubCropCodec if full else None)
        frames = [(t, getattr(out, attr), pc) for t, attr, pc in STAGE_TABLES]
        if full:
            frames += _full_tables(out)
        return frames + [("quarantine", out.quarantine, None)], out.unpersist

    n = commit_pending(cat, pages, tables, run_stages)
    if n == 0:
        print("nothing pending; all inputs committed")
    return n


def main(pages_path: str, warehouse: str, *flags: str) -> None:
    spark = SparkSession.builder.getOrCreate()  # conf comes from spark-submit
    cat = Catalog(spark, warehouse)
    pages = (
        spark.read.table(pages_path) if "." in pages_path and "/" not in pages_path
        else spark.read.parquet(pages_path)
    )
    run_job(spark, pages, cat, full="--full" in flags)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], *sys.argv[3:])
