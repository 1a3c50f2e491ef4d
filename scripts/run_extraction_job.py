#!/usr/bin/env python
"""Cluster job entrypoint: resumable end-to-end extraction.

Usage (via scripts/submit_example.sh):
    run_extraction_job.py <pages_table_or_path> <warehouse_root>

Reads the pages table, processes only not-yet-fully-committed urls,
checkpoints doc_text / extracted_items / doc_stats with per-partition
lineage rows.

Resume contract (exactly-once per url per TABLE): the job commits several
tables, and a crash can land between their checkpoints. Gating pending work
on any single table would leave permanent gaps in the later tables, so
  * a url is "done" only when present in ALL committed tables
    (intersection), and
  * each table's append is itself left-anti-filtered against that table's
    snapshot, so urls that were partially committed never duplicate rows in
    the tables that did commit.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame, SparkSession

from paper_layout_parser_spark.plans.pipeline import run_pipeline
from paper_layout_parser_spark.sources.catalog import Catalog

# (table, PipelineOutputs attribute, page column for lineage accounting)
STAGE_TABLES = [
    ("doc_text", "doc_text", None),
    ("extracted_items", "matched", "page_number"),
    ("doc_stats", "doc_stats", None),
]


def _full_tables(out):
    """--full adds the remaining main.py --extract sinks: the nested
    per-doc result.json (K1) and the rendered crop images (K4)."""
    from paper_layout_parser_spark.operators.crop import crop_bounds, render_crops
    from paper_layout_parser_spark.operators.stats import result_json

    bounds = crop_bounds(out.matched)  # clamps against each page's own rect
    return [
        ("doc_results", result_json(out.enriched), None),
        ("crops", render_crops(bounds, out.rasterized), "page_number"),
    ]


def fully_committed_urls(cat: Catalog, tables: list[str]) -> DataFrame | None:
    """urls present in EVERY table's snapshot — None when any table is
    missing entirely (then nothing counts as done)."""
    done = None
    for t in tables:
        if not cat.exists(t):
            return None
        keys = cat.read(t).select("url").distinct()
        done = keys if done is None else done.join(keys, "url", "left_semi")
    return done


def run_job(spark: SparkSession, pages: DataFrame, cat: Catalog,
            full: bool = False) -> int:
    """Process all urls not yet committed to every stage table; returns the
    number of urls processed this run. ``full`` adds the result.json and
    crop-image sinks (the complete main.py --extract surface)."""
    tables = [t for t, _, _ in STAGE_TABLES] + (
        ["doc_results", "crops"] if full else [])
    done = fully_committed_urls(cat, tables)
    todo = pages if done is None else pages.join(done, "url", "left_anti")
    n_todo = todo.select("url").distinct().count()
    if n_todo == 0:
        print("nothing pending; all inputs committed to every table")
        return 0
    out = run_pipeline(todo)
    stage_frames = [(t, getattr(out, attr), pc) for t, attr, pc in STAGE_TABLES]
    if full:
        stage_frames += _full_tables(out)
    for table, df, page_col in stage_frames:
        # per-table left-anti: a url committed here in a crashed run (but
        # missing from a later table) must not append twice
        fresh = cat.pending_inputs(df, table, key="url")
        cat.checkpoint_stage(fresh, table, page_col=page_col)
    cat.append(cat.pending_inputs(out.quarantine, "quarantine", key="url"),
               "quarantine")
    out.unpersist()
    return n_todo


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
