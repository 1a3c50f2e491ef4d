"""Structured-Streaming ingest for continuously arriving pages.

The reference has NO streaming (SURVEY §2.8) — its incremental story is
skip-existing file checks. At web scale, new WARC dumps arrive continuously,
so the rebuild offers a micro-batch wrapper: a file-source stream over the
pages table directory, each micro-batch pushed through the SAME batch
pipeline via foreachBatch and committed through
``sources.catalog.commit_pending``, the exactly-once committer the batch
job and the corpus build share (per-table url keys + the streaming
checkpoint; quarantine rows commit with each batch).
``trigger(availableNow=True)`` drains the backlog and stops — the pattern
for both tests and scheduled incremental runs.

Also includes event-stream operators over the driver's ``events`` table
shape: watermarked tumbling-window aggregation and batch sessionization —
the standard late-data-tolerant ops a training-data telemetry pipeline
needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..corpus import PAGES_SCHEMA
from ..sources.catalog import Catalog, commit_pending


def stream_pages(spark: SparkSession, pages_dir: str) -> DataFrame:
    """File-source stream over a growing directory of pages parquet."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(pages_dir)
    )


def run_incremental_extraction(
    spark: SparkSession,
    pages_dir: str,
    catalog: Catalog,
    checkpoint_dir: str,
    tables: list[tuple[str, str, str | None]] | None = None,
):
    """Drain all available input files through the batch pipeline, one
    micro-batch at a time, committing each batch's stage tables (with
    lineage) and its quarantine rows through ``commit_pending``. Returns
    after the backlog is consumed (availableNow).

    ``tables`` optionally lists (table, PipelineOutputs attr, page_col)
    stages to commit per batch. Default: doc_text only. A re-delivered
    file is a no-op: its urls are gated by the committed url keys."""
    from ..plans.pipeline import run_pipeline

    stage_tables = tables or [("doc_text", "doc_text", None)]

    def run_stages(todo: DataFrame):
        out = run_pipeline(todo)
        frames = [(t, getattr(out, attr), page_col)
                  for t, attr, page_col in stage_tables]
        return frames + [("quarantine", out.quarantine, None)], out.unpersist

    q = (
        stream_pages(spark, pages_dir)
        .writeStream.foreachBatch(
            lambda batch, _epoch: commit_pending(
                catalog, batch, [t for t, _, _ in stage_tables], run_stages))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def windowed_event_counts(events: DataFrame, window: str = "5 minutes",
                          watermark: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling-window counts per event_type — works on both a
    streaming and a batch events DataFrame (same plan)."""
    # watermarks require TIMESTAMP (LTZ); NTZ parquet values are reinterpreted
    # in the session tz, which is pinned to UTC
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type", "n_events", "sum_value",
        )
    )


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch sessionization twin (lag + cumulative gap counter) — returns
    the same (user_id, session bounds, counts) for static data; its SQL
    oracle is expressible in any engine with window functions."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    # NTZ timestamps can't cast straight to long; go via LTZ (session tz is
    # pinned to UTC, so this equals DuckDB's epoch() on the naive value)
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    with_flag = events.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0),
    )
    with_id = with_flag.withColumn(
        "session_id", F.sum("new_session").over(
            Window.partitionBy("user_id").orderBy("ts")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return with_id.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        F.sum("value").alias("sum_value"),
    )
