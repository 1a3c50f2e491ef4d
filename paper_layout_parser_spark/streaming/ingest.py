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
shape: watermarked tumbling-window aggregation, bounded-state dedup and
sessionization (a custom stateful operator and its batch twin) — the
standard late-data-tolerant ops a training-data telemetry pipeline needs.
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


def stream_dedup(df: DataFrame, keys: list[str], ts_col: str = "ts",
                 watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps per-key state only inside the
    watermark horizon, so re-delivered rows (at-least-once sources,
    re-crawled urls) are dropped without the unbounded-state trap of plain
    dropDuplicates on a stream. Works on batch DataFrames too (falls back
    to plain dropDuplicates semantics inside the horizon)."""
    df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


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


def sessionize_stateful(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Custom stateful streaming sessionization via applyInPandasWithState —
    the escape hatch for session logic that session_window can't express
    (e.g. carrying per-session custom accumulators across micro-batches).

    State per user: (open-session start/last-seen epoch seconds, event
    count, value sum). A micro-batch extends or closes sessions as events
    arrive; every batch emits the affected sessions with a ``closed`` flag
    (update output mode), so downstream consumers upsert on
    (user_id, session_start). NoTimeout is used deliberately: processing-
    time timeouts keep a query permanently busy (even processAllAvailable
    blocks), and event-time gap closure already happens on the next event.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_s = gap_minutes * 60
    out_schema = (
        "user_id long, session_start timestamp, session_end timestamp, "
        "n_events long, sum_value double, closed boolean"
    )
    state_schema = "start long, last long, n long, total double"  # start/last: epoch ns

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        (user_id,) = key
        rows = []
        start = last = n = None
        total = 0.0
        if state.exists:
            start, last, n, total = state.get
        gap_ns = gap_s * 1_000_000_000
        # a user's micro-batch rows can span several Arrow chunks (e.g. more
        # than maxRecordsPerBatch rows); sorting chunks independently would
        # corrupt session bounds, so concatenate the whole group FIRST and
        # sort once. Per-group size is bounded by one user's events per
        # micro-batch — cap the trigger interval if a single user can
        # produce unbounded rows per batch.
        chunks = [c for c in pdfs if len(c)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values("ts")
            for ts, value in zip(pdf["ts"], pdf["value"]):
                epoch = pd.Timestamp(ts).value  # ns — full precision
                if start is None:
                    start, last, n, total = epoch, epoch, 1, float(value)
                elif epoch - last > gap_ns:
                    rows.append((user_id, start, last, n, total, True))
                    start, last, n, total = epoch, epoch, 1, float(value)
                else:
                    last = max(last, epoch)
                    n += 1
                    total += float(value)
        if start is not None:
            state.update((start, last, n, total))
            rows.append((user_id, start, last, n, total, False))
        if rows:
            import pandas as pd
            yield pd.DataFrame({
                "user_id": [r[0] for r in rows],
                "session_start": [pd.Timestamp(r[1]) for r in rows],
                "session_end": [pd.Timestamp(r[2]) for r in rows],
                "n_events": [r[3] for r in rows],
                "sum_value": [r[4] for r in rows],
                "closed": [r[5] for r in rows],
            })

    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return events.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout,
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
