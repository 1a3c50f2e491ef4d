"""Structured-Streaming ingest for continuously arriving pages.

The reference has NO streaming (SURVEY §2.8) — its incremental story is
skip-existing file checks. At web scale, new WARC dumps arrive continuously,
so the rebuild offers a micro-batch wrapper: a file-source stream over the
pages table directory, each micro-batch pushed through the SAME batch
pipeline via foreachBatch, committed through the Catalog (exactly-once per
input key thanks to the left-anti resume primitive + the streaming
checkpoint). ``trigger(availableNow=True)`` drains the backlog and stops —
the pattern for both tests and scheduled incremental runs.

Also includes event-stream operators over the driver's ``events`` table
shape: watermarked tumbling-window aggregation and gap-based
sessionization (session_window) — the standard late-data-tolerant ops a
training-data telemetry pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..corpus import PAGES_SCHEMA
from ..sources.catalog import Catalog


def stream_pages(spark: SparkSession, pages_dir: str) -> DataFrame:
    """File-source stream over a growing directory of pages parquet."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(pages_dir)
    )


def _bootstrap_key_tables(catalog: Catalog, stage_tables, committed_table: str,
                          inflight_table: str) -> None:
    """One-time migration for a warehouse written before key tracking:
    derive committed (INTERSECTION of stage-table urls — the multi-table
    exactly-once contract) and inflight (UNION — anything any table has
    seen) from the stage tables themselves. Runs once per job start, never
    per micro-batch."""
    if catalog.exists(committed_table) or catalog.exists(inflight_table):
        return
    existing = [t for t, _, _ in stage_tables if catalog.exists(t)]
    if not existing:
        return
    union = None
    inter = None
    for t in existing:
        keys = catalog.read(t).select("url").distinct()
        union = keys if union is None else union.unionByName(keys).distinct()
        inter = keys if inter is None else inter.join(keys, "url", "left_semi")
    catalog.append(union, inflight_table)
    if len(existing) == len(stage_tables):
        catalog.append(inter, committed_table)


def run_incremental_extraction(
    spark: SparkSession,
    pages_dir: str,
    catalog: Catalog,
    checkpoint_dir: str,
    table: str = "doc_text",
    tables: list[tuple[str, str, str | None]] | None = None,
    pipeline_kwargs: dict | None = None,
    committed_table: str | None = None,
):
    """Drain all available input files through the batch pipeline, one
    micro-batch at a time, checkpointing results + lineage per batch.
    Returns after the backlog is consumed (availableNow).

    ``tables`` optionally lists (table, PipelineOutputs attr, page_col)
    stages to commit per batch — same multi-table resume contract as
    scripts/run_extraction_job.py. Default: doc_text only.

    Exactly-once bookkeeping is O(keys), never O(committed corpus) per
    batch: two compact url-only tables ride next to the stage tables —

      * ``<committed_table>`` — urls committed to EVERY stage table;
        the per-batch re-delivery gate is one left-anti against it (the
        old implementation re-read and intersected ALL stage tables every
        micro-batch, so a long-running ingest got slower per batch);
      * ``<committed_table>__inflight`` — urls a batch STARTED (appended
        before the stage writes). A url in inflight but not committed
        marks a crash window; only then does the per-table left-anti
        safety net (pending_inputs, which reads the stage tables) engage.
        Steady-state batches never read a stage table for gating at all.

    The key tables are a cache over the authoritative per-table state: a
    crash between the stage appends and the committed append re-delivers
    the batch, the inflight mark flags it suspicious, and the per-table
    anti-join dedupes — no gaps, no duplicates. Pre-existing warehouses
    without key tables are migrated once at job start. Each batch appends
    one small file per key table; on a long-running Iceberg deployment
    schedule a rewrite_data_files compaction on them (they are url-only,
    so compaction is cheap), or rebuild them from the stage tables via the
    bootstrap path."""
    from ..plans.pipeline import run_pipeline

    kwargs = pipeline_kwargs or {}
    stage_tables = tables or [(table, "doc_text", None)]
    if committed_table is None:
        committed_table = (
            "_".join(t for t, _, _ in stage_tables) + "__committed_urls"
        )
    _bootstrap_key_tables(catalog, stage_tables, committed_table,
                          committed_table + "__inflight")

    def run_stages(todo: DataFrame):
        out = run_pipeline(todo, **kwargs)
        return ([(t, getattr(out, attr), page_col)
                 for t, attr, page_col in stage_tables],
                out.unpersist)

    process_batch = exactly_once_batch_committer(
        catalog, committed_table, run_stages
    )
    q = (
        stream_pages(spark, pages_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def exactly_once_batch_committer(catalog: Catalog, committed_table: str,
                                 run_stages):
    """The compact key-table exactly-once commit path as a reusable
    ``foreachBatch`` callable — shared by the availableNow backlog drain
    above and any steady-trigger (``processingTime``) deployment.

    ``run_stages(todo_df) -> (stages, cleanup)`` where ``stages`` is a
    list of ``(table, df, page_col)`` to commit for this batch and
    ``cleanup`` (or None) runs after the commit (cache release).

    Contract (the docstring of run_incremental_extraction has the full
    story): one left-anti against the url-only ``committed_table`` gates
    re-delivery in O(keys); ``<committed_table>__inflight`` is appended
    BEFORE the stage writes so a crash mid-commit makes the re-delivered
    urls suspicious on the next run, and only then does the per-table
    ``pending_inputs`` safety net (which reads stage tables) engage."""
    inflight_table = committed_table + "__inflight"

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        todo = batch_df
        if catalog.exists(committed_table):
            done = catalog.read(committed_table).select("url")
            todo = batch_df.join(done, "url", "left_anti")
        if todo.limit(1).count() == 0:
            return
        todo_urls = todo.select("url").distinct().persist()
        suspicious = False
        if catalog.exists(inflight_table):
            inflight = catalog.read(inflight_table).select("url")
            suspicious = (
                todo_urls.join(inflight, "url", "left_semi").limit(1).count() > 0
            )
        # mark in-flight BEFORE the stage writes: a crash mid-commit makes
        # the re-delivered urls suspicious on the next run
        catalog.append(todo_urls, inflight_table)
        stages, cleanup = run_stages(todo)
        for t, df, page_col in stages:
            # stage tables are only re-read for dedup when a crash window
            # was detected; the steady-state path writes straight through
            fresh = (catalog.pending_inputs(df, t, key="url")
                     if suspicious else df)
            catalog.checkpoint_stage(fresh, t, url_col="url", page_col=page_col)
        catalog.append(todo_urls, committed_table)
        if cleanup is not None:
            cleanup()
        todo_urls.unpersist()

    return process_batch


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


def sessionize(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Gap-based sessions per user via session_window (streaming-native;
    the batch twin is the lag+cumsum window pattern)."""
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", gap)
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "user_id", "n_events", "sum_value",
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
