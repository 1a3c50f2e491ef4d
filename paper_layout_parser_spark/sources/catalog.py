"""Stage checkpointing, lineage and resume (SURVEY §4.2, north rule).

The north rule requires: every stage checkpoints to Iceberg with
per-partition lineage rows (partition_id, urls_in, pages_in, bytes_out,
wall_ms) so a killed run resumes from the last committed snapshot.

This module is format-agnostic behind one ``Catalog`` helper:
  * Iceberg when the runtime jar + catalog are configured
    (``spark.sql.catalog.<name>`` present) — ``writeTo(...).append()``;
  * parquet-directory fallback otherwise (this sandbox: no Iceberg jar,
    see /opt guide) — same table semantics, append = new files.

Resume semantics mirror the reference's skip-existing incremental mode
(benchmarks/cli.py:318-323, SURVEY F8/U6), which is per input document:
``commit_pending`` is the one exactly-once committer, shared by the batch
job, the streaming ingest and the corpus build. It left-anti joins its
input urls against per-table url key rows that every caller shares and
processes only the remainder.
Lineage rows come from a ``groupBy`` over the persisted stage frame, in
the same pass as the data append, and go to a ``<table>__lineage`` table.
"""

from __future__ import annotations

import os
import time
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _iceberg_available(spark: SparkSession, catalog: str) -> bool:
    return spark.conf.get(f"spark.sql.catalog.{catalog}", None) is not None


class Catalog:
    """Minimal table catalog: Iceberg when configured, parquet dirs else."""

    def __init__(self, spark: SparkSession, root: str,
                 iceberg_catalog: str = "plp"):
        self.spark = spark
        self.root = root
        self.iceberg = _iceberg_available(spark, iceberg_catalog)
        self.catalog_name = iceberg_catalog
        if not self.iceberg:
            os.makedirs(root, exist_ok=True)

    # -- basic table ops ----------------------------------------------------

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        if self.iceberg:
            return self.spark.catalog.tableExists(f"{self.catalog_name}.{table}")
        import glob

        return bool(glob.glob(os.path.join(self._path(table), "*.parquet")) or
                    glob.glob(os.path.join(self._path(table), "*", "*.parquet")))

    def read(self, table: str) -> DataFrame:
        if self.iceberg:
            return self.spark.read.table(f"{self.catalog_name}.{table}")
        return self.spark.read.parquet(self._path(table))

    def append(self, df: DataFrame, table: str) -> None:
        if self.iceberg:
            df.writeTo(f"{self.catalog_name}.{table}").createOrReplace() \
                if not self.exists(table) else \
                df.writeTo(f"{self.catalog_name}.{table}").append()
        else:
            df.write.mode("append").parquet(self._path(table))

    # -- checkpointed stage write with lineage -------------------------------

    def checkpoint_stage(self, df: DataFrame, table: str,
                         url_col: str = "url",
                         page_col: str | None = "page_no") -> None:
        """Append ``df`` to ``table`` while recording per-partition lineage
        rows (partition_id, urls_in, pages_in, bytes_out, wall_ms) to
        ``<table>__lineage``.

        The staged DataFrame is persisted around the two appends: without
        it, the lineage append would RECOMPUTE the whole upstream (incl.
        mapInPandas stages) — doubling stage cost and potentially recording
        partition counts from a different physical plan than the data
        actually written. On a real cluster replace the persist with a
        read-back of the just-committed snapshot. A crash between the data
        append and the lineage append leaves data committed with lineage
        missing for that run_id — resume correctness is unaffected (resume
        keys off the DATA snapshot; lineage is observability)."""
        run_id = uuid.uuid4().hex[:12]
        cols = df.columns
        page_expr = F.col(page_col) if page_col and page_col in cols else F.lit(1)
        sizer = sum(
            (F.when(F.col(c).isNotNull(), F.length(F.col(c).cast("string")))
             .otherwise(0) for c in cols),
            F.lit(0),
        )
        # lineage is aggregated relationally in the same job via
        # spark_partition_id() — one pass, no side channels
        staged = (
            df.withColumn("__bytes", sizer)
            .withColumn("__page", page_expr)
            .withColumn("__pid", F.spark_partition_id())
        ).persist()
        lineage = staged.groupBy("__pid").agg(
            F.countDistinct(url_col).alias("urls_in"),
            F.countDistinct(url_col, "__page").alias("pages_in"),
            F.sum("__bytes").alias("bytes_out"),
            F.count("*").alias("rows_out"),
        ).select(
            F.lit(run_id).alias("run_id"),
            F.col("__pid").alias("partition_id"),
            "urls_in", "pages_in", "bytes_out", "rows_out",
            F.lit(int(time.time() * 1000)).alias("committed_ms"),
        )
        t0 = time.monotonic()
        try:
            self.append(staged.drop("__bytes", "__page", "__pid"), table)
            wall_ms = int((time.monotonic() - t0) * 1000)
            self.append(lineage.withColumn("wall_ms", F.lit(wall_ms)),
                        f"{table}__lineage")
        finally:
            staged.unpersist()

    # -- url key tables ------------------------------------------------------

    def append_keys(self, keys: DataFrame, table: str) -> None:
        """Append ``(url, table)`` key rows partitioned by ``table``, so on
        parquet ``has_keys`` is a file listing, not a Spark job."""
        if self.iceberg:
            w = keys.writeTo(f"{self.catalog_name}.{table}")
            w.append() if self.exists(table) else \
                w.partitionedBy(F.col("table")).create()
        else:
            keys.write.mode("append").partitionBy("table").parquet(
                self._path(table))

    def read_keys(self, table: str) -> DataFrame:
        """A key table, read without a schema-inference job."""
        if self.iceberg:
            return self.read(table)
        return self.spark.read.schema("url string, table string").parquet(
            self._path(table))

    def has_keys(self, table: str, stage_table: str) -> bool:
        if self.iceberg:
            return self.exists(table) and self.read_keys(table).where(
                F.col("table") == stage_table).limit(1).count() > 0
        return self.exists(os.path.join(table, f"table={stage_table}"))

    # -- resume -------------------------------------------------------------

    def pending_inputs(self, inputs: DataFrame, table: str,
                       key: str = "url") -> DataFrame:
        """Input rows NOT yet present in the committed output — the resume
        primitive (left-anti join against the last snapshot; reference
        analogue: skip-existing, cli.py:318-323).

        The table is joined with a cached copy of the input keys, never
        with ``inputs``: the cache hides the caller's predicates from
        constraint inference, which would otherwise run them on the
        table's rows (under ANSI mode a cast in such a predicate fails on
        keys the caller never passed). The result is checkpointed, so the
        returned frame holds no cache and carries no constraint either."""
        if not self.exists(table):
            return inputs
        keys = inputs.select(key).distinct().persist()
        try:
            fresh = keys.join(self.read(table).select(key), key,
                              "left_anti").localCheckpoint()
        finally:
            keys.unpersist()
        return inputs.join(fresh, key, "left_semi")


KEYS = "committed_urls"      # (url, table): the url's batch committed to table
INFLIGHT = "inflight_urls"   # (url, table): a batch started writing the url


def _key_rows(urls: DataFrame, tables: list[str]) -> DataFrame:
    # one file per table and batch: a batch's urls are few
    return urls.coalesce(1).select(
        "url", F.explode(F.array(*[F.lit(t) for t in tables])).alias("table"))


def _bootstrap_keys(catalog: Catalog, tables: list[str]) -> None:
    """Migrate each table in ``tables`` that holds rows but no key rows
    (written before key tables): every url it holds counts as inflight
    for and committed to it. Reads that table's distinct urls only."""
    fresh = [t for t in tables
             if catalog.exists(t) and not catalog.has_keys(INFLIGHT, t)]
    if fresh:
        keys = reduce(DataFrame.unionByName, [
            catalog.read(t).select("url").distinct()
            .withColumn("table", F.lit(t)) for t in fresh])
        catalog.append_keys(keys, INFLIGHT)
        catalog.append_keys(keys, KEYS)


def commit_pending(catalog: Catalog, inputs: DataFrame, tables: list[str],
                   run_stages) -> int:
    """Run ``run_stages`` over the ``inputs`` whose url is not committed
    yet and commit its frames exactly once per url; returns the number of
    urls committed.

    ``run_stages(todo) -> (frames, cleanup)``: ``frames`` lists
    ``(table, df, page_col)`` to commit, ``cleanup`` (or None) runs after
    the commit (cache release). A frame whose table is in ``tables`` is a
    stage table: checkpointed with lineage, and part of the gate. Any
    other frame (quarantine) is a side table: a plain append.

    Exactly-once bookkeeping is O(keys), never O(committed corpus): two
    warehouse-wide key tables of ``(url, table)`` rows hold per-table
    state that every caller shares, whatever its table set —

      * ``committed_urls``: the url's batch committed to the table. A url
        is pending unless it is committed to every table in ``tables``
        (one left-anti), whether or not it has rows there (a document
        without figures has no extracted item);
      * ``inflight_urls``: a batch STARTED writing the url to the table,
        appended before the frame writes. A frame whose table already
        has a pending url inflight (a crash window, or another caller
        that committed the url there) is left-anti joined against that
        table (``pending_inputs``), so the re-run neither duplicates rows
        nor leaves gaps. Steady-state batches read no stage table.

    Each batch appends one small file per table to each key table; on a
    long-running deployment compact them (Iceberg rewrite_data_files).
    Works as a ``foreachBatch`` body: the batch is ``inputs``."""
    _bootstrap_keys(catalog, tables)
    # the gate joins the key rows with a cached copy of the input urls,
    # never with ``inputs``: the cache hides the caller's predicates from
    # constraint inference, which would otherwise run them on key rows of
    # urls the caller never passed (under ANSI mode a cast there raises)
    in_urls = inputs.select("url").distinct().persist()
    todo, todo_urls = inputs, in_urls
    try:
        if catalog.exists(KEYS):
            # key rows repeat after a crash window: count distinct tables
            done = (catalog.read_keys(KEYS).where(F.col("table").isin(tables))
                    .groupBy("url")
                    .agg(F.size(F.collect_set("table")).alias("n"))
                    .where(F.col("n") == len(tables)))
            todo_urls = in_urls.join(done.select("url"), "url",
                                     "left_anti").persist()
            todo = inputs.join(todo_urls, "url", "left_semi")
        n_urls = todo_urls.count()
        if n_urls == 0:
            return 0
        frames, cleanup = run_stages(todo)
        written = [t for t, _, _ in frames]
        _bootstrap_keys(catalog, written)   # side tables
        seen = set()
        if catalog.exists(INFLIGHT):
            inflight = catalog.read_keys(INFLIGHT)
            seen = {r["table"] for r in
                    inflight.where(F.col("table").isin(written))
                    .join(todo_urls, "url", "left_semi")
                    .select("table").distinct().collect()}
        # mark in-flight BEFORE the frame writes: a crash mid-commit makes
        # the re-delivered urls suspicious on the next run
        catalog.append_keys(_key_rows(todo_urls, written), INFLIGHT)
        for t, df, page_col in frames:
            fresh = catalog.pending_inputs(df, t) if t in seen else df
            if t in tables:
                catalog.checkpoint_stage(fresh, t, page_col=page_col)
            else:
                catalog.append(fresh, t)
        catalog.append_keys(_key_rows(todo_urls, written), KEYS)
        if cleanup is not None:
            cleanup()
        return n_urls
    finally:
        # todo_urls first: it is built from in_urls' cache
        todo_urls.unpersist()
        in_urls.unpersist()
