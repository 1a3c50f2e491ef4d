"""Stage checkpointing, lineage and resume (SURVEY §4.2, north rule).

The north rule requires: every stage checkpoints to Iceberg with
lineage rows so a killed run resumes from the last committed snapshot.
``Catalog.checkpoint_stage`` commits a stage table in one data write plus
one ``<table>__lineage`` row per write (rows and on-disk bytes added).

This module is format-agnostic behind one ``Catalog`` helper:
  * Iceberg when the runtime jar + catalog are configured
    (``spark.sql.catalog.<name>`` present) — ``writeTo(...).append()``;
  * parquet-directory fallback otherwise (no Iceberg jar on the
    classpath) — same table semantics, append = new files.

Resume semantics mirror the reference's skip-existing incremental mode
(benchmarks/cli.py:318-323, SURVEY F8/U6), which is per input document:
``commit_pending`` is the one exactly-once committer, shared by the batch
job, the streaming ingest and the corpus build. It left-anti joins its
input urls against per-table url key rows that every caller shares and
processes only the remainder; those key rows, not the lineage, are the
exact per-url record of each batch.
"""

from __future__ import annotations

import glob
import os
import time
import uuid
from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

# one row per checkpoint_stage write
LINEAGE_SCHEMA = ("run_id string, rows_out long, bytes_out long, "
                  "wall_ms long, committed_ms long")


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

    def _files(self, table: str) -> list[str]:
        """A parquet-directory table's data files, one partition level
        deep (the key tables are partitioned by ``table``)."""
        root = self._path(table)
        return (glob.glob(os.path.join(root, "*.parquet")) +
                glob.glob(os.path.join(root, "*", "*.parquet")))

    def exists(self, table: str) -> bool:
        if self.iceberg:
            return self.spark.catalog.tableExists(f"{self.catalog_name}.{table}")
        return bool(self._files(table))

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
                         page_col: str | None = None) -> None:
        """Append ``df`` to ``table`` in one write, then one lineage row to
        ``<table>__lineage``: the rows that write added (observed on it)
        and the on-disk bytes of the files it added. A crash between the
        two appends leaves the run's lineage missing; resume keys off the
        data. ``page_col`` is unused; kept because perfbench passes it."""
        obs = Observation()
        before = set() if self.iceberg else set(self._files(table))
        t0 = time.monotonic()
        self.append(df.observe(obs, F.count(F.lit(1)).alias("rows")), table)
        wall_ms = int((time.monotonic() - t0) * 1000)
        # a pandas frame goes through Arrow: no Python worker job, and no
        # literal compiled into generated code per commit
        row = pd.DataFrame([(uuid.uuid4().hex[:12], obs.get["rows"],
                             self._bytes_added(table, before), wall_ms,
                             int(time.time() * 1000))])
        self.append(self.spark.createDataFrame(row, LINEAGE_SCHEMA),
                    f"{table}__lineage")

    def _bytes_added(self, table: str, before: set[str]) -> int:
        """Bytes of the files the last append to ``table`` added: the
        files not in ``before`` (parquet), or the ``added-files-size`` of
        the table's latest snapshot (Iceberg)."""
        if self.iceberg:
            return int(
                self.spark.read.table(f"{self.catalog_name}.{table}.snapshots")
                .orderBy(F.desc("committed_at"))
                .select(F.coalesce(F.col("summary")["added-files-size"],
                                   F.lit("0")))
                .first()[0])
        return sum(os.path.getsize(f) for f in self._files(table)
                   if f not in before)

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
    ``(table, df)`` pairs to commit, ``cleanup`` (or None) runs after
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
        written = [t for t, _ in frames]
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
        for t, df in frames:
            fresh = catalog.pending_inputs(df, t) if t in seen else df
            if t in tables:
                catalog.checkpoint_stage(fresh, t)
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
