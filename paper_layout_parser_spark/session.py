"""SparkSession factory with scale-oriented defaults.

Tuned for local[N] testing but written for a 1000-executor cluster:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
Arrow on (every UDF boundary is vectorized), UTC session timezone
(so DuckDB-oracle comparisons are stable), and a generated-code cache
large enough to hold a whole job's compiled classes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "paper-layout-parser-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to 2x the local cores — on a real
    cluster this should be sized to keep post-shuffle partitions in the
    100-500MB range; AQE coalesces the excess at runtime.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] -> parse N when possible; 'local[*]' -> cpu count
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        n = cpus if inner in ("", "*") else int(inner)
        shuffle_partitions = max(2 * n, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size bounds per-batch memory in mapInPandas stages
        # (pages carry binary payloads; keep batches modest).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # Spark caches 100 generated classes by default, fewer than one
        # extraction job (run_job plus evaluation) uses, so each repeat of
        # the job recompiled ~100 classes (~1 s) and ran them cold.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/plp_spark_warehouse"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

