"""Corpus profiling: per-key distinct counts and percentiles.

``profile_exact`` computes them exactly (a full shuffle of the grouped
values) and is DuckDB-checked (``__spark_entry__`` ``sketch_stats``). At
web scale the single-pass, mergeable sketch forms (HyperLogLog++ via
``approx_count_distinct``, Greenwald-Khanna via ``percentile_approx``)
replace the exact aggregates in the same ``groupBy``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_exact(df: DataFrame, key: str = "lang",
                  col: str = "n_chars") -> DataFrame:
    """Per-key exact profile: distinct values + interpolated p50/p90.
    Spark's ``percentile`` and DuckDB's ``quantile_cont`` share the linear
    interpolation definition — verified bit-identical."""
    return df.groupBy(key).agg(
        F.count_distinct(F.col(col)).alias("n_distinct"),
        F.expr(f"percentile({col}, 0.5)").alias("p50"),
        F.expr(f"percentile({col}, 0.9)").alias("p90"),
        F.count("*").alias("n_rows"),
    )
