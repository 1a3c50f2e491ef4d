"""Sequence packing — the concat-and-chunk layout LLM pretraining feeds:
documents are concatenated in a deterministic order and cut into
fixed-length token windows; a document may straddle a window boundary
(GPT-style packing with document splitting). This operator computes, for
every document, WHERE it lands in that layout — the metadata a packed-
dataset writer or an index-based loader needs — without materializing the
packed text.

Spark shape, fully relational (no UDFs, no driver loops):
  1. documents hash into ``num_buckets`` independent streams (a single
     global concatenation order would serialize the corpus through one
     window partition; per-bucket streams are the standard parallel
     packing layout, one output shard per bucket);
  2. within a bucket, a window cumsum over token counts in (id) order
     assigns each document its [start, end) token interval;
  3. pure arithmetic turns the interval into (start_seq, start_offset,
     end_seq) against the ``max_tokens`` window grid.

Determinism: bucket = xxhash64-free md5 bucket of the id (engine-
independent, like curation.assign_split), order within bucket = id — so
the layout is reproducible across engines and runs, and the DuckDB oracle
recomputes it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import token_counts


PACK_SALT = "pack"


def bucket_bounds(num_buckets: int) -> list[str]:
    """Upper bound (hex-threshold string) of each bucket's slice of the
    md5 space — the same engine-independent mechanism as
    curation.assign_split (DuckDB has no hex->int cast, string comparison
    works everywhere); the shared curation.hex_bound keeps the literal
    identical across all threshold operators."""
    from .curation import hex_bound

    return [hex_bound((i + 1) / num_buckets) for i in range(num_buckets)]


def _bucket_of(id_col: str, num_buckets: int):
    from .curation import salted_h8

    h8 = salted_h8(PACK_SALT, id_col)
    bounds = bucket_bounds(num_buckets)
    expr = None
    for i, ub in enumerate(bounds[:-1]):
        cond = h8 < F.lit(ub)
        expr = F.when(cond, i) if expr is None else expr.when(cond, i)
    last = num_buckets - 1
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return expr.cast("long").alias("bucket")


def bucket_sql(id_expr: str, num_buckets: int) -> str:
    """DuckDB twin of the bucket assignment (same literals)."""
    from .curation import salted_h8_sql

    h8 = salted_h8_sql(PACK_SALT, id_expr)
    bounds = bucket_bounds(num_buckets)
    whens = " ".join(
        f"WHEN {h8} < '{ub}' THEN {i}" for i, ub in enumerate(bounds[:-1])
    )
    if not whens:  # one bucket: a WHEN-less CASE is a DuckDB parse error
        return "CAST(0 AS BIGINT)"
    return f"CAST(CASE {whens} ELSE {num_buckets - 1} END AS BIGINT)"


def pack_sequences(
    docs: DataFrame,
    max_tokens: int = 2048,
    num_buckets: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document packed-layout assignment:

    (id, bucket, n_tokens, start_token, start_seq, start_offset, end_seq)

    where start_token is the document's offset in its bucket's
    concatenated token stream, start_seq/end_seq the first/last
    ``max_tokens`` windows it touches, and start_offset its position
    inside start_seq. Documents with zero tokens are dropped (nothing to
    pack). The cumsum window partitions by bucket — state is one running
    total per bucket, and each bucket is an independent shard, so the op
    scales by raising ``num_buckets``, never by a global sort."""
    # split('') yields [''] (one phantom token), so empty/whitespace-only
    # docs must be zeroed explicitly or they shift every later document's
    # offsets in the packed stream. rlike, NOT trim: Spark's trim strips
    # only ASCII spaces, so a newline/tab-only doc would slip through
    raw_toks = token_counts(F.col(text_col))["ws_tokens"]
    toks = F.when(F.col(text_col).rlike(r"^\s*$"), F.lit(0)) \
        .otherwise(raw_toks)
    sized = docs.select(
        F.col(id_col),
        _bucket_of(id_col, num_buckets),
        toks.cast("long").alias("n_tokens"),
    ).where(F.col("n_tokens") > 0)
    w = (
        Window.partitionBy("bucket").orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("n_tokens").over(w)
    start = (cum - F.col("n_tokens")).alias("start_token")
    return sized.select(
        id_col,
        "bucket",
        "n_tokens",
        start,
        F.floor((cum - F.col("n_tokens")) / max_tokens).cast("long")
        .alias("start_seq"),
        ((cum - F.col("n_tokens")) % max_tokens).cast("long")
        .alias("start_offset"),
        F.floor((cum - 1) / max_tokens).cast("long").alias("end_seq"),
    )
