"""Benchmark evaluation harness (SURVEY §3.3, J4/J5 + A8-A12).

Re-expresses benchmarks/caption_evaluator/evaluator.py:218-357 as native
DataFrame ops:

  * GT rows filtered at confidence >= 0.7 (evaluator.py:112-119,242);
  * for each GT item, the best-IoU prediction ON THE SAME PAGE across BOTH
    types (evaluator.py:154-189, predictions unioned at :245), matched iff
    IoU >= 0.5 — a Window argmax (row_number over desc(iou));
  * caption verdict (evaluator.py:191-216): both-null -> correct, one-null
    -> mismatch, both -> IoU >= 0.5;
  * tallies (evaluator.py:304-317): TP requires a non-null GT caption;
    wrong_match counts as FP *and* FN (the reference's documented
    double-count rule, encoded explicitly below);
  * precision/recall/F1 with zero-denominator guards (metrics.py:10-25);
  * per-type metrics + accuracy (evaluator.py:335-357) — note the per-type
    TP condition keys off the GT *caption_id*, not the bbox.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.geometry import iou, round_half_up

FIGURE_IOU_THRESHOLD = 0.5
CAPTION_IOU_THRESHOLD = 0.5
DEFAULT_CONFIDENCE_THRESHOLD = 0.7


def compare_matches(
    gt: DataFrame,
    predictions: DataFrame,
    confidence_threshold: float = DEFAULT_CONFIDENCE_THRESHOLD,
) -> DataFrame:
    """Per-GT-row comparison verdicts.

    ``gt`` columns: url, figure_id, figure_type, page_number,
        gt_x1..gt_y2, cap_id, gcap_x1..gcap_y2 (nullable), confidence.
    ``predictions``: the matcher output (url, item_type, item_id,
        page_number, item_x1..y2, cap_x1..y2 nullable).
    """
    gtf = gt.where(F.col("confidence") >= confidence_threshold)

    # item_seq (integer per-doc counter) orders exactly like the reference's
    # insertion order; the formatted item_id would sort "fig_100_x" before
    # "fig_20_x" once %02d widens. Derive it from the id only for callers
    # that feed external predictions without the counter column.
    seq = (
        F.col("item_seq") if "item_seq" in predictions.columns
        else F.get(F.split(F.col("item_id"), "_"), 2).cast("int")
    )
    pred = predictions.select(
        "url", "page_number", "item_type", "item_id", seq.alias("item_seq"),
        "item_x1", "item_y1", "item_x2", "item_y2",
        "cap_x1", "cap_y1", "cap_x2", "cap_y2",
    )

    fig_iou = iou(
        F.col("gt_x1"), F.col("gt_y1"), F.col("gt_x2"), F.col("gt_y2"),
        F.col("item_x1"), F.col("item_y1"), F.col("item_x2"), F.col("item_y2"),
    )

    paired = (
        gtf.join(pred, ["url", "page_number"], "left")
        .withColumn("figure_iou", F.coalesce(fig_iou, F.lit(0.0)))
    )
    # argmax per GT row; strictly-greater scan in the reference keeps the
    # earliest prediction on ties (list order: figures before tables, then
    # insertion order) — encode that tie-break explicitly, on the INTEGER
    # counter (candidates share the page via the equi-join, so within-page
    # item_seq order == detection order)
    # final item_id fallback only matters for external predictions whose ids
    # don't carry a parseable counter (item_seq NULL)
    w = Window.partitionBy("url", "figure_id").orderBy(
        F.desc("figure_iou"), F.asc("item_type"),
        F.asc_nulls_last("item_seq"), F.asc("item_id"),
    )
    best = (
        paired.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )

    matched = F.col("figure_iou") >= FIGURE_IOU_THRESHOLD
    pcap_present = matched & F.col("cap_x1").isNotNull()
    gcap_present = F.col("gcap_x1").isNotNull()

    cap_iou_val = iou(
        F.col("gcap_x1"), F.col("gcap_y1"), F.col("gcap_x2"), F.col("gcap_y2"),
        F.col("cap_x1"), F.col("cap_y1"), F.col("cap_x2"), F.col("cap_y2"),
    )
    caption_iou = (
        F.when(~gcap_present & ~pcap_present, F.lit(1.0))
        .when(gcap_present & pcap_present, cap_iou_val)
        .otherwise(F.lit(0.0))
    )
    is_correct = (
        F.when(~gcap_present & ~pcap_present, F.lit(True))
        .when(gcap_present & pcap_present, cap_iou_val >= CAPTION_IOU_THRESHOLD)
        .otherwise(F.lit(False))
    )
    error_type = F.when(is_correct, F.lit(None).cast("string")).otherwise(
        F.when(~gcap_present & pcap_present, F.lit("false_positive"))
        .when(gcap_present & ~pcap_present, F.lit("false_negative"))
        .otherwise(F.lit("wrong_match"))
    )

    return best.select(
        "url",
        "figure_id",
        "figure_type",
        "page_number",
        "cap_id",
        gcap_present.alias("gt_has_caption"),
        pcap_present.alias("pred_has_caption"),
        round_half_up(F.col("figure_iou"), 4).alias("figure_iou"),
        round_half_up(caption_iou, 4).alias("caption_iou"),
        is_correct.alias("is_correct"),
        error_type.alias("error_type"),
    )


def _with_metrics(counts: DataFrame) -> DataFrame:
    """Attach precision/recall/f1 (metrics.py:10-25). F1 is computed from the
    UNROUNDED precision/recall — the reference rounds only at serialization."""
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    precision = F.when(tp + fp > 0, tp / (tp + fp)).otherwise(F.lit(0.0))
    recall = F.when(tp + fn > 0, tp / (tp + fn)).otherwise(F.lit(0.0))
    with_raw = counts.withColumn("p_raw", precision).withColumn("r_raw", recall)
    p, r = F.col("p_raw"), F.col("r_raw")
    f1 = F.when(p + r > 0, 2 * p * r / (p + r)).otherwise(F.lit(0.0))
    return (
        with_raw.withColumn("precision", round_half_up(p, 4))
        .withColumn("recall", round_half_up(r, 4))
        .withColumn("f1", round_half_up(f1, 4))
        .drop("p_raw", "r_raw")
    )


def evaluation_summary(comparisons: DataFrame, per_url: bool = False) -> DataFrame:
    """Overall tallies + metrics — one row (A8 + A9), or one row per url
    (the per-document summaries that feed batch_rollup). TP requires a
    non-null GT caption bbox (evaluator.py:306-307); wrong_match
    double-counts."""
    grouped = comparisons.groupBy("url") if per_url else comparisons
    counts = grouped.agg(
        F.count(F.when(F.col("is_correct") & F.col("gt_has_caption"), 1)).alias("tp"),
        F.count(F.when(F.col("is_correct") & ~F.col("gt_has_caption"), 1))
        .alias("correct_no_caption"),
        F.count(
            F.when(F.col("error_type").isin("false_positive", "wrong_match"), 1)
        ).alias("fp"),
        F.count(
            F.when(F.col("error_type").isin("false_negative", "wrong_match"), 1)
        ).alias("fn"),
        F.count("*").alias("total"),
    )
    return _with_metrics(counts)


def per_type_metrics(comparisons: DataFrame) -> DataFrame:
    """Per figure_type metrics + accuracy (evaluator.py:335-357). Here TP is
    `is_correct AND ground_truth_caption (the id) is not null` — the
    reference's (subtly different) per-type condition."""
    counts = comparisons.groupBy("figure_type").agg(
        F.count(F.when(F.col("is_correct") & F.col("cap_id").isNotNull(), 1)).alias("tp"),
        F.count(F.when(F.col("error_type") == "false_positive", 1)).alias("fp"),
        F.count(F.when(F.col("error_type") == "false_negative", 1)).alias("fn"),
        F.count(F.when(F.col("is_correct"), 1)).alias("correct"),
        F.count("*").alias("total"),
    )
    return _with_metrics(counts).withColumn(
        "accuracy", round_half_up(F.col("correct") / F.col("total"), 4)
    )


def error_analysis(comparisons: DataFrame) -> DataFrame:
    """A12: error counts by type."""
    return (
        comparisons.where(~F.col("is_correct"))
        .groupBy("error_type")
        .agg(F.count("*").alias("n_errors"))
    )


def batch_rollup(per_doc_summaries: DataFrame) -> DataFrame:
    """A11 (overall): cross-document benchmark rollup (batch.py:134-213) —
    tp/fp/fn summed exactly over per-document evaluation summaries (input:
    evaluation_summary rows, one per document), metrics recomputed."""
    overall = per_doc_summaries.agg(
        F.count("*").alias("total_documents"),
        F.sum("tp").alias("tp"),
        F.sum("fp").alias("fp"),
        F.sum("fn").alias("fn"),
        F.sum("correct_no_caption").alias("correct_no_caption"),
        F.sum("total").alias("total_comparisons"),
    )
    return _with_metrics(overall)


def batch_per_type_rollup(per_doc_type_metrics: DataFrame) -> DataFrame:
    """A11 (per-type): replicates the reference's *documented lossy
    approximation* ``int(total * accuracy)`` (batch.py:169-180) — the
    reference reconstructs per-type correct-counts from each document's
    rounded accuracy instead of carrying exact counts; we reproduce the
    floor for parity."""
    return per_doc_type_metrics.groupBy("figure_type").agg(
        F.sum("total").alias("total"),
        F.sum(F.floor(F.col("total") * F.col("accuracy")).cast("long"))
        .alias("approx_correct"),
    ).withColumn(
        "approx_accuracy",
        round_half_up(
            F.when(F.col("total") > 0,
                   F.col("approx_correct") / F.col("total")).otherwise(F.lit(0.0)),
            4,
        ),
    )
