"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship end-to-end extraction (byte-identity surface).
``queries()`` — one entry per implemented operator from SURVEY.md §2 plus
the training-data-pipeline operators (dedup / similarity / text analysis).
``oracle_sql()`` — independent DuckDB implementations of the same queries
(the synthetic corpus is regenerated in pure SQL by
paper_layout_parser_spark.synthdata, so the comparison cross-checks two
implementations end to end, including the mapInPandas stages).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paper_layout_parser_spark import synthdata as sd
from paper_layout_parser_spark.corpus import build_ground_truth, build_pages
from paper_layout_parser_spark.functions import text as tfn
from paper_layout_parser_spark.operators import dedup as dd
from paper_layout_parser_spark.operators import similarity as sim
from paper_layout_parser_spark.operators.crop import StubCropCodec
from paper_layout_parser_spark.operators.evaluate import (
    compare_matches,
    evaluation_summary,
    per_type_metrics,
)
from paper_layout_parser_spark.operators.stats import (
    class_stats,
    extraction_stats,
    page_detection_counts,
    summary_report,
)
from paper_layout_parser_spark.plans.pipeline import run_pipeline

# ---------------------------------------------------------------------------
# pipeline cache: queries() callables share one pipeline run per sf_dir
# ---------------------------------------------------------------------------

_CACHE: dict[str, tuple] = {}


def _pipeline(spark: SparkSession, sf_dir: str) -> tuple:
    key = f"{id(spark)}:{sf_dir}"
    if key not in _CACHE:
        pages = build_pages(spark, sf_dir).persist()
        out = run_pipeline(pages, crop_codec_factory=StubCropCodec)
        out.matched = out.matched.persist()
        _CACHE[key] = (pages, out)
    return _CACHE[key]


def _spread(df: DataFrame) -> DataFrame:
    """Spread an under-partitioned scan across the cluster before heavy
    derived work. The driver parquet is a SINGLE row group -> one scan
    partition, and Spark's map-side work (shingle explode + minhash
    partial aggregation, cosine folds) inherits the scan's partitioning —
    measured at sf0.1: minhash signatures 6.7s -> 1.4s, full LSH 8.3s ->
    3.3s, exact Jaccard 8.1s -> 2.5s after the spread. A production
    corpus with many files/row groups passes through untouched (the
    repartition only fires when the scan is narrower than the cluster)."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        return df.repartition(parallelism)
    return df


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def _docs_with_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents plus re-keyed copies of every 10th doc (the driver corpus
    has no exact duplicates, so synthesize some deterministically)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    extra = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return d.unionByName(extra)


_DUPES_SQL = """
(SELECT doc_id, text FROM documents
 UNION ALL
 SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0)
"""


# ---------------------------------------------------------------------------
# extraction-pipeline queries (run the REAL pipeline: binary html ->
# mapInPandas rasterize -> detect -> native SQL downstream)
# ---------------------------------------------------------------------------

def q_page_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, out = _pipeline(spark, sf_dir)
    return page_detection_counts(out.enriched).select(
        "url", F.col("page_no").cast("long").alias("page_no"), "num_detections"
    )


def q_class_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, out = _pipeline(spark, sf_dir)
    return class_stats(out.enriched)


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, out = _pipeline(spark, sf_dir)
    return out.doc_stats.select(
        "url", F.col("total_pages").cast("long").alias("total_pages"),
        "total_detections", "average_detections_per_page",
    )


def q_summary_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, out = _pipeline(spark, sf_dir)
    return summary_report(out.doc_stats)


def q_caption_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, out = _pipeline(spark, sf_dir)
    return out.matched.select(
        "url", "item_type", "item_id",
        F.col("page_number").cast("long").alias("page_number"),
        "item_x1", "item_y1", "item_x2", "item_y2",
        "cap_x1", "cap_y1", "cap_x2", "cap_y2", "caption_text",
    )


def q_extraction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, out = _pipeline(spark, sf_dir)
    return extraction_stats(out.matched)


def q_doc_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, out = _pipeline(spark, sf_dir)
    return out.doc_text


def q_eval_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, out = _pipeline(spark, sf_dir)
    gt = build_ground_truth(out.matched)
    return evaluation_summary(compare_matches(gt, out.matched))


def q_eval_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, out = _pipeline(spark, sf_dir)
    gt = build_ground_truth(out.matched)
    return per_type_metrics(compare_matches(gt, out.matched))


# ---------------------------------------------------------------------------
# training-data-pipeline queries (documents / embeddings driver tables)
# ---------------------------------------------------------------------------

def q_error_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, out = _pipeline(spark, sf_dir)
    gt = build_ground_truth(out.matched)
    from paper_layout_parser_spark.operators.evaluate import error_analysis

    return error_analysis(compare_matches(gt, out.matched))


def q_batch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, out = _pipeline(spark, sf_dir)
    gt = build_ground_truth(out.matched)
    from paper_layout_parser_spark.operators.evaluate import batch_rollup

    per_doc = evaluation_summary(compare_matches(gt, out.matched), per_url=True)
    return batch_rollup(per_doc)


def q_label_studio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from paper_layout_parser_spark.operators.export import to_percent_coords

    _, out = _pipeline(spark, sf_dir)
    pct = to_percent_coords(out.matched)  # per-page width/height columns
    return pct.select(
        "url", "item_id", "item_type",
        F.col("page_number").cast("long").alias("page_number"),
        "x_pct", "y_pct", "w_pct", "h_pct",
        F.col("caption_region.x_pct").alias("cap_x_pct"),
        F.col("caption_region.y_pct").alias("cap_y_pct"),
        F.col("caption_region.w_pct").alias("cap_w_pct"),
        F.col("caption_region.h_pct").alias("cap_h_pct"),
    )


_NOISY_JSON = (
    "```json\n{\"doc\": %d, \"tag\": \"%s\", \"xs\": [1, 2,],}\n``` trailing prose"
)


def q_json_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-JSON repair chain (P11): noisy fenced JSON with trailing commas
    -> repaired -> field extraction. The noisy input is derived from the
    documents table identically in both engines."""
    from paper_layout_parser_spark.functions.json_repair import repair_json

    d = _docs(spark, sf_dir)
    raw = F.format_string(_NOISY_JSON, F.col("doc_id"), F.col("lang"))
    repaired = repair_json(raw)
    return d.select(
        "doc_id",
        F.get_json_object(repaired, "$.doc").cast("long").alias("parsed_doc"),
        F.get_json_object(repaired, "$.tag").alias("parsed_tag"),
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from paper_layout_parser_spark.streaming.ingest import sessionize_batch

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    # sum_value is dropped from the oracle-checked projection: double
    # summation order is engine-dependent (non-associative); the count and
    # session bounds are exact
    return sessionize_batch(events, gap_minutes=30).select(
        "user_id", "session_id", "session_start", "session_end", "n_events",
    )


def q_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from paper_layout_parser_spark.streaming.ingest import windowed_event_counts

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return windowed_event_counts(events, window="5 minutes").select(
        "window_start", "window_end", "event_type", "n_events",
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join (union + window, one shuffle) vs DuckDB's NATIVE ASOF
    JOIN — each click joined to the user's most recent purchase at or
    before it. The right side is pre-aggregated to unique (user, ts) so
    'the' as-of row is well-defined in both engines."""
    from paper_layout_parser_spark.operators.temporal import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    left = ev.where("event_type = 'click'").select(
        "event_id", "user_id", "ts", "value"
    )
    right = (
        ev.where("event_type = 'purchase'")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("r_value"), F.max("event_id").alias("r_id"))
    )
    out = asof_join(left, right, on=["user_id"], ts_col="ts")
    return out.select(
        "event_id", "user_id", "ts", "value",
        F.col("ts_r").alias("matched_ts"),
        F.col("r_value_r").alias("matched_value"),
        F.col("r_id_r").alias("matched_id"),
    )


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join via time buckets, LEFT variant: every error
    event assigned to the session containing it (sessions from the batch
    sessionizer restricted to click events, so some errors genuinely fall
    outside every interval and exercise the unmatched path). Oracle:
    DuckDB LEFT inequality join over the same session CTE. The inner
    variant is the matched subset (twin-tested in pytest)."""
    from paper_layout_parser_spark.operators.temporal import interval_join
    from paper_layout_parser_spark.streaming.ingest import sessionize_batch

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    sessions = sessionize_batch(
        ev.where("event_type = 'click'"), gap_minutes=30
    ).select(
        "user_id",
        F.col("session_start").cast("timestamp").alias("session_start"),
        F.col("session_end").cast("timestamp").alias("session_end"),
        "session_id",
    )
    errors = ev.where("event_type = 'error'").select("event_id", "user_id", "ts")
    out = interval_join(
        errors, sessions, on=["user_id"], ts_col="ts",
        start_col="session_start", end_col="session_end",
        bucket_seconds=1800, how="left",
    )
    return out.select("event_id", "user_id", "ts", "session_id",
                      "session_start", "session_end")


def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup: 5min/hour/day counts and
    an exact integer sum (props.k) — coarser grains re-aggregated from the
    finest, oracle vs three direct DuckDB aggregations."""
    from paper_layout_parser_spark.operators.temporal import time_rollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    k = F.from_json(F.col("props"), "struct<k: long>").getField("k")
    handles: list = []
    out = time_rollup(
        ev.withColumn("k", k), granularities=[300, 3600, 86400],
        keys=["event_type"], sum_col="k", level_handles=handles,
    )
    # materialize the (rollup-sized) result eagerly, then release the
    # cached level frames — nothing stays pinned in the cache manager
    # after this call, however the driver consumes the returned frame
    out = out.localCheckpoint(eager=True)
    for h in handles:
        h.unpersist()
    return out


def q_props_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4-style semi-structured ingestion: parse the events.props JSON
    column with an explicit schema and aggregate on the extracted field."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    k = F.from_json(F.col("props"), "struct<k: long>").getField("k")
    return events.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


def q_doc_result_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 surface, oracle-checked THROUGH the serialized artifact: the
    fields are extracted from the produced result_json string with
    get_json_object (a real JSON parse), so the oracle verifies both the
    statistics math and that the sink actually serializes it. Full-structure
    round-trip (from_json) is asserted in pytest."""
    from paper_layout_parser_spark.operators.stats import result_json

    _, out = _pipeline(spark, sf_dir)
    j = F.col("result_json")
    return result_json(out.enriched).select(
        "url",
        F.get_json_object(j, "$.total_pages").cast("long").alias("total_pages"),
        F.get_json_object(j, "$.statistics.total_detections").cast("long")
        .alias("total_detections"),
        F.get_json_object(j, "$.statistics.average_detections_per_page")
        .cast("double").alias("avg_det_per_page"),
        F.json_array_length(F.get_json_object(j, "$.pages")).cast("long")
        .alias("n_pages_serialized"),
        F.get_json_object(j, "$.model").alias("model"),
    )


def q_summary_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: the per-document array carried inside the summary report,
    flattened back to rows so the oracle can verify the array content."""
    from paper_layout_parser_spark.operators.report import summary_with_documents

    _, out = _pipeline(spark, sf_dir)
    s = summary_with_documents(out.doc_stats)
    return s.select(F.explode("documents").alias("d")).select(
        F.col("d.url").alias("url"),
        F.col("d.total_pages").cast("long").alias("total_pages"),
        F.col("d.total_detections").alias("total_detections"),
        F.col("d.average_detections_per_page").alias("average_detections_per_page"),
    )


def q_eval_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6 report sinks, oracle-checked THROUGH the serialized artifact
    (the doc_result_json pattern): every engine-independent number the
    JSON report carries — overall metrics, detailed counts, per-type F1s,
    the per-document array length — is extracted back from the produced
    report string with get_json_object, so the oracle verifies both the
    evaluation math and that the sink actually serializes it. The
    formatting-only surfaces (markdown layout, key order) stay covered by
    the golden-shape pytest against the reference's report structure."""
    from paper_layout_parser_spark.operators.report import build_reports

    _, out = _pipeline(spark, sf_dir)
    gt = build_ground_truth(out.matched)
    summary, js, md = build_reports(compare_matches(gt, out.matched))
    if not md:  # markdown render exercised; layout asserted in pytest
        raise ValueError("eval_report: empty markdown artifact")
    df = spark.createDataFrame([(js,)], "report_json string")
    j = F.col("report_json")

    def g(path: str):
        return F.get_json_object(j, path)

    return df.select(
        g("$.summary.total_documents").cast("long").alias("total_documents"),
        g("$.summary.successful_evaluations").cast("long")
        .alias("successful_evaluations"),
        g("$.summary.precision").cast("double").alias("precision"),
        g("$.summary.recall").cast("double").alias("recall"),
        g("$.summary.f1").cast("double").alias("f1"),
        g("$.detailed_counts.true_positives").cast("long").alias("tp"),
        g("$.detailed_counts.false_positives").cast("long").alias("fp"),
        g("$.detailed_counts.false_negatives").cast("long").alias("fn"),
        g("$.per_type_metrics.figure.f1").cast("double").alias("figure_f1"),
        g("$.per_type_metrics.table.f1").cast("double").alias("table_f1"),
        F.json_array_length(g("$.document_results")).cast("long")
        .alias("n_documents"),
    )


def q_crop_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full K4 crop-sink surface in one oracle-checked query: the
    padded+clamped crop rects in PDF coords (P5), the pixel rect the
    re-render rasterizes, AND the rendered crop's pixel dimensions — the
    fused stage renders each crop from the page it has open, clamped
    against that page's own rect, and every number that feeds and leaves
    the codec is pure geometry DuckDB recomputes. The crop binary itself
    is codec-specific — pytest asserts the stub codec's determinism
    instead."""
    _, out = _pipeline(spark, sf_dir)
    return out.crops.select(
        "url", "item_type", "item_id",
        F.col("page_number").cast("long").alias("page_number"),
        "pdf_x0", "pdf_y0", "pdf_x1", "pdf_y1",
        "px_x0", "px_y0", "px_x1", "px_y1",
        F.col("crop_w").cast("long").alias("crop_w"),
        F.col("crop_h").cast("long").alias("crop_h"),
        (F.length("crop") > 0).alias("rendered"),
    )


def q_page_overlays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 image sink, oracle-checked on its engine-independent projection:
    the painter RUNS (one real PNG per page; applyInPandas output is not
    prunable) and per-page box counts + decoded canvas dims are geometry
    DuckDB recomputes. PNG bytes are encoder-specific — pytest decodes them
    and checks painted pixels. Restricted to every 10th doc to keep the
    driver pass light."""
    from paper_layout_parser_spark.operators.visualization import (
        draw_spec,
        paint_overlays,
    )

    _, out = _pipeline(spark, sf_dir)
    doc_id = F.regexp_extract("url", r"([0-9]+)$", 1).cast("long")
    spec = draw_spec(out.enriched.where(doc_id % 10 == 0))
    ov = paint_overlays(spec)  # canvas sized per page
    return ov.select(
        "url", F.col("page_no").cast("long").alias("page_no"),
        F.col("n_boxes").cast("long").alias("n_boxes"),
        F.col("canvas_w").cast("long").alias("canvas_w"),
        F.col("canvas_h").cast("long").alias("canvas_h"),
        (F.length(F.col("overlay_png")) > 0).alias("rendered"),
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_dedup(_docs_with_dupes(spark, sf_dir))


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise n-gram Jaccard — deliberately the QUADRATIC ORACLE,
    not the production near-dup path. Its shingle self-join explodes
    with the square of any hot shingle's document count, so it is not
    100x-safe and is not meant to be: it exists as the ground truth
    that the scale path (dedup_minhash_lsh: banded, per-bucket-capped,
    recall-bounded against THIS query by pytest) is measured against.
    Run it on samples/fixtures; run dedup_minhash_lsh on the corpus.
    Capping this query's pair explosion would make the exact oracle
    approximate — then nothing in the suite would be ground truth."""
    return dd.jaccard_pairs(_docs(spark, sf_dir), threshold=0.3)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs with the engine-portable md5 hash family:
    the DuckDB oracle recomputes every signature, band bucket, capped
    candidate, and verified Jaccard bit-for-bit (same plan as the fast
    xxhash64 production family, which pytest recall-bounds vs jaccard)."""
    return dd.minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.5,
                                hash_family="md5")


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded Hamming pairs with the engine-portable md5 token
    hashes (two 32-bit halves of the digest) — oracle-checked bit-for-bit;
    the xxhash64 production family shares the plan and is twin-tested."""
    return dd.simhash_pairs(
        _docs(spark, sf_dir), max_hamming=3, hash_family="md5"
    ).select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 25 == 0)
    return sim.brute_force_topk(emb, queries, k=10).select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cos"
    )


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH approximate top-k. Approximate vs brute force (pytest
    measures recall), but fully DETERMINISTIC given the seeded hyperplane
    table — the oracle re-derives the same +/-1 plane literals, recomputes
    every signature bit (list_dot_product accumulates identically to the
    Spark fold — verified exact), and reproduces bucket join + cap +
    re-rank bit-for-bit."""
    emb = _embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 25 == 0)
    return sim.lsh_topk(emb, queries, k=10).select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"),
        "cos",
    )


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k, oracle-checked TRAINING INCLUDED: with
    init_hash='md5' the init set is md5-ordered (engine-portable, like the
    MinHash/SimHash md5 families) and the mean updates aggregate
    scaled-integer element sums (associative -> partition-order
    independent), so the DuckDB oracle replays the identical Lloyd
    iterations as unrolled CTEs and reproduces centroids, inverted-list
    assignment, probe selection, and the re-ranked top-k bit-for-bit
    (_ann_ivf_sql). pytest additionally measures recall vs brute force and
    that full-probe == exact."""
    emb = _embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 25 == 0)
    return sim.ivf_topk(emb, queries, k=10, init_hash="md5").select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"),
        "cos",
    )


def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.cosine_neardup_pairs(_embeddings(spark, sf_dir), threshold=0.4)


def q_embed_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-banded embedding near-dup pairs — deterministic given the seeded
    plane table, so the oracle reproduces candidates and verified cosines
    bit-for-bit (see q_ann_lsh); pytest additionally measures recall and
    asserts precision 1.0 vs the exact twin."""
    return sim.cosine_neardup_lsh(_embeddings(spark, sf_dir), threshold=0.4)


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate clustering: exact-Jaccard pairs -> connected
    components (iterative label propagation + pointer jumping) -> one
    cluster id (min member) per document. Oracle: DuckDB recursive CTE
    over the same pair set — two INDEPENDENT transitive-closure
    implementations must agree."""
    d = _docs(spark, sf_dir)
    pairs = dd.jaccard_pairs(d, threshold=0.3).select("id_a", "id_b")
    return dd.duplicate_clusters(pairs, docs=d.select("doc_id"))


def q_dup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION dedup composition: MinHash+LSH candidate pairs (the
    O(docs x bands) scale path) -> transitive connected components -> one
    representative per cluster. With the md5 hash family the whole chain
    is engine-portable: the oracle recomputes the LSH pairs bit-for-bit
    and closes them with a recursive CTE — two independent
    transitive-closure implementations over two independently-derived pair
    sets must agree. pytest additionally measures cluster-level recall of
    the xxhash64 production family vs the exact-Jaccard clustering."""
    d = _docs(spark, sf_dir)
    pairs = dd.minhash_lsh_pairs(d, threshold=0.5,
                                 hash_family="md5").select("id_a", "id_b")
    return dd.duplicate_clusters(pairs, docs=d.select("doc_id"))


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination: every 50th doc plays the benchmark/eval
    corpus; training docs sharing any 3-gram with it are flagged."""
    d = _docs(spark, sf_dir)
    bench = d.where(F.col("doc_id") % 50 == 0)
    return dd.decontaminate(d, bench, n=3).select("doc_id", "contaminated")


def q_url_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (web-corpus hygiene): noisy urls derived from
    the documents table identically in both engines, canonicalized with
    native parse_url ops vs the oracle's regexp twin."""
    from paper_layout_parser_spark.functions.url import canonical_url, url_host

    d = _docs(spark, sf_dir)
    noisy = F.format_string(
        _NOISY_URL, (F.col("doc_id") % 7).cast("int"), F.col("doc_id"),
        F.col("doc_id"),
    )
    return d.select(
        "doc_id",
        url_host(noisy).alias("host"),
        canonical_url(noisy).alias("canonical"),
    )


_NOISY_URL = "HTTP://H%d.Example.org:80/Path/%d/?utm_source=x&id=%d&utm_medium=y#frag"


_PII_SUFFIX = " contact user%d@mail-%d.example.com or +1555%07d at 10.0.%d.%d"


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: deterministic fake PII appended to each document in BOTH
    engines, then counted and redacted; the redacted text rides as an md5
    so the full scrub output is value-compared without shipping megabytes."""
    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    noisy = F.concat(
        F.col("text"),
        F.format_string(_PII_SUFFIX, did, did % 100, did,
                        (did % 250).cast("int"), ((did * 7) % 250).cast("int")),
    )
    counts = tfn.pii_counts(noisy)
    return d.select(
        "doc_id",
        counts["n_email"].cast("long").alias("n_email"),
        counts["n_ipv4"].cast("long").alias("n_ipv4"),
        counts["n_phone"].cast("long").alias("n_phone"),
        F.md5(tfn.redact_pii(noisy)).alias("redacted_md5"),
    )


_BOILER_SUFFIX = (
    "\nShare on Facebook\nSubscribe to our newsletter\nCookie notice "
)


def _noisy_lines(d: DataFrame) -> DataFrame:
    """Deterministic multi-line variant of the documents table, identical
    in both engines: two corpus-wide boilerplate lines, a semi-common
    cookie line (5 variants), and a doc-unique reference line."""
    did = F.col("doc_id")
    noisy = F.concat(
        F.col("text"),
        F.lit(_BOILER_SUFFIX), (did % 5).cast("string"),
        F.lit("\nRef doc "), did.cast("string"),
    )
    return d.select("doc_id", noisy.alias("text"))


_NOISY_LINES_SQL = (
    "SELECT doc_id, text || chr(10) || 'Share on Facebook' || chr(10) || "
    "'Subscribe to our newsletter' || chr(10) || 'Cookie notice ' || "
    "(doc_id % 5) || chr(10) || 'Ref doc ' || doc_id AS t FROM documents"
)


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate-line removal (the C4/CCNet rule): lines
    occurring verbatim more than max_occurrences times across the corpus
    are dropped from every document. The planted boilerplate (corpus-wide
    + 5-variant cookie notices) must vanish; the unique content and
    reference lines must survive byte-identically (md5-compared)."""
    cleaned = dd.dedup_lines(_noisy_lines(_docs(spark, sf_dir)),
                             max_occurrences=10)
    return cleaned.select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        F.col("n_lines_kept").cast("long").alias("n_lines_kept"),
        F.col("n_lines_dropped").cast("long").alias("n_lines_dropped"),
    )


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: within-doc duplicate-line fraction
    (native column math) + the characters covered by the most frequent
    word 2-gram (relational argmax)."""
    from paper_layout_parser_spark.operators.curation import (
        top_ngram_char_fraction,
    )

    noisy = _noisy_lines(_docs(spark, sf_dir))
    feats = tfn.line_repetition_features(F.col("text"))
    base = noisy.select(
        "doc_id",
        feats["n_lines"].cast("long").alias("n_lines"),
        feats["dup_line_fraction"].alias("dup_line_fraction"),
    )
    top = top_ngram_char_fraction(noisy, n=2).select(
        "doc_id", "top_ngram",
        F.col("top_ngram_count").cast("long").alias("top_ngram_count"),
        "top_ngram_char_fraction",
    )
    return base.join(top, "doc_id")


_SAMPLE_FRACTIONS = {"en": 0.5, "de": 0.25}


def q_split_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment PLUS per-language
    downsampling survival, one scan (r7: the former separate `split`
    and `sample` registry entries — both pure projections of the same
    md5 hex-threshold mechanism over the same table — merged to free a
    registry slot for span_dedup, the token_count->quality pattern).
    No RNG, engine-independent, oracle-checked bit-for-bit; `sampled`
    comes from curation.sample_predicate, the SAME Column
    stratified_sample filters on."""
    from paper_layout_parser_spark.operators.curation import (
        assign_split,
        sample_predicate,
    )

    d = _docs(spark, sf_dir).select("doc_id", "lang")
    return assign_split(d).withColumn(
        "sampled",
        sample_predicate(_SAMPLE_FRACTIONS, by="lang",
                         default_fraction=0.75),
    ).select("doc_id", "lang", "split", "sampled")


def q_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (concat-and-chunk layout): every document's
    position in per-bucket fixed-length token windows — relational window
    cumsum, deterministic bucketing, oracle-checked bit-for-bit."""
    from paper_layout_parser_spark.operators.packing import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), max_tokens=256, num_buckets=8)


# boilerplate sentence planted into every third document so the graded
# span_dedup query exercises a real cross-document duplicated span on
# the otherwise-unique synthetic corpus (the q_corpus_filter pattern of
# deriving fixture structure from doc_id); 9 words, so n=8 windows fit
_SPAN_PLANT = "please subscribe to our newsletter today for free updates"


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicate-SPAN removal (the Lee-et-al exact-substring
    -dedup analog, word-level): every token covered by an 8-word window
    occurring >=2 times across the corpus is cut; touched documents
    reassemble single-spaced, untouched documents pass through
    byte-identical (r7 contract). Oracle recomputes windows/coverage/
    reassembly from scratch on the gram STRINGS (the Spark side keys on
    xxhash64 of the gram — the oracle also proves no collision fired)."""
    from paper_layout_parser_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    # text IS NOT NULL guard: Spark's concat NULL-propagates but
    # DuckDB's concat SKIPS NULL arguments, so an unguarded CASE would
    # plant the span into NULL-text documents on the oracle side only
    # (latent — the sf corpora have no NULL text — but the operator's
    # contract supports it; r7 review finding)
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(
            "CASE WHEN doc_id % 3 = 0 AND text IS NOT NULL "
            f"THEN concat(text, ' ', '{_SPAN_PLANT}') "
            "ELSE text END"
        ).alias("text"),
    )
    return remove_duplicate_spans(d, n=8, min_count=2).select(
        "doc_id", "deduped_text", "n_tokens_removed"
    )


def q_sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-lang profile (distinct + interpolated percentiles)."""
    from paper_layout_parser_spark.operators.sketches import profile_exact

    return profile_exact(_docs(spark, sf_dir))


def q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation funnel (lang -> quality -> dup -> decontam)
    with per-document drop reasons — every rule's oracle twin is composed
    into one independent SQL plan."""
    from paper_layout_parser_spark.operators.curation import clean_corpus

    d = _docs(spark, sf_dir)
    bench = d.where(F.col("doc_id") % 50 == 0)
    return clean_corpus(d, benchmark=bench, lang="en", min_quality=0.5)


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id", tfn.predicted_lang(tfn.words(F.col("text"))).alias("pred_lang")
    )


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features + token counts in one projection — both are tiny
    column-math surfaces over the same documents scan, merged in round 6
    to free a registry slot for the round-5 curation operators (the
    driver gate records at most 50 queries)."""
    d = _docs(spark, sf_dir)
    feats = tfn.quality_features(F.col("text"))
    counts = tfn.token_counts(F.col("text"))
    out = d.select(
        "doc_id",
        F.col("n_chars").alias("meta_n_chars"),
        *[v.alias(k) for k, v in feats.items()],
        counts["ws_tokens"].cast("long").alias("ws_tokens"),
        counts["re_tokens"].cast("long").alias("re_tokens"),
    )
    return out.withColumn(
        "quality_score",
        tfn.score_from_features(
            F.col("stopword_ratio"), F.col("alpha_ratio"), F.col("punct_ratio")
        ),
    ).drop("meta_n_chars")


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    sh = tfn.shingles(tfn.words(F.col("text")), 3)
    return d.select(
        "doc_id",
        F.md5(F.col("text")).alias("full_md5"),
        F.array_min(F.transform(sh, lambda s: F.md5(s))).alias("min_shingle_md5"),
    )


# The synthetic documents table has no URL column; derive one
# deterministically from (source, doc_id) so the host parse is genuinely
# exercised — ONE expression string shared verbatim by Spark's F.expr and
# the DuckDB oracle (the salted_h8 lesson: portability-critical literals
# get exactly one home).
_HOSTCAP_URL = ("concat('https://', source, '.example.org/doc/', "
                "CAST(doc_id AS STRING))")
_HOSTCAP_CAP = 3


def q_host_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host document cap (the RefinedWeb/FineWeb per-domain guard,
    curation.cap_per_host): deterministic md5-ranked survivors, host
    parsed from the url. Seated in round 6 in place of the permanently
    oracle-less sketch_stats_approx so the driver gate witnesses the
    round-5 curation operators (VERDICT r5 ask #1)."""
    from paper_layout_parser_spark.functions.url import url_host
    from paper_layout_parser_spark.operators.curation import cap_per_host

    d = _docs(spark, sf_dir).withColumn("url", F.expr(_HOSTCAP_URL))
    out = cap_per_host(d, _HOSTCAP_CAP, url_col="url", id_col="doc_id")
    return out.select(
        "doc_id", url_host(F.col("url")).alias("host")
    )


# Literal public-suffix fixture (with_registrable_domain takes literal
# suffixes only — see its docstring): multi-label suffixes shadow their
# single-label tails so longest-match is genuinely exercised.
_PSL_FIXTURE = ("com", "org", "uk", "co.uk", "io", "github.io")

# Host shapes: 2-label, 3-label under a 2-label suffix, 4-label under a
# 2-label suffix, a host matching NO suffix, and a bare-suffix host (the
# last two must yield NULL domains). Shared Spark/DuckDB expression.
_RD_HOST = (
    "CASE CAST(doc_id % 5 AS INT) "
    "WHEN 0 THEN concat('w', CAST(doc_id % 7 AS STRING), '.', source, "
    "'.co.uk') "
    "WHEN 1 THEN concat(source, '.com') "
    "WHEN 2 THEN concat('a.b.', source, '.github.io') "
    "WHEN 3 THEN 'intranet-host' "
    "ELSE 'com' END"
)


def q_registrable_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registrable domain / eTLD+1 annotation (curation.
    with_registrable_domain): DISTINCT hosts explode into trailing-suffix
    candidates, broadcast-join the suffix table, longest match + one
    label. The DuckDB twin derives the same answer via an INDEPENDENT
    formulation (ends_with against every suffix) — same results from
    different plans is the point of the oracle."""
    from paper_layout_parser_spark.operators.curation import (
        with_registrable_domain,
    )

    d = _docs(spark, sf_dir).select("doc_id", F.expr(_RD_HOST).alias("host"))
    sx = spark.createDataFrame([(s,) for s in _PSL_FIXTURE], "suffix string")
    return with_registrable_domain(d, sx, host_col="host", out_col="domain")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline on sf0.001 — per-url document text
    (byte-identity surface) joined with per-doc stats."""
    sf_dir = "/root/testdata/sf0.001"
    _, out = _pipeline(spark, sf_dir)
    return out.doc_text.join(out.doc_stats, "url")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry contract: EXACTLY 50 entries, every one oracle-checked —
    the driver's correctness gate records at most 50 queries in dict
    order (round 3 silently dropped the 51st). Round-6 rotation
    (VERDICT r5 ask #1): sketch_stats_approx retired (permanently
    no_oracle — sketch internals are engine-specific; its error bound
    vs the exact twin stays in tests/test_trainingdata.py) and
    token_count merged into quality (two tiny projections over the same
    scan), freeing two slots for the round-5 curation operators
    host_cap and registrable_domain."""
    return {
        # --- extraction pipeline (oracle-checked) ---
        "page_stats": q_page_stats,
        "class_stats": q_class_stats,
        "doc_stats": q_doc_stats,
        "summary_report": q_summary_report,
        "caption_match": q_caption_match,
        "extraction_stats": q_extraction_stats,
        "doc_text": q_doc_text,
        "eval_summary": q_eval_summary,
        "eval_per_type": q_eval_per_type,
        "error_analysis": q_error_analysis,
        "batch_rollup": q_batch_rollup,
        "eval_report": q_eval_report,
        "label_studio": q_label_studio,
        "json_repair": q_json_repair,
        "doc_result_json": q_doc_result_json,
        "summary_documents": q_summary_documents,
        "crop_render": q_crop_render,
        "page_overlays": q_page_overlays,
        # --- events / temporal (oracle-checked) ---
        "sessionize": q_sessionize,
        "event_windows": q_event_windows,
        "asof_join": q_asof_join,
        "interval_join": q_interval_join,
        "time_rollup": q_time_rollup,
        "props_parse": q_props_parse,
        # --- training-data ops (oracle-checked) ---
        "dedup_exact": q_dedup_exact,
        "dedup_jaccard": q_dedup_jaccard,
        "dup_clusters": q_dup_clusters,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dup_clusters_lsh": q_dup_clusters_lsh,
        "simhash_pairs": q_simhash_pairs,
        "ann_topk": q_ann_topk,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "embed_neardup": q_embed_neardup,
        "embed_neardup_lsh": q_embed_neardup_lsh,
        "decontaminate": q_decontaminate,
        "line_dedup": q_line_dedup,
        "repetition": q_repetition,
        "split_sample": q_split_sample,
        "span_dedup": q_span_dedup,
        "pack": q_pack,
        "url_canon": q_url_canon,
        "pii_redact": q_pii_redact,
        "corpus_filter": q_corpus_filter,
        "sketch_stats": q_sketch_stats,
        "lang_id": q_lang_id,
        "quality": q_quality,
        "fingerprint": q_fingerprint,
        "host_cap": q_host_cap,
        "registrable_domain": q_registrable_domain,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_RH4 = lambda e: sd.sql_round_half_up(e, 4)  # noqa: E731
_RH6 = lambda e: sd.sql_round_half_up(e, 6)  # noqa: E731

# trim(text, ' '): DuckDB's default trim strips UNICODE whitespace
# (NBSP included) while Spark's F.trim strips ASCII space only — an
# NBSP-leading document tokenizes differently unless the oracle pins
# the trim set to the single space character (r8 fingerprint fuzz).
_W = f"string_split_regex(trim(text, ' '), '{tfn.WS_SPLIT}')"
_SHINGLES = tfn.shingles_sql("w", 3)


def _lang_sql() -> str:
    score_exprs = []
    for lang, markers in tfn.LANG_MARKERS.items():
        hits = " + ".join(
            f"len(list_filter(w, x -> x = '{m}'))" for m in markers
        )
        score_exprs.append(f"({hits}) AS s_{lang}")
    langs = sorted(tfn.LANG_MARKERS)
    best = "GREATEST(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    pick = "'und'"
    for lg in sorted(langs, reverse=True):
        pick = f"CASE WHEN s_{lg} = best THEN '{lg}' ELSE {pick} END"
    return f"""
WITH d AS (SELECT doc_id, {_W} AS w FROM documents),
s AS (SELECT doc_id, {', '.join(score_exprs)} FROM d),
b AS (SELECT *, {best} AS best FROM s)
SELECT doc_id, CASE WHEN best > 0 THEN {pick} ELSE 'und' END AS pred_lang FROM b"""


def _quality_sql() -> str:
    return f"""
WITH d AS (
  SELECT doc_id, text, {_W} AS w,
         length(text) AS n_chars,
         len({_W}) AS n_words,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
         length(regexp_replace(text, '[A-Za-z0-9{tfn.WS_IN_CLASS}]', '', 'g')) AS n_punct
  FROM documents
),
f AS (
  SELECT doc_id, n_chars, n_words,
         len(w) AS ws_tokens,
         len(regexp_extract_all(text, '{tfn.BPE_ISH}')) AS re_tokens,
         {_RH4('(n_chars - (n_words - 1)) / (CASE WHEN n_words > 0 THEN n_words ELSE 1 END)')} AS avg_word_len,
         {_RH4('n_alpha / (CASE WHEN n_chars > 0 THEN n_chars ELSE 1 END)')} AS alpha_ratio,
         {_RH4('n_punct / (CASE WHEN n_chars > 0 THEN n_chars ELSE 1 END)')} AS punct_ratio,
         {_RH4('(' + ' + '.join(f"len(list_filter(w, x -> x = '{sw}'))" for sw in tfn.STOPWORDS) + ') / (CASE WHEN n_words > 0 THEN n_words ELSE 1 END)')} AS stopword_ratio
  FROM d
)
SELECT doc_id, n_chars, n_words, avg_word_len, alpha_ratio, punct_ratio,
       stopword_ratio, ws_tokens, re_tokens,
       {_RH4('LEAST(stopword_ratio * 4, 1.0) * 0.4 + alpha_ratio * 0.4 + (1 - LEAST(punct_ratio * 5, 1.0)) * 0.2')} AS quality_score
FROM f"""


def _jaccard_sql(threshold: float = 0.3) -> str:
    return f"""
WITH docs AS (SELECT doc_id, {_W} AS w FROM documents),
sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM docs),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS m
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       {_RH6('m::DOUBLE / (ca.n + cb.n - m)')} AS jaccard
FROM inter
JOIN cnt ca ON ca.doc_id = id_a
JOIN cnt cb ON cb.doc_id = id_b
WHERE m::DOUBLE / (ca.n + cb.n - m) >= {threshold}"""


_COS = ("list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])) / "
        "(sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[]))) * "
        "sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))))")


def _ann_sql() -> str:
    cos = _COS.format(a="q.qv", b="c.cv")
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 25 = 0),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id, {cos} AS cos
  FROM q, c WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id,
       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank,
       {_RH6('cos')} AS cos
FROM scored
QUALIFY rank <= 10"""


def _neardup_sql(threshold: float = 0.4) -> str:
    cos = _COS.format(a="a.embedding", b="b.embedding")
    return f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_RH6(cos)} AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {cos} >= {threshold}"""


def _pct_sql(expr: str, total: str) -> str:
    return sd.sql_round_half_up(f"({expr}) / {total} * 100.0", 2)


def _label_studio_sql() -> str:
    # percentages are relative to each page's OWN pixel size (page_w/page_h
    # columns on the matched CTE), mirroring to_percent_coords' default
    return f"""WITH {sd.matched_items_cte('documents')}
SELECT url, item_id, item_type, p AS page_number,
       {_pct_sql('item_x1', 'page_w')} AS x_pct,
       {_pct_sql('item_y1', 'page_h')} AS y_pct,
       {_pct_sql('item_x2 - item_x1', 'page_w')} AS w_pct,
       {_pct_sql('item_y2 - item_y1', 'page_h')} AS h_pct,
       {_pct_sql('cap_x1', 'page_w')} AS cap_x_pct,
       {_pct_sql('cap_y1', 'page_h')} AS cap_y_pct,
       {_pct_sql('cap_x2 - cap_x1', 'page_w')} AS cap_w_pct,
       {_pct_sql('cap_y2 - cap_y1', 'page_h')} AS cap_h_pct
FROM matched"""


def _crop_rect_sql(dpi: float = 200.0, padding: float = 10.0) -> str:
    """The eight crop-rect columns over item_x1..item_y2 and page_w/page_h
    — the expression shapes mirror algorithms.crop_rect term-for-term so
    doubles are bit-identical; the clamp rect comes from each page's OWN
    dims."""
    pad = f"{padding} * 72.0 / {dpi}"
    x0 = f"GREATEST(0.0, item_x1 * 72.0 / {dpi} - {pad})"
    y0 = f"GREATEST(0.0, item_y1 * 72.0 / {dpi} - {pad})"
    x1 = f"LEAST(page_w * 72.0 / {dpi}, item_x2 * 72.0 / {dpi} + {pad})"
    y1 = f"LEAST(page_h * 72.0 / {dpi}, item_y2 * 72.0 / {dpi} + {pad})"
    px = lambda e: sd.sql_round_half_up(f"({e}) * {dpi} / 72.0", 2)  # noqa: E731
    return f"""{sd.sql_round_half_up(x0, 4)} AS pdf_x0,
       {sd.sql_round_half_up(y0, 4)} AS pdf_y0,
       {sd.sql_round_half_up(x1, 4)} AS pdf_x1,
       {sd.sql_round_half_up(y1, 4)} AS pdf_y1,
       {px(x0)} AS px_x0,
       {px(y0)} AS px_y0,
       {px(x1)} AS px_x1,
       {px(y1)} AS px_y1"""


def _crop_sql() -> str:
    """Bounds CTE shared by the crop_render oracle: each matched item's
    crop rect on its own page."""
    return f"""WITH {sd.matched_items_cte('documents')}
SELECT url, item_type, item_id, p AS page_number,
       {_crop_rect_sql()}
FROM matched"""


def _crop_render_sql() -> str:
    """Oracle for q_crop_render's engine-independent projection — the full
    K4 surface: the padded+clamped PDF rect, the pixel rect the re-render
    rasterizes, and the crop's pixel dims (int-truncated — floor, values
    non-negative — deltas of the same rounded px rect)."""
    return f"""
SELECT url, item_type, item_id, page_number,
       pdf_x0, pdf_y0, pdf_x1, pdf_y1,
       px_x0, px_y0, px_x1, px_y1,
       GREATEST(0, CAST(floor(px_x1 - px_x0) AS BIGINT)) AS crop_w,
       GREATEST(0, CAST(floor(px_y1 - px_y0) AS BIGINT)) AS crop_h,
       TRUE AS rendered
FROM ({_crop_sql()})"""


def _eval_report_sql() -> str:
    """Oracle for q_eval_report: recompute every engine-independent number
    the serialized report carries — the batch-rollup overall metrics (same
    formulas as the green batch_rollup oracle), the per-type F1s (same
    formulas as the green eval_per_type oracle, pivoted), and the
    per-document array length."""
    cmp_cte = sd._comparisons_cte("documents")
    pt = sd.per_type_metrics_sql("documents")
    f1 = ("CASE WHEN p_raw + r_raw > 0 "
          "THEN 2 * p_raw * r_raw / (p_raw + r_raw) ELSE 0.0 END")
    return f"""WITH {cmp_cte},
per_doc AS (
  SELECT url,
         count(*) FILTER (is_correct AND gt_has_caption) AS tp,
         count(*) FILTER (error_type IN ('false_positive', 'wrong_match')) AS fp,
         count(*) FILTER (error_type IN ('false_negative', 'wrong_match')) AS fn
  FROM cmp GROUP BY url
),
tot AS (
  SELECT count(*) AS total_documents,
         CAST(sum(tp) AS BIGINT) AS tp, CAST(sum(fp) AS BIGINT) AS fp,
         CAST(sum(fn) AS BIGINT) AS fn
  FROM per_doc
),
m AS (SELECT *,
        CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) ELSE 0.0 END AS p_raw,
        CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) ELSE 0.0 END AS r_raw
      FROM tot),
pt AS (SELECT figure_type, f1 FROM ({pt}))
SELECT total_documents,
       total_documents AS successful_evaluations,
       {sd.sql_round_half_up('p_raw', 4)} AS precision,
       {sd.sql_round_half_up('r_raw', 4)} AS recall,
       {sd.sql_round_half_up(f1, 4)} AS f1,
       tp, fp, fn,
       COALESCE((SELECT f1 FROM pt WHERE figure_type = 'figure'), 0.0) AS figure_f1,
       COALESCE((SELECT f1 FROM pt WHERE figure_type = 'table'), 0.0) AS table_f1,
       total_documents AS n_documents
FROM m"""


def _minhash_cands_cte(num_hashes: int = 32, bands: int = 8,
                       max_bucket: int = 256) -> str:
    """CTE chain ending in ``cands``/``cnt``/``inter`` — the md5-family
    MinHash+LSH candidate pipeline, mirroring dedup.minhash_signatures /
    minhash_lsh_pairs(hash_family='md5') stage for stage: per-shingle md5
    prefixes -> min-aggregated string signatures -> per-band md5 buckets ->
    deterministic bucket cap -> in-bucket candidate pairs; plus the exact
    shingle-count tables the verification step needs."""
    rows = num_hashes // bands
    sig_aggs = ",\n  ".join(
        f"min(substr(md5('{i}:' || s), 1, 16)) AS sig_{i}"
        for i in range(num_hashes)
    )
    bucket_exprs = ",\n  ".join(
        "md5(" + " || '|' || ".join(f"sig_{b * rows + r}" for r in range(rows))
        + f") AS bk{b}"
        for b in range(bands)
    )
    banded_union = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, bk{b} AS bucket FROM bk"
        for b in range(bands)
    )
    return f"""docs0 AS (SELECT doc_id, {_W} AS w FROM documents),
sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM docs0),
sigs AS (SELECT doc_id, {sig_aggs} FROM sh GROUP BY doc_id),
bk AS (SELECT doc_id, {bucket_exprs} FROM sigs),
banded AS ({banded_union}),
capped AS (SELECT * FROM banded
           QUALIFY row_number() OVER (PARTITION BY band, bucket
                                      ORDER BY doc_id) <= {max_bucket}),
cands AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
          FROM capped x JOIN capped y
            ON x.band = y.band AND x.bucket = y.bucket
           AND x.doc_id < y.doc_id),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS m
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2)"""


def _minhash_lsh_sql(threshold: float = 0.5) -> str:
    jacc = "i.m::DOUBLE / (ca.n + cb.n - i.m)"
    return f"""
WITH {_minhash_cands_cte()}
SELECT c.id_a, c.id_b, {_RH6(jacc)} AS jaccard
FROM cands c
JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
JOIN cnt ca ON ca.doc_id = c.id_a
JOIN cnt cb ON cb.doc_id = c.id_b
WHERE {jacc} >= {threshold}"""


def _dup_clusters_lsh_sql(threshold: float = 0.5) -> str:
    """Recursive-CTE transitive closure over the md5-LSH verified pairs —
    the oracle twin of minhash_lsh_pairs(md5) -> duplicate_clusters."""
    jacc = "i.m::DOUBLE / (ca.n + cb.n - i.m)"
    return f"""
WITH RECURSIVE {_minhash_cands_cte()},
pairs AS (
  SELECT c.id_a, c.id_b FROM cands c
  JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
  JOIN cnt ca ON ca.doc_id = c.id_a
  JOIN cnt cb ON cb.doc_id = c.id_b
  WHERE {jacc} >= {threshold}
),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(id, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
),
clus AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN clus c ON c.id = d.doc_id"""


def _simhash_sql(max_hamming: int = 3, max_bucket: int = 256) -> str:
    """Oracle twin of dedup.simhash_pairs(hash_family='md5'): the 64 token-
    hash bits come from two 32-bit halves of the md5 digest, votes are the
    same +/-1 conditional sums, the signature is the same four 16-bit band
    values, and Hamming distance is the summed per-band popcount of XOR."""

    def bit(i: int) -> str:
        return f"(lo >> {i}) & 1" if i < 32 else f"(hi >> {i - 32}) & 1"

    bitsums = ",\n  ".join(
        f"sum(CASE WHEN {bit(i)} = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(64)
    )

    def vexpr(b: int) -> str:
        return " + ".join(
            f"(CASE WHEN b{16 * b + j} > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(16)
        )

    vcols = ",\n  ".join(f"{vexpr(b)} AS v{b}" for b in range(4))
    banded = "\nUNION ALL\n".join(
        f"SELECT doc_id, v0, v1, v2, v3, {b} AS band, v{b} AS v FROM sig"
        for b in range(4)
    )
    ham = " + ".join(f"bit_count(xor(x.v{b}, y.v{b}))" for b in range(4))
    return f"""
WITH toks AS (SELECT doc_id, unnest({_W}) AS t FROM documents),
h AS (SELECT doc_id,
             CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) AS hi,
             CAST('0x' || substr(md5(t), 9, 8) AS BIGINT) AS lo
      FROM toks),
bits AS (SELECT doc_id, {bitsums} FROM h GROUP BY doc_id),
sig AS (SELECT doc_id, {vcols} FROM bits),
banded AS ({banded}),
capped AS (SELECT * FROM banded
           QUALIFY row_number() OVER (PARTITION BY band, v
                                      ORDER BY doc_id) <= {max_bucket})
SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
       CAST({ham} AS BIGINT) AS hamming
FROM capped x JOIN capped y
  ON x.band = y.band AND x.v = y.v AND x.doc_id < y.doc_id
WHERE {ham} <= {max_hamming}"""


def _srp_sig_ctes(num_planes: int, bands: int, max_bucket: int,
                  seed: int = 7, dim: int = 64) -> str:
    """CTE chain ending in ``banded``/``capped`` — SRP signatures from the
    SAME seeded +/-1 hyperplane table similarity.srp_signatures derives
    (np.random.RandomState(seed), embedded here as literals), band buckets
    from the same bit layout, and the same deterministic bucket cap.
    list_dot_product accumulates left-to-right in float64 exactly like the
    Spark aggregate fold (verified exact on the driver corpus), so every
    sign bit agrees."""
    import numpy as np

    rng = np.random.RandomState(seed)
    planes = rng.choice([-1.0, 1.0], size=(num_planes, dim))
    rows = num_planes // bands

    def lit(p: int) -> str:
        return "[" + ", ".join(repr(float(x)) for x in planes[p]) + "]"

    def bucket_expr(b: int) -> str:
        return " + ".join(
            f"(CASE WHEN list_dot_product(v, {lit(b * rows + r)}) >= 0 "
            f"THEN {1 << r} ELSE 0 END)"
            for r in range(rows)
        )

    bkcols = ",\n  ".join(f"{bucket_expr(b)} AS bk{b}" for b in range(bands))
    banded = "\nUNION ALL\n".join(
        f"SELECT vec_id, v, {b} AS band, bk{b} AS bucket FROM sig"
        for b in range(bands)
    )
    return f"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sig AS (SELECT vec_id, v, {bkcols} FROM e),
banded AS ({banded}),
capped AS (SELECT * FROM banded
           QUALIFY row_number() OVER (PARTITION BY band, bucket
                                      ORDER BY vec_id) <= {max_bucket})"""


def _ann_lsh_sql(k: int = 10, num_planes: int = 24, bands: int = 8,
                 max_bucket: int = 4096) -> str:
    cos = _COS.format(a="qv", b="cv")
    return f"""
WITH {_srp_sig_ctes(num_planes, bands, max_bucket)},
q AS (SELECT * FROM banded WHERE vec_id % 25 = 0),
cands AS (SELECT DISTINCT q.vec_id AS query_id, q.v AS qv,
                 c.vec_id AS neighbor_id, c.v AS cv
          FROM q JOIN capped c
            ON q.band = c.band AND q.bucket = c.bucket
           AND q.vec_id <> c.vec_id),
scored AS (SELECT query_id, neighbor_id, {cos} AS cos FROM cands)
SELECT query_id, neighbor_id,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY cos DESC, neighbor_id) AS rank,
       {_RH6('cos')} AS cos
FROM scored
QUALIFY rank <= {k}"""


def _ann_ivf_sql(k: int = 10, num_centroids: int = 16, nprobe: int = 4,
                 max_iter: int = 5, dim: int = 64) -> str:
    """Oracle that replays IVF **training included**: the same md5-ordered
    init set, then ``max_iter`` unrolled Lloyd iterations — assignment =
    argmax cosine (row_number ORDER BY cos DESC, cid ASC, exactly
    assign_clusters' array_max tie-break), mean update = per-element
    SCALED-INTEGER sums (sum(floor(v*2^24+0.5)) as bigint — associative,
    so Spark's partition order can't perturb it) divided in double with the
    identical op sequence train_ivf_centroids uses driver-side. Empty
    clusters keep their previous centroid (LEFT JOIN + CASE, mirroring the
    dict-update loop). Extra unrolled iterations after convergence are
    no-ops (identical centroids -> identical assignment -> identical
    means), so the fixed unroll equals Spark's early-stop. Cosines fold
    left-to-right in float64 in both engines (verified exact for the SRP
    oracles), so every argmax and the final re-rank agree bit-for-bit."""
    from paper_layout_parser_spark.operators.similarity import IVF_MEAN_SCALE

    S = repr(IVF_MEAN_SCALE)
    cnorm = "sqrt(list_dot_product(c.cvec, c.cvec))"
    acos = (f"list_dot_product(e.v, c.cvec) / "
            f"(sqrt(list_dot_product(e.v, e.v)) * "
            f"(CASE WHEN {cnorm} = 0 THEN 1.0 ELSE {cnorm} END))")
    sums = ",\n      ".join(
        f"SUM(CAST(FLOOR(v[{i + 1}] * {S} + 0.5) AS BIGINT)) AS s{i}"
        for i in range(dim)
    )
    mean = ", ".join(
        f"CAST(m.s{i} AS DOUBLE) / CAST(m.n AS DOUBLE) / {S}"
        for i in range(dim)
    )
    ctes = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"""c0 AS (SELECT CAST(rn - 1 AS INTEGER) AS cid, v AS cvec FROM (
  SELECT v, row_number() OVER (
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM e)
  WHERE rn <= {num_centroids})""",
    ]
    for t in range(max_iter):
        ctes.append(f"""a{t} AS (SELECT vec_id, v, cid FROM (
  SELECT e.vec_id AS vec_id, e.v AS v, c.cid AS cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {acos} DESC, c.cid) AS rn
  FROM e CROSS JOIN c{t} c) WHERE rn = 1)""")
        ctes.append(
            f"m{t} AS (SELECT cid, COUNT(*) AS n,\n      {sums}\n"
            f"  FROM a{t} GROUP BY cid)"
        )
        ctes.append(f"""c{t + 1} AS (SELECT c.cid,
  CASE WHEN m.n IS NULL THEN c.cvec ELSE [{mean}] END AS cvec
  FROM c{t} c LEFT JOIN m{t} m USING (cid))""")
    T = max_iter
    cos = _COS.format(a="p.qv", b="a.v")
    cte_block = ",\n".join(ctes)
    return f"""
WITH {cte_block},
assigned AS (SELECT vec_id, v, cid FROM (
  SELECT e.vec_id AS vec_id, e.v AS v, c.cid AS cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {acos} DESC, c.cid) AS rn
  FROM e CROSS JOIN c{T} c) WHERE rn = 1),
probes AS (SELECT vec_id AS query_id, v AS qv, cid AS cluster FROM (
  SELECT e.vec_id AS vec_id, e.v AS v, c.cid AS cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {acos} DESC, c.cid) AS rn
  FROM e CROSS JOIN c{T} c WHERE e.vec_id % 25 = 0) WHERE rn <= {nprobe}),
scored AS (SELECT p.query_id, a.vec_id AS neighbor_id, {cos} AS cos
           FROM probes p JOIN assigned a
             ON a.cid = p.cluster AND a.vec_id <> p.query_id)
SELECT query_id, neighbor_id,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY cos DESC, neighbor_id) AS rank,
       {_RH6('cos')} AS cos
FROM scored
QUALIFY rank <= {k}"""


def _embed_neardup_lsh_sql(threshold: float = 0.4, num_planes: int = 24,
                           bands: int = 8, max_bucket: int = 256) -> str:
    cos = _COS.format(a="va", b="vb")
    return f"""
WITH {_srp_sig_ctes(num_planes, bands, max_bucket)},
cands AS (SELECT DISTINCT a.vec_id AS id_a, a.v AS va,
                 b.vec_id AS id_b, b.v AS vb
          FROM capped a JOIN capped b
            ON a.band = b.band AND a.bucket = b.bucket
           AND a.vec_id < b.vec_id),
scored AS (SELECT id_a, id_b, {cos} AS cos FROM cands)
SELECT id_a, id_b, {_RH6('cos')} AS cos
FROM scored WHERE cos >= {threshold}"""


def _page_overlays_sql() -> str:
    """Oracle for q_page_overlays' engine-independent projection: per-page
    box counts + the painter's canvas dims (max(1, int(dim * scale)),
    truncation = floor on non-negative dyadic 0.25 products)."""
    return f"""WITH {sd.detections_cte('documents')}
SELECT url, p AS page_no, count(*) AS n_boxes,
       GREATEST(1, CAST(floor(max(w) * 0.25) AS BIGINT)) AS canvas_w,
       GREATEST(1, CAST(floor(max(h) * 0.25) AS BIGINT)) AS canvas_h,
       TRUE AS rendered
FROM det WHERE doc_id % 10 = 0
GROUP BY url, p"""


def _pii_sql() -> str:
    noisy = (f"text || printf('{_PII_SUFFIX}', doc_id, doc_id % 100, doc_id, "
             f"doc_id % 250, (doc_id * 7) % 250)")
    cnt = lambda k: (  # noqa: E731
        f"len(regexp_extract_all(t, '{tfn.PII_PATTERNS[k]}'))")
    return f"""
WITH n AS (SELECT doc_id, {noisy} AS t FROM documents)
SELECT doc_id,
       {cnt('email')} AS n_email,
       {cnt('ipv4')} AS n_ipv4,
       {cnt('phone')} AS n_phone,
       md5({tfn.redact_pii_sql('t')}) AS redacted_md5
FROM n"""


def _line_dedup_sql(max_occurrences: int = 10,
                    min_line_chars: int = 1) -> str:
    return f"""
WITH n AS ({_NOISY_LINES_SQL}),
ls AS (SELECT doc_id, string_split(t, chr(10)) AS arr FROM n),
l AS (SELECT doc_id, generate_subscripts(arr, 1) AS line_no,
             unnest(arr) AS line FROM ls),
c AS (SELECT line, count(*) AS cnt FROM l GROUP BY line),
k AS (SELECT l.doc_id, l.line_no, l.line,
             (c.cnt <= {max_occurrences}
              OR length(l.line) < {min_line_chars}) AS keep
      FROM l JOIN c USING (line))
SELECT doc_id,
       md5(COALESCE(string_agg(line, chr(10) ORDER BY line_no)
                    FILTER (keep), '')) AS clean_md5,
       count(*) FILTER (keep) AS n_lines_kept,
       count(*) FILTER (NOT keep) AS n_lines_dropped
FROM k GROUP BY doc_id"""


def _repetition_sql() -> str:
    sh2 = tfn.ngrams_sql("w", 2)
    return f"""
WITH n AS ({_NOISY_LINES_SQL}),
base AS (
  SELECT doc_id,
         len(string_split(t, chr(10))) AS n_lines,
         {sd.sql_round_half_up(
             '(len(string_split(t, chr(10))) - '
             'len(list_distinct(string_split(t, chr(10))))) / '
             'len(string_split(t, chr(10)))', 4)} AS dup_line_fraction
  FROM n
),
grams AS (
  SELECT doc_id, chars, unnest({sh2}) AS gram
  FROM (SELECT doc_id, length(t) AS chars,
               string_split_regex(trim(t, ' '), '{tfn.WS_SPLIT}') AS w FROM n)
),
cnts AS (SELECT doc_id, chars, gram, count(*) AS cnt
         FROM grams GROUP BY 1, 2, 3),
top AS (SELECT * FROM cnts
        QUALIFY row_number() OVER (PARTITION BY doc_id
                                   ORDER BY cnt DESC, gram) = 1)
SELECT b.doc_id, b.n_lines, b.dup_line_fraction,
       top.gram AS top_ngram, top.cnt AS top_ngram_count,
       {sd.sql_round_half_up('top.cnt * length(top.gram) / top.chars', 6)}
       AS top_ngram_char_fraction
FROM base b JOIN top USING (doc_id)"""


def _split_sample_sql() -> str:
    from paper_layout_parser_spark.operators.curation import (
        assign_split_sql,
        stratified_sample_sql,
    )

    pred = stratified_sample_sql("doc_id", "lang", _SAMPLE_FRACTIONS,
                                 default_fraction=0.75)
    return (f"SELECT doc_id, lang, {assign_split_sql('doc_id')} AS split, "
            f"({pred}) AS sampled FROM documents")


def _span_dedup_sql(n: int = 8, min_count: int = 2) -> str:
    # shared builder (synthdata.span_dedup_oracle_sql) over the planted
    # corpus — the pytest twin uses the SAME builder, so the graded gate
    # and the pytest oracle can never assert different contracts
    from paper_layout_parser_spark.synthdata import span_dedup_oracle_sql

    planted = (
        "(SELECT doc_id, "
        "CASE WHEN doc_id % 3 = 0 AND text IS NOT NULL "
        f"THEN concat(text, ' ', '{_SPAN_PLANT}') "
        "ELSE text END AS text FROM documents)"
    )
    return span_dedup_oracle_sql(n, min_count, docs_table=planted)


def _pack_sql(max_tokens: int = 256, num_buckets: int = 8) -> str:
    from paper_layout_parser_spark.operators.packing import bucket_sql

    b = bucket_sql("doc_id", num_buckets)
    # split('') yields [''] — mirror the Spark side's explicit zeroing of
    # empty/whitespace-only docs (regex, not trim: trim strips only spaces)
    ntok = (f"CASE WHEN regexp_matches(text, '^{tfn.WS_CLASS}*$') THEN 0 "
            f"ELSE len({_W}) END")
    return f"""
WITH t AS (
  SELECT doc_id, {b} AS bucket, {ntok} AS n_tokens FROM documents
),
s AS (SELECT * FROM t WHERE n_tokens > 0),
c AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM s)
SELECT doc_id, bucket, n_tokens,
       cum - n_tokens AS start_token,
       CAST(floor((cum - n_tokens) / {max_tokens}) AS BIGINT) AS start_seq,
       (cum - n_tokens) % {max_tokens} AS start_offset,
       CAST(floor((cum - 1) / {max_tokens}) AS BIGINT) AS end_seq
FROM c"""


def _url_canon_sql() -> str:
    from paper_layout_parser_spark.functions.url import canonical_url_sql

    noisy = f"printf('{_NOISY_URL}', CAST(doc_id % 7 AS INT), doc_id, doc_id)"
    host = ("lower(regexp_extract(u, "
            "'^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1))")
    return f"""
WITH n AS (SELECT doc_id, {noisy} AS u FROM documents)
SELECT doc_id, {host} AS host, {canonical_url_sql('u')} AS canonical
FROM n"""


def _json_repair_sql() -> str:
    from paper_layout_parser_spark.functions.json_repair import repair_json_sql

    noisy = _NOISY_JSON.replace("%s", "%s").replace("'", "''")
    return f"""
WITH d AS (
  SELECT doc_id, printf('{noisy}', doc_id, lang) AS raw FROM documents
),
r AS (SELECT doc_id, {repair_json_sql('raw')} AS rep FROM d)
SELECT doc_id,
       CAST(json_extract(rep, '$.doc') AS BIGINT) AS parsed_doc,
       json_extract_string(rep, '$.tag') AS parsed_tag
FROM r"""


_ASOF_SQL = """
WITH l AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
),
r AS (
  SELECT user_id, ts, max(value) AS r_value, max(event_id) AS r_id
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT l.event_id, l.user_id, l.ts, l.value,
       r.ts AS matched_ts, r.r_value AS matched_value, r.r_id AS matched_id
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts"""

_INTERVAL_SQL = """
WITH lg AS (
  SELECT user_id, ts,
         epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS gap
  FROM events WHERE event_type = 'click'
),
f AS (SELECT *, CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS new_session FROM lg),
s AS (SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM f),
sess AS (SELECT user_id, session_id, min(ts) AS session_start,
                max(ts) AS session_end
         FROM s GROUP BY user_id, session_id)
SELECT e.event_id, e.user_id, e.ts, sess.session_id,
       sess.session_start, sess.session_end
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
LEFT JOIN sess ON e.user_id = sess.user_id
              AND e.ts >= sess.session_start AND e.ts <= sess.session_end"""

def _time_rollup_sql() -> str:
    level = lambda g: f"""
SELECT CAST({g} AS BIGINT) AS granularity,
       make_timestamp(CAST(floor(epoch(ts) / {g}) * {g} * 1000000 AS BIGINT))
         AS window_start,
       event_type, count(*) AS n_events,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events GROUP BY 2, 3"""  # noqa: E731
    return "\nUNION ALL\n".join(level(g) for g in (300, 3600, 86400))


_SESSIONIZE_SQL = """
WITH l AS (
  SELECT user_id, ts, value,
         epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS gap
  FROM events
),
f AS (SELECT *, CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS new_session FROM l),
s AS (SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM f)
SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events
FROM s GROUP BY user_id, session_id"""

_EVENT_WINDOWS_SQL = """
SELECT make_timestamp(CAST(floor(epoch(ts) / 300) * 300 * 1000000 AS BIGINT)) AS window_start,
       make_timestamp(CAST((floor(epoch(ts) / 300) + 1) * 300 * 1000000 AS BIGINT)) AS window_end,
       event_type, count(*) AS n_events
FROM events GROUP BY 1, 2, 3"""


def _host_cap_sql() -> str:
    """DuckDB twin of q_host_cap: the shared url-derivation literal, the
    shared host regex (url_host_sql), and cap_per_host_sql's QUALIFY
    keep-predicate (same md5 ranking literals as the Spark window)."""
    from paper_layout_parser_spark.functions.url import url_host_sql
    from paper_layout_parser_spark.operators.curation import cap_per_host_sql

    return f"""
WITH d AS (SELECT doc_id, {_HOSTCAP_URL.replace('AS STRING', 'AS VARCHAR')} AS url FROM documents)
SELECT doc_id, {url_host_sql('url')} AS host
FROM d QUALIFY {cap_per_host_sql(_HOSTCAP_CAP)}"""


def _registrable_domain_sql() -> str:
    """DuckDB twin of q_registrable_domain via an INDEPENDENT longest-
    suffix formulation: instead of exploding trailing candidates, join
    every (host, suffix) pair on host = suffix OR ends_with(host,
    '.'||suffix) and keep the label-longest suffix; eTLD+1 is that
    suffix plus one label. Bare-suffix hosts and no-match hosts yield
    NULL, matching the Spark operator's n_labels > best_len guard."""
    values = ", ".join(f"('{s}')" for s in _PSL_FIXTURE)
    return f"""
WITH d AS (SELECT doc_id, {_RD_HOST.replace('AS STRING', 'AS VARCHAR')} AS host FROM documents),
sx AS (SELECT * FROM (VALUES {values}) s(suffix)),
hosts AS (SELECT DISTINCT host FROM d WHERE host IS NOT NULL),
best AS (
  SELECT h.host, max(len(string_split(s.suffix, '.'))) AS best_len
  FROM hosts h JOIN sx s
    ON h.host = s.suffix OR ends_with(h.host, '.' || s.suffix)
  GROUP BY h.host
),
m AS (
  SELECT b.host,
         CASE WHEN len(string_split(b.host, '.')) > b.best_len
              THEN array_to_string(
                string_split(b.host, '.')[
                  len(string_split(b.host, '.')) - b.best_len:], '.')
         END AS domain
  FROM best b
)
SELECT d.doc_id, d.host, m.domain
FROM d LEFT JOIN m ON d.host = m.host"""


def oracle_sql() -> dict[str, str]:
    det = sd.detections_cte("documents")
    matched = sd.matched_items_cte("documents")
    cmp_cte = sd._comparisons_cte("documents")
    return {
        "error_analysis": f"""WITH {cmp_cte}
SELECT error_type, count(*) AS n_errors FROM cmp WHERE NOT is_correct
GROUP BY error_type""",
        "batch_rollup": f"""WITH {cmp_cte},
per_doc AS (
  SELECT url,
         count(*) FILTER (is_correct AND gt_has_caption) AS tp,
         count(*) FILTER (is_correct AND NOT gt_has_caption) AS correct_no_caption,
         count(*) FILTER (error_type IN ('false_positive', 'wrong_match')) AS fp,
         count(*) FILTER (error_type IN ('false_negative', 'wrong_match')) AS fn,
         count(*) AS total
  FROM cmp GROUP BY url
),
tot AS (
  SELECT count(*) AS total_documents,
         CAST(sum(tp) AS BIGINT) AS tp, CAST(sum(fp) AS BIGINT) AS fp,
         CAST(sum(fn) AS BIGINT) AS fn,
         CAST(sum(correct_no_caption) AS BIGINT) AS correct_no_caption,
         CAST(sum(total) AS BIGINT) AS total_comparisons
  FROM per_doc
),
m AS (SELECT *,
        CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) ELSE 0.0 END AS p_raw,
        CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) ELSE 0.0 END AS r_raw
      FROM tot)
SELECT total_documents, tp, fp, fn, correct_no_caption, total_comparisons,
       {sd.sql_round_half_up('p_raw', 4)} AS precision,
       {sd.sql_round_half_up('r_raw', 4)} AS recall,
       {sd.sql_round_half_up('CASE WHEN p_raw + r_raw > 0 THEN 2 * p_raw * r_raw / (p_raw + r_raw) ELSE 0.0 END', 4)} AS f1
FROM m""",
        "doc_result_json": f"""WITH {det},
per_doc AS (
  SELECT url, count(*) AS total_detections,
         count(DISTINCT p) AS n_pages
  FROM det GROUP BY url
)
SELECT url,
       n_pages AS total_pages,
       total_detections,
       {sd.sql_round_half_up('total_detections::DOUBLE / n_pages', 2)} AS avg_det_per_page,
       n_pages AS n_pages_serialized,
       'doclayout-yolo' AS model
FROM per_doc""",
        "summary_documents": f"""WITH {det}
SELECT url, max(npages) AS total_pages, count(*) AS total_detections,
       {sd.sql_round_half_up('count(*)::DOUBLE / max(npages)', 2)} AS average_detections_per_page
FROM (SELECT det.*, d.npages FROM det JOIN docs d USING (doc_id))
GROUP BY url""",
        "eval_report": _eval_report_sql(),
        "crop_render": _crop_render_sql(),
        "page_overlays": _page_overlays_sql(),
        "label_studio": _label_studio_sql(),
        "json_repair": _json_repair_sql(),
        "sessionize": _SESSIONIZE_SQL,
        "event_windows": _EVENT_WINDOWS_SQL,
        "asof_join": _ASOF_SQL,
        "interval_join": _INTERVAL_SQL,
        "time_rollup": _time_rollup_sql(),
        "props_parse": """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
       max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type""",
        "page_stats": f"""WITH {det}
SELECT url, p AS page_no, count(*) AS num_detections
FROM det GROUP BY url, p""",
        "class_stats": f"""WITH {det}
SELECT class_name, count(*) AS n_detections,
       {_RH4('avg(confidence)')} AS avg_confidence
FROM det GROUP BY class_name""",
        "doc_stats": f"""WITH {det}
SELECT url, max(npages) AS total_pages, count(*) AS total_detections,
       {sd.sql_round_half_up('count(*)::DOUBLE / max(npages)', 2)} AS average_detections_per_page
FROM (SELECT det.*, d.npages FROM det JOIN docs d USING (doc_id))
GROUP BY url""",
        "summary_report": f"""WITH {det},
per_doc AS (
  SELECT url, max(npages) AS total_pages, count(*) AS total_detections
  FROM (SELECT det.*, d.npages FROM det JOIN docs d USING (doc_id))
  GROUP BY url
)
SELECT count(*) AS total_documents,
       CAST(sum(total_pages) AS BIGINT) AS total_pages,
       CAST(sum(total_detections) AS BIGINT) AS total_detections,
       {sd.sql_round_half_up('sum(total_detections)::DOUBLE / sum(total_pages)', 2)} AS average_detections_per_page
FROM per_doc""",
        "caption_match": f"""WITH {matched}
SELECT url, item_type, item_id, p AS page_number,
       item_x1, item_y1, item_x2, item_y2,
       cap_x1, cap_y1, cap_x2, cap_y2, caption_text
FROM matched""",
        "extraction_stats": f"""WITH {matched}
SELECT url, item_type, count(*) AS total_items,
       count(*) FILTER (caption_text IS NOT NULL AND caption_text <> '') AS items_with_captions
FROM matched GROUP BY url, item_type""",
        "doc_text": sd.doc_text_sql("documents"),
        "eval_summary": sd.evaluation_summary_sql("documents"),
        "eval_per_type": sd.per_type_metrics_sql("documents"),
        "dedup_exact": f"""
SELECT min(doc_id) AS keep_id, count(*) AS n_copies
FROM {_DUPES_SQL} GROUP BY text""",
        "dedup_jaccard": _jaccard_sql(0.3),
        "dup_clusters": f"""
WITH RECURSIVE
docs0 AS (SELECT doc_id, {_W} AS w FROM documents),
sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM docs0),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS m
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN cnt ca ON ca.doc_id = id_a
  JOIN cnt cb ON cb.doc_id = id_b
  WHERE m::DOUBLE / (ca.n + cb.n - m) >= 0.3
),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(id, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
),
clus AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN clus c ON c.id = d.doc_id""",
        "dedup_minhash_lsh": _minhash_lsh_sql(0.5),
        "dup_clusters_lsh": _dup_clusters_lsh_sql(0.5),
        "simhash_pairs": _simhash_sql(3),
        "ann_topk": _ann_sql(),
        "ann_lsh": _ann_lsh_sql(),
        "ann_ivf": _ann_ivf_sql(),
        "embed_neardup": _neardup_sql(0.4),
        "embed_neardup_lsh": _embed_neardup_lsh_sql(0.4),
        "pii_redact": _pii_sql(),
        "corpus_filter": f"""
WITH l AS ({_lang_sql()}),
q AS ({_quality_sql()}),
dup AS (SELECT doc_id, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM documents),
b AS (SELECT DISTINCT unnest({_SHINGLES}) AS s
      FROM (SELECT {_W} AS w FROM documents WHERE doc_id % 50 = 0)),
ds AS (SELECT doc_id, unnest({_SHINGLES}) AS s
       FROM (SELECT doc_id, {_W} AS w FROM documents)),
hits AS (SELECT DISTINCT ds.doc_id FROM ds JOIN b USING (s)),
r AS (
  SELECT d0.doc_id,
         CASE WHEN l.pred_lang <> 'en' THEN 'lang'
              WHEN q.quality_score < 0.5 THEN 'quality'
              WHEN dup.rn > 1 THEN 'duplicate'
              WHEN d0.doc_id IN (SELECT doc_id FROM hits) THEN 'contaminated'
         END AS drop_reason
  FROM documents d0
  JOIN l USING (doc_id) JOIN q USING (doc_id) JOIN dup USING (doc_id)
)
SELECT doc_id, (drop_reason IS NULL) AS keep, drop_reason FROM r""",
        "decontaminate": f"""
WITH b AS (
  SELECT DISTINCT unnest({_SHINGLES}) AS s
  FROM (SELECT {_W} AS w FROM documents WHERE doc_id % 50 = 0)
),
d AS (
  SELECT doc_id, unnest({_SHINGLES}) AS s
  FROM (SELECT doc_id, {_W} AS w FROM documents)
),
hits AS (SELECT DISTINCT d.doc_id FROM d JOIN b USING (s))
SELECT doc_id, (doc_id IN (SELECT doc_id FROM hits)) AS contaminated
FROM documents""",
        "line_dedup": _line_dedup_sql(),
        "repetition": _repetition_sql(),
        "split_sample": _split_sample_sql(),
        "span_dedup": _span_dedup_sql(),
        "pack": _pack_sql(),
        "url_canon": _url_canon_sql(),
        "sketch_stats": """
SELECT lang, count(DISTINCT n_chars) AS n_distinct,
       quantile_cont(n_chars, 0.5) AS p50,
       quantile_cont(n_chars, 0.9) AS p90,
       count(*) AS n_rows
FROM documents GROUP BY lang""",
        "lang_id": _lang_sql(),
        "quality": _quality_sql(),
        "fingerprint": f"""
WITH d AS (SELECT doc_id, text, {_W} AS w FROM documents)
SELECT doc_id, md5(text) AS full_md5,
       list_min([md5(s) for s in {_SHINGLES}]) AS min_shingle_md5
FROM d""",
        "host_cap": _host_cap_sql(),
        "registrable_domain": _registrable_domain_sql(),
        # (r6) token_count merged into quality; sketch_stats_approx
        # retired from the registry — sketch internals (HLL++/GK) are
        # implementation-specific, so only the exact profile is checked.
    }
