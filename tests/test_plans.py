"""Physical-plan regression guards: the properties documented in
docs/PLANS.md must survive refactors — pushdown reaching the scan, the
single pre-rasterize repartition, the top-k group-limit pushdown, and cache
reuse of the enriched hub."""

import pytest
from pyspark.sql import functions as F

from paper_layout_parser_spark.corpus import build_pages
from paper_layout_parser_spark.operators import dedup, similarity
from paper_layout_parser_spark.operators.similarity import brute_force_topk
from paper_layout_parser_spark.plans.pipeline import run_pipeline

from .conftest import SF_SMALL


def plan_of(spark, df, mode="formatted") -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def test_filter_and_projection_reach_parquet_scan(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    plan = plan_of(spark, docs.where(F.col("lang") == "en").select("doc_id", "n_chars"))
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    assert "ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>" in plan


def test_single_repartition_before_rasterize(spark, tmp_path):
    # production shape: the pipeline reads a pages TABLE (the generator's
    # own repartition is scaffolding, excluded by materializing first)
    path = str(tmp_path / "pages.parquet")
    build_pages(spark, SF_SMALL).limit(50).write.parquet(path)
    out = run_pipeline(spark.read.parquet(path))
    plan = plan_of(spark, out.enriched, "simple")
    # exactly one explicit repartition (the skew spread) upstream of detect
    assert plan.count("REPARTITION_BY_NUM") == 1
    assert "xxhash64(url" in plan
    out.unpersist()


def test_topk_uses_window_group_limit(spark):
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    q = emb.where(F.col("vec_id") % 50 == 0)
    plan = plan_of(spark, brute_force_topk(emb, q, 5), "simple")
    # row_number() <= k recognized as a group limit, applied map-side too
    assert "WindowGroupLimit" in plan
    assert plan.count("WindowGroupLimit") >= 2  # Partial + Final


def test_branches_reuse_persisted_enriched(spark):
    pages = build_pages(spark, SF_SMALL).where(
        F.regexp_extract("url", r"([0-9]+)$", 1).cast("long") < 5
    )
    out = run_pipeline(pages)
    out.enriched.count()       # materialize the cache
    # every default output reads the one cached fused pass: neither the
    # UDF chain nor a second render appears outside the cached plan
    for df in (out.doc_text, out.matched, out.doc_stats, out.quarantine):
        plan = plan_of(spark, df, "simple")
        assert "InMemoryTableScan" in plan
        assert "MapInPandas" not in _outside_cached_plans(plan)
    out.unpersist()


def test_matched_is_one_window_over_the_cache(spark):
    """Captions are assigned inside the fused stage: outside the cached
    subplan, matched runs no Python and no join, and its only exchange is
    the item-id window's."""
    pages = build_pages(spark, SF_SMALL).where(
        F.regexp_extract("url", r"([0-9]+)$", 1).cast("long") < 5
    )
    out = run_pipeline(pages)
    _assert_one_window_over_the_cache(spark, out.matched)
    out.unpersist()


def test_crops_is_one_window_over_the_cache(spark):
    """Crops are rendered inside the fused stage: outside the cached
    subplan, crops runs no Python and no join (no second render of the
    pages), and its only exchange is the item-id window's."""
    from paper_layout_parser_spark.operators.crop import StubCropCodec

    pages = build_pages(spark, SF_SMALL).where(
        F.regexp_extract("url", r"([0-9]+)$", 1).cast("long") < 5
    )
    out = run_pipeline(pages, crop_codec_factory=StubCropCodec)
    _assert_one_window_over_the_cache(spark, out.crops)
    out.unpersist()


def _assert_one_window_over_the_cache(spark, df) -> None:
    df.count()                 # materialize the cache
    plan = _outside_cached_plans(plan_of(spark, df, "simple"))
    assert "InMemoryTableScan" in plan
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "Join"):
        assert node not in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "Exchange hashpartitioning(url" in plan, plan


def _outside_cached_plans(plan: str) -> str:
    """The plan text minus every InMemoryRelation's cached subplan (the
    lines indented deeper than the InMemoryRelation line that follow it)."""
    kept, cache_depth = [], None
    for line in plan.splitlines():
        depth = len(line) - len(line.lstrip(" :"))
        if cache_depth is not None and depth > cache_depth:
            continue
        cache_depth = depth if "InMemoryRelation" in line else None
        kept.append(line)
    return "\n".join(kept)


def test_per_page_crop_math_is_pure_projection(spark):
    """Per-page percent coords must not cost a plan shape: width/height
    ride as columns on matched (carried from the rendered page), so
    to_percent_coords compiles to a single Project — no join-back against
    the pages table, no exchange."""
    from paper_layout_parser_spark.operators.export import to_percent_coords

    matched = spark.createDataFrame(
        [("u", "figure", "fig_01_01", 1, 1224, 1584,
          100.0, 200.0, 300.0, 400.0, None, None, None, None)],
        "url string, item_type string, item_id string, page_number int, "
        "width int, height int, "
        "item_x1 double, item_y1 double, item_x2 double, item_y2 double, "
        "cap_x1 double, cap_y1 double, cap_x2 double, cap_y2 double",
    )
    plan = to_percent_coords(matched)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:1200]
    assert "Join" not in plan, plan[:1200]


# Parquet scans left in each LSH operator's executed plan. Each one
# materializes the tables that its self-join and its verification read
# more than once; re-deriving them would scan the corpus once per
# consumer (2 to 4 scans). lsh_topk's one scan is its query side.
@pytest.mark.parametrize("op, scans", [
    ("minhash_lsh_pairs", 0),
    ("jaccard_pairs", 0),
    ("simhash_pairs", 0),
    ("cosine_neardup_lsh", 0),
    ("lsh_topk", 1),
])
def test_lsh_operators_scan_materialized_tables(spark, op, scans):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text")
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    df = {
        "minhash_lsh_pairs": lambda: dedup.minhash_lsh_pairs(docs),
        "jaccard_pairs": lambda: dedup.jaccard_pairs(docs),
        "simhash_pairs": lambda: dedup.simhash_pairs(docs),
        "cosine_neardup_lsh": lambda: similarity.cosine_neardup_lsh(emb),
        "lsh_topk": lambda: similarity.lsh_topk(
            emb, emb.where(F.col("vec_id") % 50 == 0)),
    }[op]()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == scans, plan


def _lambdas_reading_split(plan: str) -> int:
    """How many lambdafunction(...) subtrees in the plan text call split."""
    n, start = 0, plan.find("lambdafunction(")
    while start != -1:
        depth, end = 0, start
        for end in range(start, len(plan)):
            depth += {"(": 1, ")": -1}.get(plan[end], 0)
            if depth == 0 and plan[end] == ")":
                break
        n += "split(" in plan[start:end]
        start = plan.find("lambdafunction(", start + 1)
    return n


@pytest.mark.parametrize("case", [
    "shingles", "decontaminate", "clean_corpus", "top_ngram_char_fraction",
    "curate_documents",
])
def test_kgram_lambdas_never_re_split_the_text(spark, case):
    """Interpreted lambdas get no common-subexpression elimination: a
    lambda that reads words(text) re-splits the document at every
    reference. The k-gram builders zip top-level slices instead, so no
    lambda in any of their callers' plans reads the split. The bare
    shingle projection is what jaccard_pairs and minhash_lsh_pairs
    materialize (their own plans show only the checkpointed rows)."""
    from paper_layout_parser_spark.functions.text import shingles, words
    from paper_layout_parser_spark.operators.curation import (
        clean_corpus,
        top_ngram_char_fraction,
    )
    from paper_layout_parser_spark.plans.corpus_build import curate_documents

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    df = {
        "shingles": lambda: docs.select(
            "doc_id", shingles(words(F.col("text")), 3).alias("sh")),
        "decontaminate": lambda: dedup.decontaminate(docs, bench, n=3),
        "clean_corpus": lambda: clean_corpus(docs, benchmark=bench),
        "top_ngram_char_fraction": lambda: top_ngram_char_fraction(docs),
        "curate_documents": lambda: curate_documents(
            docs, benchmark=bench, id_col="doc_id", text_col="text")[1],
    }[case]()
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "lambdafunction(" in plan    # the k-gram transform is there
    assert _lambdas_reading_split(plan) == 0, plan
