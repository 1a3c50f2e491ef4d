"""K6 report-rendering goldens + S6 manifest round-trip + J7 path fallback."""

import json
import os

import pytest
from pyspark.sql import functions as F

from paper_layout_parser_spark.operators.report import (
    benchmark_summary,
    build_reports,
    render_json_report,
    render_markdown_report,
    summary_with_documents,
)
from paper_layout_parser_spark.sources.manifest import (
    load_manifest,
    resolve_prediction_paths,
    save_manifest,
)

ROLLUP = {"total_documents": 2, "tp": 3, "fp": 1, "fn": 2,
          "precision": 0.75, "recall": 0.6, "f1": 0.6667}
PER_TYPE = [
    {"figure_type": "figure", "precision": 0.8, "recall": 0.5, "f1": 0.6154},
    {"figure_type": "table", "precision": 0.7, "recall": 0.7, "f1": 0.7},
]
PER_DOC = [  # deliberately unsorted
    {"url": "u1", "precision": 1.0, "recall": 0.5, "f1": 0.6667,
     "tp": 1, "fp": 0, "fn": 1},
    {"url": "u0", "precision": 0.5, "recall": 1.0, "f1": 0.6667,
     "tp": 2, "fp": 1, "fn": 1},
]


def _summary():
    return benchmark_summary(
        ROLLUP, PER_TYPE, PER_DOC,
        evaluator_config={"confidence_threshold": 0.7},
        created_at="2020-01-01T00:00:00",
    )


class TestReportGoldens:
    def test_json_report_shape_matches_reference_to_dict(self):
        """Field-for-field the BenchmarkSummary.to_dict layout
        (batch.py:66-91): same keys, same nesting, same rounding."""
        d = json.loads(render_json_report(_summary()))
        assert set(d) == {"dataset", "summary", "per_type_metrics",
                          "detailed_counts", "evaluator_config",
                          "created_at", "document_results"}
        assert d["dataset"] == {"name": "synthetic", "version": "1.0.0"}
        assert d["summary"] == {"total_documents": 2,
                                "successful_evaluations": 2,
                                "precision": 0.75, "recall": 0.6, "f1": 0.6667}
        assert set(d["per_type_metrics"]) == {"figure", "table"}
        assert d["per_type_metrics"]["figure"] == {"precision": 0.8,
                                                   "recall": 0.5, "f1": 0.6154}
        assert d["detailed_counts"] == {"true_positives": 3,
                                        "false_positives": 1,
                                        "false_negatives": 2}
        docs = d["document_results"]
        assert [x["name"] for x in docs] == ["u0", "u1"]  # sorted
        assert set(docs[0]) == {"name", "evaluation", "error"}
        assert docs[0]["evaluation"]["true_positives"] == 2
        assert docs[0]["error"] is None

    def test_markdown_report_golden(self):
        """Exact golden for the reference's Markdown layout
        (reporter.py:44-183) on the fixture."""
        md = render_markdown_report(_summary(), generated_at="2020-01-01 00:00:00")
        expected = "\n".join([
            "# Caption Matching Benchmark Report",
            "",
            "**Generated:** 2020-01-01 00:00:00",
            "",
            "## Dataset Information",
            "",
            "- **Name:** synthetic",
            "- **Version:** 1.0.0",
            "- **Total Documents:** 2",
            "- **Successful Evaluations:** 2",
            "",
            "## Overall Metrics",
            "",
            "| Metric | Value |",
            "|--------|-------|",
            "| Precision | 0.7500 |",
            "| Recall | 0.6000 |",
            "| F1 Score | 0.6667 |",
            "",
            "## Detailed Counts",
            "",
            "| Count | Value |",
            "|-------|-------|",
            "| True Positives | 3 |",
            "| False Positives | 1 |",
            "| False Negatives | 2 |",
            "",
            "## Per-Type Metrics",
            "",
            "### Figure Matching",
            "",
            "| Metric | Value |",
            "|--------|-------|",
            "| Precision | 0.8000 |",
            "| Recall | 0.5000 |",
            "| F1 | 0.6154 |",
            "",
            "### Table Matching",
            "",
            "| Metric | Value |",
            "|--------|-------|",
            "| Precision | 0.7000 |",
            "| Recall | 0.7000 |",
            "| F1 | 0.7000 |",
            "",
            "## Per-Document Results",
            "",
            "| Document | Precision | Recall | F1 | Status |",
            "|----------|-----------|--------|-----|--------|",
            "| u0 | 0.5000 | 1.0000 | 0.6667 | OK |",
            "| u1 | 1.0000 | 0.5000 | 0.6667 | OK |",
            "",
            "## Evaluator Configuration",
            "",
            "- **confidence_threshold:** 0.7",
            "",
            "---",
            "",
            "*Report generated at 2020-01-01T00:00:00*",
        ])
        assert md == expected

    def test_empty_evaluation_reports_zeros(self, spark):
        """No GT rows surviving the confidence filter must yield a zeroed
        report, not a crash on NULL rollup sums."""
        cmp_schema = (
            "url string, figure_id string, figure_type string, "
            "page_number int, cap_id string, gt_has_caption boolean, "
            "pred_has_caption boolean, figure_iou double, caption_iou double, "
            "is_correct boolean, error_type string"
        )
        empty = spark.createDataFrame([], cmp_schema)
        summary, js, md = build_reports(empty, created_at="t0", generated_at="t0")
        assert summary["detailed_counts"] == {"true_positives": 0,
                                              "false_positives": 0,
                                              "false_negatives": 0}
        assert summary["summary"]["precision"] == 0.0
        assert summary["document_results"] == []
        assert "| Precision | 0.0000 |" in md

    def test_end_to_end_reports_from_pipeline(self, spark):
        from paper_layout_parser_spark.corpus import build_ground_truth, build_pages
        from paper_layout_parser_spark.operators.evaluate import compare_matches
        from paper_layout_parser_spark.plans.pipeline import run_pipeline

        from .conftest import SF_SMALL

        pages = build_pages(spark, SF_SMALL).where(
            F.regexp_extract("url", r"([0-9]+)$", 1).cast("long") < 8
        )
        out = run_pipeline(pages)
        cmp_df = compare_matches(build_ground_truth(out.matched), out.matched)
        summary, js, md = build_reports(cmp_df, created_at="t0", generated_at="t0")
        assert summary["summary"]["total_documents"] == 8
        assert len(summary["document_results"]) == 8
        # metric consistency: report fields == DF fields
        assert json.loads(js)["detailed_counts"]["true_positives"] == summary[
            "detailed_counts"]["true_positives"]
        assert "| Document | Precision | Recall | F1 | Status |" in md
        out.unpersist()


class TestSummaryDocuments:
    def test_documents_array_matches_doc_stats(self, spark):
        from paper_layout_parser_spark.corpus import build_pages
        from paper_layout_parser_spark.plans.pipeline import run_pipeline

        from .conftest import SF_SMALL

        pages = build_pages(spark, SF_SMALL).where(
            F.regexp_extract("url", r"([0-9]+)$", 1).cast("long") < 8
        )
        out = run_pipeline(pages)
        row = summary_with_documents(out.doc_stats).first()
        docs = row["documents"]
        assert len(docs) == 8
        assert [d["url"] for d in docs] == sorted(d["url"] for d in docs)
        by_url = {r["url"]: r for r in out.doc_stats.collect()}
        for d in docs:
            assert d["total_detections"] == by_url[d["url"]]["total_detections"]
        assert row["total_detections"] == sum(d["total_detections"] for d in docs)
        out.unpersist()

    def test_embedded_list_cap_bounds_the_fold(self, spark):
        """SCALE CONTRACT: with many documents, the embedded array truncates
        to the first max_documents urls while the scalar totals still cover
        everything — and the cap plans as a distributed top-N, never a
        global sort of the whole per-doc table."""
        from paper_layout_parser_spark.operators.report import build_reports

        doc_stats = spark.createDataFrame(
            [(f"u{i:05d}", i % 7 + 1, (i % 7 + 1) * 3, 3.0) for i in range(500)],
            "url string, total_pages long, total_detections long, "
            "average_detections_per_page double",
        )
        row = summary_with_documents(doc_stats, max_documents=5).first()
        assert row["total_documents"] == 500           # totals: ALL docs
        assert row["total_detections"] == sum((i % 7 + 1) * 3 for i in range(500))
        assert [d["url"] for d in row["documents"]] == [
            f"u{i:05d}" for i in range(5)              # embedded: first 5 urls
        ]
        plan = (
            doc_stats.orderBy("url").limit(5)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "TakeOrderedAndProject" in plan, plan[:800]

        # build_reports: rendered per-doc table truncates, metrics do not
        cmp_df = spark.createDataFrame(
            [(f"u{i:05d}", f"f{i}", "figure", 1, f"c{i}", True, True, True, None)
             for i in range(40)],
            "url string, figure_id string, figure_type string, "
            "page_number int, cap_id string, gt_has_caption boolean, "
            "pred_has_caption boolean, is_correct boolean, error_type string",
        )
        summary, _, _ = build_reports(cmp_df, created_at="t0",
                                      generated_at="t0", max_documents=3)
        assert len(summary["document_results"]) == 3
        assert summary["summary"]["successful_evaluations"] == 40


class TestManifest:
    def test_roundtrip(self, spark, tmp_path):
        docs = [
            {"name": "docA", "annotation_path": "a/ann.json",
             "extraction_path": "a/ext.json"},
            {"name": "docB", "annotation_path": "b/ann.json",
             "extraction_path": None},
        ]
        p = str(tmp_path / "bench")
        save_manifest(p, docs, name="ds", version="2.0.0", annotator="stub",
                      created_at="t0")
        meta, df = load_manifest(spark, p)
        assert meta == {"name": "ds", "version": "2.0.0", "annotator": "stub",
                        "created_at": "t0"}
        rows = {r["name"]: r for r in df.collect()}
        assert rows["docA"]["extraction_path"] == "a/ext.json"
        assert rows["docB"]["extraction_path"] is None
        # serialized shape: extraction_path key omitted when null (reference
        # DocumentEntry.to_dict), statistics block present
        raw = json.load(open(os.path.join(p, "dataset.json")))
        entryB = next(d for d in raw["documents"] if d["name"] == "docB")
        assert "extraction_path" not in entryB
        assert raw["statistics"]["total_documents"] == 2

    def test_load_missing_raises(self, spark, tmp_path):
        with pytest.raises(FileNotFoundError):
            load_manifest(spark, str(tmp_path / "nope"))

    def test_j7_fallback_chain(self, spark, tmp_path):
        base = tmp_path / "base"
        preds = tmp_path / "preds"
        # docA: manifest extraction_path exists -> wins
        (base / "a").mkdir(parents=True)
        (base / "a" / "ext.json").write_text("{}")
        # docB: manifest path dangles; extractions/extraction_metadata.json exists
        (preds / "docB" / "extractions").mkdir(parents=True)
        (preds / "docB" / "extractions" / "extraction_metadata.json").write_text("{}")
        # docC: only result.json exists
        (preds / "docC").mkdir(parents=True)
        (preds / "docC" / "result.json").write_text("{}")
        # docD: nothing
        docs = spark.createDataFrame(
            [("docA", "x", "a/ext.json"), ("docB", "x", "b/gone.json"),
             ("docC", "x", None), ("docD", "x", None)],
            "name string, annotation_path string, extraction_path string",
        )
        got = {r["name"]: r["resolved_path"] for r in
               resolve_prediction_paths(docs, str(base), str(preds)).collect()}
        assert got["docA"] == f"{base}/a/ext.json"
        assert got["docB"] == f"{preds}/docB/extractions/extraction_metadata.json"
        assert got["docC"] == f"{preds}/docC/result.json"
        assert got["docD"] is None

    def test_j7_without_predictions_dir(self, spark, tmp_path):
        docs = spark.createDataFrame(
            [("docA", "x", "a/ext.json")],
            "name string, annotation_path string, extraction_path string",
        )
        got = resolve_prediction_paths(docs, str(tmp_path)).first()
        assert got["resolved_path"] is None
