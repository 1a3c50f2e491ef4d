"""End-to-end file-based benchmark evaluation: synthesize the reference's
on-disk layout (dataset.json + caption_annotations.json +
extraction_metadata.json) from the pipeline's own outputs, run the Spark
evaluation job over the FILES, and assert the metrics equal the in-memory
relational path."""

import json
import os

import pytest
from pyspark.sql import functions as F

from paper_layout_parser_spark.corpus import build_ground_truth, build_pages
from paper_layout_parser_spark.operators.evaluate import (
    compare_matches,
    evaluation_summary,
)
from paper_layout_parser_spark.plans.evaluation import run_benchmark_eval
from paper_layout_parser_spark.plans.pipeline import run_pipeline
from paper_layout_parser_spark.sources.manifest import save_manifest

from .conftest import SF_SMALL


def _bbox(x1, y1, x2, y2):
    if x1 is None:
        return None
    return {"x1": x1, "y1": y1, "x2": x2, "y2": y2}


@pytest.fixture(scope="module")
def benchdir(spark, tmp_path_factory):
    """Write the reference's benchmark layout from pipeline outputs."""
    root = tmp_path_factory.mktemp("bench")
    bench = str(root / "dataset")
    preds = str(root / "preds")
    pages = build_pages(spark, SF_SMALL).where(
        F.regexp_extract("url", r"([0-9]+)$", 1).cast("long") < 6
    )
    out = run_pipeline(pages)
    gt = build_ground_truth(out.matched).persist()
    matched = out.matched.persist()

    def name_of(url):
        return "doc_" + url.rsplit("/", 1)[1]

    # ground-truth files (dataset.py:88-120 shape)
    docs = []
    gt_rows = gt.collect()
    by_url = {}
    for r in gt_rows:
        by_url.setdefault(r["url"], []).append(r)
    for url, rows in by_url.items():
        name = name_of(url)
        pages_map = {}
        for r in rows:
            pages_map.setdefault(r["page_number"], []).append({
                "figure_id": r["figure_id"],
                "figure_type": r["figure_type"],
                "figure_bbox": _bbox(r["gt_x1"], r["gt_y1"], r["gt_x2"], r["gt_y2"]),
                "caption_id": r["cap_id"],
                "caption_bbox": _bbox(r["gcap_x1"], r["gcap_y1"],
                                      r["gcap_x2"], r["gcap_y2"]),
                "caption_text": None,
                "confidence": r["confidence"],
            })
        payload = {
            "pdf_name": name, "annotator": "stub-vlm",
            "pages": [{"page_number": p, "matches": ms}
                      for p, ms in sorted(pages_map.items())],
        }
        rel = f"annotations/{name}/caption_annotations.json"
        path = os.path.join(bench, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(payload, f, indent=2)
        docs.append({"name": name, "annotation_path": rel,
                     "extraction_path": None})

    # prediction files under the predictions_dir fallback (J7 chain)
    m_by_url = {}
    for r in matched.collect():
        m_by_url.setdefault(r["url"], []).append(r)
    for url, rows in m_by_url.items():
        name = name_of(url)
        payload = {"figures": [], "tables": []}
        for r in rows:
            payload["figures" if r["item_type"] == "figure" else "tables"].append({
                "id": r["item_id"],
                "page_number": r["page_number"],
                "item_bbox": _bbox(r["item_x1"], r["item_y1"],
                                   r["item_x2"], r["item_y2"]),
                "caption_bbox": _bbox(r["cap_x1"], r["cap_y1"],
                                      r["cap_x2"], r["cap_y2"]),
            })
        path = os.path.join(preds, name, "extractions",
                            "extraction_metadata.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(payload, f, indent=2)

    save_manifest(bench, docs, name="synthetic-files", version="1.0.0",
                  annotator="stub-vlm", created_at="t0")
    # the in-memory expectation with the SAME url keys the files carry
    gt_named = gt.withColumn(
        "url", F.concat(F.lit("doc_"), F.regexp_extract("url", r"([0-9]+)$", 1)))
    m_named = matched.withColumn(
        "url", F.concat(F.lit("doc_"), F.regexp_extract("url", r"([0-9]+)$", 1)))
    expect = evaluation_summary(compare_matches(gt_named, m_named)).first().asDict()
    out.unpersist()
    return bench, preds, str(root / "out"), expect


def test_file_eval_matches_in_memory_path(spark, benchdir):
    bench, preds, outdir, expect = benchdir
    summary = run_benchmark_eval(
        spark, bench, predictions_dir=preds, output_dir=outdir,
        created_at="t0", generated_at="t0",
    )
    s, c = summary["summary"], summary["detailed_counts"]
    assert (c["true_positives"], c["false_positives"], c["false_negatives"]) \
        == (expect["tp"], expect["fp"], expect["fn"])
    assert (s["precision"], s["recall"], s["f1"]) \
        == (expect["precision"], expect["recall"], expect["f1"])
    assert s["total_documents"] == 6 and s["successful_evaluations"] == 6


def test_file_eval_writes_reports(spark, benchdir):
    bench, preds, outdir, _ = benchdir
    run_benchmark_eval(spark, bench, predictions_dir=preds, output_dir=outdir,
                       created_at="t0", generated_at="t0")
    js = json.load(open(os.path.join(outdir, "benchmark_report.json")))
    assert js["dataset"]["name"] == "synthetic-files"
    assert len(js["document_results"]) == 6
    md = open(os.path.join(outdir, "benchmark_report.md")).read()
    assert md.startswith("# Caption Matching Benchmark Report")
    assert "| Document | Precision | Recall | F1 | Status |" in md


def test_dataset_builder_end_to_end(spark, tmp_path, benchdir):
    """S6 DatasetBuilder flow (builder.py:31-141): assemble annotation files
    from an extraction-output layout into a NEW benchmark dataset (copies +
    manifest), then run the full file-based evaluation over the BUILT
    dataset — metrics must equal the in-memory path."""
    import shutil

    from paper_layout_parser_spark.sources.manifest import (
        build_from_output_dir,
        load_manifest,
    )

    bench, preds, _, expect = benchdir
    # synthesize the reference's data/output layout the builder consumes:
    # <out>/<name>/caption_annotations.json + <out>/<name>/extractions/...
    src = tmp_path / "output"
    for doc_dir in sorted(os.listdir(os.path.join(bench, "annotations"))):
        d = src / doc_dir
        d.mkdir(parents=True)
        shutil.copy(
            os.path.join(bench, "annotations", doc_dir, "caption_annotations.json"),
            d / "caption_annotations.json",
        )
        (d / "extractions").mkdir()
        shutil.copy(
            os.path.join(preds, doc_dir, "extractions", "extraction_metadata.json"),
            d / "extractions" / "extraction_metadata.json",
        )

    built = str(tmp_path / "built_bench")
    meta, docs = build_from_output_dir(
        spark, str(src), built, name="built-v1", created_at="t1"
    )
    assert meta["name"] == "built-v1"
    assert meta["annotator"] == "stub-vlm"          # lifted from the files
    assert docs.count() == 6
    # every entry's copies landed and extraction_path points at the sibling
    for r in docs.collect():
        assert os.path.exists(os.path.join(built, r["annotation_path"]))
        assert r["extraction_path"] is not None
        assert os.path.exists(os.path.join(built, r["extraction_path"]))

    # the built dataset round-trips through load_manifest and the FULL eval
    meta2, _ = load_manifest(spark, built)
    assert meta2["annotator"] == "stub-vlm"
    summary = run_benchmark_eval(spark, built, created_at="t1", generated_at="t1")
    c = summary["detailed_counts"]
    assert (c["true_positives"], c["false_positives"], c["false_negatives"]) \
        == (expect["tp"], expect["fp"], expect["fn"])
    assert summary["summary"]["f1"] == expect["f1"]


def test_dataset_builder_skips_missing_and_empty_raises(spark, tmp_path):
    from paper_layout_parser_spark.sources.manifest import (
        build_from_annotations,
        build_from_output_dir,
    )

    with pytest.raises(ValueError, match="No caption_annotations.json"):
        build_from_output_dir(spark, str(tmp_path / "nowhere"),
                              str(tmp_path / "b"))

    payload = {"pdf_name": "doc_a", "annotator": "vlm-x",
               "pages": [{"page_number": 1, "matches": []}]}
    d = tmp_path / "doc_a"
    d.mkdir()
    (d / "caption_annotations.json").write_text(json.dumps(payload))
    with pytest.warns(UserWarning, match="not found"):
        meta, docs = build_from_annotations(
            spark,
            [str(d / "caption_annotations.json"), str(tmp_path / "ghost.json")],
            str(tmp_path / "built"), created_at="t0",
        )
    rows = docs.collect()
    assert [r["name"] for r in rows] == ["doc_a"]
    assert meta["annotator"] == "vlm-x"
    assert rows[0]["extraction_path"] is None       # no sibling extractions


def test_prediction_paths_with_uri_encoding_chars(spark, tmp_path):
    """input_file_name() percent-encodes spaces (and leaves '+' literal);
    the path->name join must survive both instead of silently dropping the
    document's predictions (scoring it all-FN)."""
    from paper_layout_parser_spark.plans.evaluation import load_prediction_files

    payload = {"figures": [{
        "id": "fig_01_01", "page_number": 1,
        "item_bbox": {"x1": 1.0, "y1": 2.0, "x2": 3.0, "y2": 4.0},
        "caption_bbox": None,
    }], "tables": []}
    d = tmp_path / "with space+plus"
    d.mkdir()
    p = d / "extraction_metadata.json"
    p.write_text(json.dumps(payload))
    resolved = spark.createDataFrame(
        [("doc with space", str(p))], "name string, resolved_path string"
    )
    rows = load_prediction_files(spark, resolved).collect()
    assert len(rows) == 1
    assert rows[0]["url"] == "doc with space"
    assert rows[0]["item_id"] == "fig_01_01"
    assert rows[0]["item_x1"] == 1.0
