"""VLM request/payload construction (§3.2) vs a direct Python port of the
reference's prompt builders (prompts.py:79-143) run on the same elements —
the payload the pluggable client would send must be byte-identical."""

from __future__ import annotations

import base64

import pytest
from pyspark.sql import functions as F

from paper_layout_parser_spark.operators.vlm_payload import (
    CAPTION_CLASSES,
    DIRECT_SYSTEM_PROMPT,
    DIRECT_USER_PROMPT,
    SYSTEM_PROMPT,
    build_vlm_requests,
    classify_elements,
    elements_description,
    request_payload,
)


# --- reference oracle: direct port of prompts.py:79-143 (test-only) ---

def ref_format_elements_description(figures, tables, captions):
    lines = []
    if figures:
        lines.append("FIGURES (green boxes):")
        for fig in figures:
            x1, y1 = fig["bbox"]["x1"], fig["bbox"]["y1"]
            lines.append(f"  - F{fig['id']}: at position ({x1:.0f}, {y1:.0f})")
    if tables:
        lines.append("TABLES (blue boxes):")
        for tbl in tables:
            x1, y1 = tbl["bbox"]["x1"], tbl["bbox"]["y1"]
            lines.append(f"  - T{tbl['id']}: at position ({x1:.0f}, {y1:.0f})")
    if captions:
        lines.append("CAPTIONS (orange boxes):")
        for cap in captions:
            text = cap.get("text", "")
            if len(text) > 50:
                text_preview = text[:50] + "..."
            else:
                text_preview = text or "[no text]"
            x1, y1 = cap["bbox"]["x1"], cap["bbox"]["y1"]
            lines.append(f"  - C{cap['id']}: \"{text_preview}\" at ({x1:.0f}, {y1:.0f})")
    if not lines:
        lines.append("No figures, tables, or captions detected on this page.")
    return "\n".join(lines)


USER_PROMPT_TEMPLATE = """Analyze this document page and match figures/tables to their captions.

Detected elements on this page:
{elements_description}

Please respond with a JSON object containing:
1. "matches": array of objects with:
   - "figure_id": the figure number (1 for F1, 2 for F2, etc.) or null
   - "figure_type": "figure" or "table"
   - "caption_id": the caption number (1 for C1, 2 for C2, etc.) or null if no match
   - "confidence": your confidence level (0.0 to 1.0)
   - "reasoning": brief explanation of why you made this match

2. "unmatched_captions": array of caption IDs that don't match any figure/table on this page

Example response:
{{
  "matches": [
    {{"figure_id": 1, "figure_type": "figure", "caption_id": 1, "confidence": 0.95,
      "reasoning": "C1 is directly below F1 and starts with 'Figure 1'"}},
    {{"figure_id": 2, "figure_type": "figure", "caption_id": null, "confidence": 0.8,
      "reasoning": "F2 appears to be a continuation, caption likely on previous page"}},
    {{"figure_id": 1, "figure_type": "table", "caption_id": 2, "confidence": 0.9,
      "reasoning": "C2 is above T1 and says 'Table 1'"}}
  ],
  "unmatched_captions": [3]
}}

Respond ONLY with the JSON object, no additional text."""


def ref_build_user_prompt(figures, tables, captions):
    return USER_PROMPT_TEMPLATE.format(
        elements_description=ref_format_elements_description(
            figures, tables, captions
        )
    )


def ref_elements_from_rows(rows):
    """annotator.py:640-672: split by detection order, ids 1..n per type,
    pre-extracted caption text."""
    figures, tables, captions = [], [], []
    for r in sorted(rows, key=lambda r: r["det_idx"]):
        bbox = {"x1": r["x1"], "y1": r["y1"], "x2": r["x2"], "y2": r["y2"]}
        if r["class_name"] == "Figure":
            figures.append({"id": len(figures) + 1, "bbox": bbox})
        elif r["class_name"] == "Table":
            tables.append({"id": len(tables) + 1, "bbox": bbox})
        elif r["class_name"] in CAPTION_CLASSES:
            captions.append({"id": len(captions) + 1, "bbox": bbox,
                             "text": r["text"] or ""})
    return figures, tables, captions


@pytest.fixture(scope="module")
def pipeline_out(spark):
    from paper_layout_parser_spark.corpus import build_pages
    from paper_layout_parser_spark.plans.pipeline import run_pipeline

    pages = build_pages(spark, "/root/testdata/sf0.001")
    return run_pipeline(pages)


def test_elements_description_matches_reference(spark, pipeline_out):
    det = pipeline_out.enriched
    got = {
        (r["url"], r["page_no"]): r["elements_description"]
        for r in elements_description(det).collect()
    }
    rows_by_page: dict = {}
    for r in det.collect():
        rows_by_page.setdefault((r["url"], r["page_no"]), []).append(r.asDict())
    checked = 0
    for key, rows in rows_by_page.items():
        figures, tables, captions = ref_elements_from_rows(rows)
        if not (figures or tables or captions):
            assert key not in got
            continue
        assert got[key] == ref_format_elements_description(
            figures, tables, captions
        ), key
        checked += 1
    assert checked >= 50  # real corpus coverage, not a trivial fixture


def test_user_prompt_byte_identical_and_f7(spark, pipeline_out):
    reqs = build_vlm_requests(pipeline_out.enriched, pipeline_out.rasterized)
    sample = reqs.orderBy("url", "page_no").limit(5).collect()
    assert sample, "no eligible pages"
    det_rows: dict = {}
    for r in pipeline_out.enriched.collect():
        det_rows.setdefault((r["url"], r["page_no"]), []).append(r.asDict())
    for r in sample:
        figures, tables, captions = ref_elements_from_rows(
            det_rows[(r["url"], r["page_no"])]
        )
        assert figures or tables  # F7: only pages with figure/table content
        assert r["system_prompt"] == SYSTEM_PROMPT
        assert r["user_prompt"] == ref_build_user_prompt(
            figures, tables, captions
        )
    # F7 short-circuit: every eligible page has a figure or table
    n_eligible = reqs.count()
    n_with_content = (
        classify_elements(pipeline_out.enriched)
        .where(F.col("kind").isin("figure", "table"))
        .select("url", "page_no").distinct().count()
    )
    assert n_eligible == n_with_content


def test_caption_preview_edge_cases(spark):
    rows = [
        # 60-char caption -> 50 + '...'
        ("u", 1, 0, "Figure-Caption", 10.0, 20.0, 30.0, 40.0, "x" * 60),
        # empty text -> [no text]
        ("u", 1, 1, "Table-Caption", 50.0, 60.0, 70.0, 80.0, ""),
        # NULL text -> [no text] (reference .get('text','') default)
        ("u", 1, 2, "Figure-caption", 90.0, 12.5, 95.0, 99.0, None),
        ("u", 1, 3, "Figure", 2.5, 3.5, 9.0, 9.0, None),
    ]
    df = spark.createDataFrame(
        rows,
        "url string, page_no int, det_idx int, class_name string, "
        "x1 double, y1 double, x2 double, y2 double, text string",
    )
    desc = elements_description(df).first()["elements_description"]
    figures, tables, captions = ref_elements_from_rows(
        [dict(zip(("url", "page_no", "det_idx", "class_name",
                   "x1", "y1", "x2", "y2", "text"), r)) for r in rows]
    )
    # includes the {v:.0f} half-even cases (2.5 -> 2, 3.5 -> 4, 12.5 -> 12)
    assert desc == ref_format_elements_description(figures, tables, captions)


def test_direct_mode_and_data_url(spark, pipeline_out):
    reqs = build_vlm_requests(
        pipeline_out.enriched, pipeline_out.rasterized, mode="direct"
    )
    r = reqs.orderBy("url", "page_no").first()
    assert r["system_prompt"] == DIRECT_SYSTEM_PROMPT
    assert r["user_prompt"] == DIRECT_USER_PROMPT
    assert reqs.count() == pipeline_out.rasterized.count()  # every page
    prefix = "data:image/png;base64,"
    assert r["image_data_url"].startswith(prefix)
    payload = (
        pipeline_out.rasterized
        .where((F.col("url") == r["url"]) & (F.col("page_no") == r["page_no"]))
        .first()["page_payload"]
    )
    got = base64.b64decode(r["image_data_url"][len(prefix):].encode())
    assert got == bytes(payload)


def test_request_payload_shape_and_stub_consumption(spark, pipeline_out):
    """litellm_client.py:316-338 message shape; a stub client consumes the
    built payload end-to-end."""
    reqs = build_vlm_requests(pipeline_out.enriched, pipeline_out.rasterized)
    r = reqs.first()
    payload = request_payload(
        r["system_prompt"], r["user_prompt"], r["image_data_url"],
        model="stub-vlm", max_tokens=1024, temperature=0.0,
    )
    assert payload["model"] == "stub-vlm"
    msgs = payload["messages"]
    assert [m["role"] for m in msgs] == ["system", "user"]
    assert msgs[0]["content"] == SYSTEM_PROMPT
    image_part, text_part = msgs[1]["content"]
    assert image_part["type"] == "image_url"
    assert image_part["image_url"]["url"] == r["image_data_url"]
    assert text_part == {"type": "text", "text": r["user_prompt"]}

    class RecordingClient:
        seen = []

        def complete(self, **kwargs):
            RecordingClient.seen.append(kwargs)
            return '{"matches": [], "unmatched_captions": []}'

    client = RecordingClient()
    resp = client.complete(**payload)
    assert RecordingClient.seen[0]["messages"] == msgs
    assert "matches" in resp
