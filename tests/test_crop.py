"""Crop sink (K4) tests: the per-item rect arithmetic and the crops the
fused stage renders."""

import math
from unittest import mock

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import _parse_datatype_string

import __spark_entry__ as entry
from paper_layout_parser_spark import algorithms
from paper_layout_parser_spark import synthdata as sd
from paper_layout_parser_spark.algorithms import crop_rect, spark_round
from paper_layout_parser_spark.corpus import build_pages
from paper_layout_parser_spark.operators.crop import CROP_SCHEMA, StubCropCodec
from paper_layout_parser_spark.plans.pipeline import run_pipeline

from .conftest import SF_SMALL

PDF_KEYS = ("pdf_x0", "pdf_y0", "pdf_x1", "pdf_y1")


@pytest.fixture(scope="module")
def pages(spark):
    return build_pages(spark, SF_SMALL).where(
        F.regexp_extract("url", r"([0-9]+)$", 1).cast("long") < 10
    ).persist()


@pytest.fixture(scope="module")
def out(pages):
    return run_pipeline(pages, crop_codec_factory=StubCropCodec)


def _ref_crop(bbox, page_w, page_h, dpi=200.0, padding=10.0):
    """Straight transcription of figure_extractor.py:56-72,108-142."""
    scale = 72.0 / dpi
    x0, y0 = bbox[0] * scale, bbox[1] * scale
    x1, y1 = bbox[2] * scale, bbox[3] * scale
    pad = padding * scale
    return (
        max(0.0, x0 - pad),
        max(0.0, y0 - pad),
        min(page_w * scale, x1 + pad),
        min(page_h * scale, y1 + pad),
    )


def _rect(box, width, height, padding=algorithms.CROP_PADDING_PX) -> dict:
    keys = PDF_KEYS + ("px_x0", "px_y0", "px_x1", "px_y1")
    with mock.patch.object(algorithms, "CROP_PADDING_PX", padding):
        return dict(zip(keys, crop_rect(box, width, height)))


def test_bounds_match_reference_math():
    # includes edge items that exercise BOTH clamps (x/y at 0, x/y at rect max)
    rows = [
        ("fig_01_01", 100.0, 200.0, 300.0, 400.0),
        ("fig_01_02", 5.0, 3.0, 60.0, 90.0),        # clamps at 0
        ("table_01_01", 1000.0, 1500.0, 1224.0, 1584.0),  # clamps at rect
    ]
    got = {iid: _rect(box, 1224, 1584) for iid, *box in rows}
    for iid, a, b, c, d in rows:
        exp = _ref_crop((a, b, c, d), 1224.0, 1584.0)
        r = got[iid]
        for k, e in zip(PDF_KEYS, exp):
            assert abs(r[k] - e) < 1e-9, (iid, k, r[k], e)
        # pixel rect = pdf rect * dpi/72
        for k, e in zip(("px_x0", "px_y0", "px_x1", "px_y1"), exp):
            assert abs(r[k] - e * 200.0 / 72.0) < 1e-6
    # clamp actually engaged
    assert got["fig_01_02"]["pdf_x0"] == 0.0
    assert got["table_01_01"]["pdf_x1"] == pytest.approx(1224.0 * 72.0 / 200.0)


def test_bounds_clamp_per_page_rect():
    """The SAME bbox on pages of different sizes clamps against each
    page's own rect — figure_extractor.py:117-133 reads page.rect per
    page, never a corpus constant."""
    bbox = (1150.0, 1500.0, 1220.0, 1575.0)
    got = {"fig_01_01": _rect(bbox, 1224, 1584),   # clamps
           "fig_02_01": _rect(bbox, 1654, 2339)}   # doesn't
    for iid, (w, h) in (("fig_01_01", (1224, 1584)), ("fig_02_01", (1654, 2339))):
        exp = _ref_crop(bbox, float(w), float(h))
        for k, e in zip(PDF_KEYS, exp):
            assert abs(got[iid][k] - e) < 1e-9, (iid, k)
    # the two pages disagree exactly where the small page's rect binds
    assert got["fig_01_01"]["pdf_x1"] == pytest.approx(1224.0 * 72.0 / 200.0)
    assert got["fig_01_01"]["pdf_y1"] == pytest.approx(1584.0 * 72.0 / 200.0)
    assert got["fig_02_01"]["pdf_x1"] == pytest.approx(1220.0 * 72.0 / 200.0 + 3.6)
    assert got["fig_02_01"]["pdf_y1"] == pytest.approx(1575.0 * 72.0 / 200.0 + 3.6)


def test_rect_rounds_half_way_inputs_like_the_oracle():
    """On a 0.01 grid every rect value lands on its rounding grid; the
    inputs half way between grid points are where rounding rules part.
    Each box below has a pixel edge where Python's ``round`` (20.055, 21.005,
    20.255) or ``spark_round`` (20.165, 21.005, 20.255) rounds the other
    way from ``floor(v * 100 + 0.5) / 100``, the rule the DuckDB oracle's
    ``_crop_rect_sql`` applies; the rect must follow the oracle."""
    boxes = [(20.055, 20.165, 300.255, 400.305),
             (21.005, 20.255, 1000.125, 1500.215)]
    pages = [(1224, 1584), (1654, 2339)]

    def floor_round(v, d):
        return math.floor(v * 10.0 ** d + 0.5) / 10.0 ** d

    # the inputs discriminate: some unrounded pixel edge rounds differently
    edges = [(v * 72.0 / 200.0 - 3.6) * 200.0 / 72.0
             for box in boxes for v in box[:2]]
    assert any(round(v, 2) != floor_round(v, 2) for v in edges)
    assert any(spark_round(v, 2) != floor_round(v, 2) for v in edges)

    # DOUBLE columns, as the crop_render gate reads them: bare VALUES
    # literals would be DECIMAL, and the oracle would compute exactly
    cols = ("item_x1", "item_y1", "item_x2", "item_y2", "page_w", "page_h")
    values = ", ".join(f"({', '.join(map(repr, box))}, {w}.0, {h}.0)"
                       for box in boxes for w, h in pages)
    doubles = ", ".join(f"CAST({c} AS DOUBLE) AS {c}" for c in cols)
    want = duckdb.sql(
        f"SELECT {entry._crop_rect_sql()} FROM (SELECT {doubles} "
        f"FROM (VALUES {values}) v({', '.join(cols)}))").fetchall()
    got = [crop_rect(box, w, h) for box in boxes for w, h in pages]
    assert got == [tuple(r) for r in want]


def test_pipeline_corpus_mixes_page_sizes(out):
    """The synthetic corpus itself exercises the per-page path: matched rows
    carry width/height and more than one distinct page size flows into the
    crop rects."""
    dims = {(r["width"], r["height"])
            for r in out.matched.select("width", "height").distinct().collect()}
    assert len(dims) >= 2
    assert dims <= set(sd.PAGE_SIZES)


def test_pixel_pdf_roundtrip():
    # unpadded and unclamped, the pixel rect is the item bbox scaled to
    # PDF points and back (P5: pdf = px * 72/dpi; zoom = dpi/72)
    box = (123.45, 200.0, 300.0, 400.0)
    r = _rect(box, 1224, 1584, padding=0.0)
    px = tuple(r[k] for k in ("px_x0", "px_y0", "px_x1", "px_y1"))
    assert px == pytest.approx(box, abs=1e-12)


def test_render_is_deterministic_and_schema_stable(spark, pages):
    """Crop bytes are reproducible when a partition is recomputed (task
    retry, resume): render the crops, drop the cache, render them again."""
    renders = spark.sparkContext.accumulator(0)

    class CountingCodec(StubCropCodec):
        def render(self, page_payload, px_rect):
            renders.add(1)
            return StubCropCodec.render(self, page_payload, px_rect)

    out = run_pipeline(pages, crop_codec_factory=CountingCodec)
    crops = out.crops
    want = _parse_datatype_string(CROP_SCHEMA)
    assert [(f.name, f.dataType) for f in crops.schema] == [
        (f.name, f.dataType) for f in want]
    rows1 = {r["item_id"] + r["url"]: bytes(r["crop"]) for r in crops.collect()}
    n_items = out.matched.count()
    assert renders.value == n_items
    out.unpersist()
    # a fresh DataFrame over the same plan, so nothing reads the old cache
    rows2 = {r["item_id"] + r["url"]: bytes(r["crop"])
             for r in crops.select("*").collect()}
    assert renders.value == 2 * n_items   # the second collect re-rendered
    assert rows1 == rows2
    assert len(rows1) == n_items  # one crop per item, none dropped
    blob = next(iter(rows1.values()))
    assert blob[:5] == b"CROP1"


def test_codec_failure_fails_the_job(pages):
    """A crop codec failure is not quarantined as a detect failure, which
    would drop the page's detections from every other table: the job
    fails, as it did when the crops were a separate render pass."""
    class FailingCodec(StubCropCodec):
        def render(self, page_payload, px_rect):
            raise RuntimeError("codec unavailable")

    out = run_pipeline(pages, crop_codec_factory=FailingCodec)
    try:
        with pytest.raises(Exception, match="codec unavailable"):
            out.quarantine.collect()
    finally:
        out.unpersist()


def test_crop_dims_consistent_with_bounds(spark, out):
    # the crop row carries the rect the codec rendered, so the sink row is
    # self-consistent without any re-join
    bad = out.crops.where(
        (F.col("crop_w") != F.floor(F.col("px_x1") - F.col("px_x0")).cast("int"))
        | (F.col("crop_h") != F.floor(F.col("px_y1") - F.col("px_y0")).cast("int"))
    ).count()
    assert bad == 0


RECT = st.tuples(
    st.floats(0, 1200), st.floats(0, 1560),
    st.floats(1, 400), st.floats(1, 400),
).map(lambda t: (t[0], t[1], min(t[0] + t[2], 1224.0), min(t[1] + t[3], 1584.0)))


class TestCropProperties:
    @settings(max_examples=30, deadline=None)
    @given(rects=st.lists(RECT, min_size=1, max_size=8),
           padding=st.floats(0, 50))
    def test_bounds_always_inside_page_rect(self, rects, padding):
        """Invariants from figure_extractor.py:108-142 for arbitrary boxes:
        crop rect stays inside [0, page_rect]; padding only grows the rect
        (up to the clamp); pixel rect is the pdf rect at dpi/72."""
        rect_w, rect_h = 1224.0 * 72.0 / 200.0, 1584.0 * 72.0 / 200.0
        for box in rects:
            r = _rect(box, 1224, 1584, padding=padding)
            z = _rect(box, 1224, 1584, padding=0.0)
            assert 0.0 <= r["pdf_x0"] <= r["pdf_x1"] <= rect_w + 1e-4
            assert 0.0 <= r["pdf_y0"] <= r["pdf_y1"] <= rect_h + 1e-4
            assert r["pdf_x0"] <= z["pdf_x0"] + 1e-9
            assert r["pdf_x1"] >= z["pdf_x1"] - 1e-9
            assert abs(r["px_x1"] - r["pdf_x1"] * 200.0 / 72.0) < 2e-2
