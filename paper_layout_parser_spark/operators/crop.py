"""Figure/table crop-image sink (SURVEY K4) + coordinate helpers (P5, P6, P9).

Reference semantics:
  * P5 pixel->PDF scale      — figure_extractor.py:56-72
    (``_pixel_to_pdf_coords``: PDF = pixel * 72/dpi);
  * K4 crop with pad+clamp   — figure_extractor.py:108-142
    (``_crop_and_save_image``: convert to PDF coords, pad by
    ``padding * 72/dpi``, clamp to the page rect, re-render the clip at
    zoom = dpi/72);
  * P6 normalized->pixel     — vlm_annotator/annotator.py:461-483
    (``_normalize_to_pixel``: int(v * dim / 1000), truncation);
  * P9 base64 encode         — vlm_annotator/base.py:183-194.

Spark shape: the pad/clamp/scale math is pure column arithmetic (whole-stage
codegen, identical expression shape to the DuckDB oracle so results are
bit-identical); only the final pixel render is a pandas UDF behind a
pluggable codec — the real backend re-renders the clip via fitz; this
sandbox ships a deterministic stub codec with the same schema and batch
shape, so swapping in fitz touches nothing upstream.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.geometry import round_half_up

PDF_BASE_DPI = 72.0
DEFAULT_DPI = 200.0
DEFAULT_PADDING_PX = 10.0


def pixel_to_pdf(col: Column, dpi: float = DEFAULT_DPI) -> Column:
    """P5: pixel coordinate (rendered at ``dpi``) -> PDF coordinate (72 DPI).
    figure_extractor.py:56-72."""
    return col * PDF_BASE_DPI / dpi


def pdf_to_pixel(col: Column, dpi: float = DEFAULT_DPI) -> Column:
    """Inverse of P5 — the zoom matrix used when re-rendering the clip
    (figure_extractor.py:131-133: zoom = dpi/72)."""
    return col * dpi / PDF_BASE_DPI


def normalized_to_pixel(col: Column, dim: Column | int) -> Column:
    """P6: VLM-normalized coordinate in [0, 1000] -> pixel, truncating like
    the reference's int() (annotator.py:461-483). Inputs are non-negative so
    floor == trunc."""
    dim_col = F.lit(dim) if isinstance(dim, int) else dim
    return F.floor(col * dim_col / F.lit(1000)).cast("int")


def b64(col: Column) -> Column:
    """P9: binary -> standard base64 string (base.py:183-194)."""
    return F.base64(col)


def crop_bounds(
    matched: DataFrame,
    page_w: float | None = None,
    page_h: float | None = None,
    dpi: float = DEFAULT_DPI,
    padding: float = DEFAULT_PADDING_PX,
) -> DataFrame:
    """K4 bounds math: item bbox (pixels at ``dpi``) -> padded, clamped crop
    rect in PDF coordinates plus the pixel-space render rect.

    Mirrors figure_extractor.py:108-142 exactly:
      pdf = px * 72/dpi;  pad_pdf = padding * 72/dpi;
      x0 = max(0, pdf_x1 - pad); y0 = max(0, pdf_y1 - pad);
      x1 = min(page_rect_w, pdf_x2 + pad); y1 = min(page_rect_h, pdf_y2 + pad)
    where page_rect_{w,h} = page pixel dims * 72/dpi (the page rect fitz
    reports for a page rendered at ``dpi``). The reference reads that rect
    PER PAGE (figure_extractor.py:117-133 ``page.rect``), so the default
    here clamps against the row's own ``width``/``height`` columns (the
    item's page dims, which the fused detect stage emits and
    match_captions keeps); pass scalar
    ``page_w``/``page_h`` only for a corpus known to be uniform-size.
    The pixel rect is the same rect at zoom = dpi/72 (what the re-render
    rasterizes).

    All expressions keep the literal shape ``v * 72.0 / dpi`` so the DuckDB
    oracle (same shape) is bit-identical; outputs are rounded half-up at the
    serialization edge like every other surface.
    """
    pad_pdf = F.lit(padding) * PDF_BASE_DPI / dpi
    w_src = F.col("width") if page_w is None else F.lit(page_w)
    h_src = F.col("height") if page_h is None else F.lit(page_h)
    rect_w = w_src * PDF_BASE_DPI / dpi
    rect_h = h_src * PDF_BASE_DPI / dpi

    x0 = F.greatest(F.lit(0.0), pixel_to_pdf(F.col("item_x1"), dpi) - pad_pdf)
    y0 = F.greatest(F.lit(0.0), pixel_to_pdf(F.col("item_y1"), dpi) - pad_pdf)
    x1 = F.least(rect_w, pixel_to_pdf(F.col("item_x2"), dpi) + pad_pdf)
    y1 = F.least(rect_h, pixel_to_pdf(F.col("item_y2"), dpi) + pad_pdf)

    return matched.select(
        "url",
        "item_type",
        "item_id",
        "page_number",
        round_half_up(x0, 4).alias("pdf_x0"),
        round_half_up(y0, 4).alias("pdf_y0"),
        round_half_up(x1, 4).alias("pdf_x1"),
        round_half_up(y1, 4).alias("pdf_y1"),
        # the pixel rect the re-render rasterizes (zoom = dpi/72)
        round_half_up(pdf_to_pixel(x0, dpi), 2).alias("px_x0"),
        round_half_up(pdf_to_pixel(y0, dpi), 2).alias("px_y0"),
        round_half_up(pdf_to_pixel(x1, dpi), 2).alias("px_x1"),
        round_half_up(pdf_to_pixel(y1, dpi), 2).alias("px_y1"),
    )


class StubCropCodec:
    """Deterministic stand-in for the fitz clip re-render: emits a
    pseudo-image whose bytes are a pure function of (page payload, rect).
    The real codec renders ``page.get_pixmap(matrix=Matrix(zoom, zoom),
    clip=rect)`` and returns the PNG bytes — same signature."""

    def render(self, page_payload: bytes, px_rect: tuple) -> bytes:
        import hashlib
        import struct

        w = max(0, int(px_rect[2] - px_rect[0]))
        h = max(0, int(px_rect[3] - px_rect[1]))
        digest = hashlib.sha256(
            bytes(page_payload) + struct.pack(">4d", *px_rect)
        ).digest()
        return b"CROP1" + struct.pack(">II", w, h) + digest


class FitzCropCodec:
    """Real PyMuPDF clip renderer — gated: the lib is not in this sandbox."""

    def __init__(self):
        try:
            import fitz  # type: ignore  # noqa: F401
        except ImportError as exc:  # pragma: no cover
            raise NotImplementedError(
                "PyMuPDF (fitz) is not installed; use StubCropCodec or "
                "deploy with the pymupdf wheel."
            ) from exc

    def render(self, page_payload: bytes, px_rect: tuple) -> bytes:  # pragma: no cover
        raise NotImplementedError("open doc, get_pixmap(matrix, clip).tobytes('png')")


_BOUNDS_COLS = ("pdf_x0", "pdf_y0", "pdf_x1", "pdf_y1",
                "px_x0", "px_y0", "px_x1", "px_y1")

CROP_SCHEMA = (
    "url string, item_type string, item_id string, page_number int, "
    + ", ".join(f"{c} double" for c in _BOUNDS_COLS)
    + ", crop binary, crop_w int, crop_h int"
)


def render_crops(
    bounds: DataFrame,
    rasterized: DataFrame,
    codec_factory=StubCropCodec,
) -> DataFrame:
    """K4 sink: join crop rects back to their page payloads and render one
    crop image per item — the crop_bounds geometry columns ride through
    unchanged (the sink row carries the rect it rasterized), plus
    (crop binary, crop_w, crop_h).

    The join is equi on (url, page_number) — co-partitioned with the page
    table; the render is an Arrow-batched pandas UDF with per-task codec
    init (the reference's per-document fitz open, amortized per task)."""
    pages = rasterized.select(
        "url", F.col("page_no").alias("page_number"), "page_payload"
    )
    joined = bounds.join(pages, ["url", "page_number"])

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        codec = codec_factory()  # once per task
        for pdf in it:
            crops, ws, hs = [], [], []
            for payload, x0, y0, x1, y1 in zip(
                pdf["page_payload"], pdf["px_x0"], pdf["px_y0"],
                pdf["px_x1"], pdf["px_y1"],
            ):
                blob = codec.render(payload, (x0, y0, x1, y1))
                crops.append(blob)
                ws.append(max(0, int(x1 - x0)))
                hs.append(max(0, int(y1 - y0)))
            out = {
                "url": pdf["url"], "item_type": pdf["item_type"],
                "item_id": pdf["item_id"], "page_number": pdf["page_number"],
            }
            out.update({c: pdf[c] for c in _BOUNDS_COLS})
            out.update({"crop": crops, "crop_w": ws, "crop_h": hs})
            yield pd.DataFrame(out)

    return joined.mapInPandas(run, schema=CROP_SCHEMA)


def crops_base64(crops: DataFrame) -> DataFrame:
    """P9 surface: the crop sink rows with the binary encoded as standard
    base64 (what the VLM request payload carries, base.py:183-194)."""
    return crops.withColumn("crop_b64", b64(F.col("crop"))).drop("crop")
