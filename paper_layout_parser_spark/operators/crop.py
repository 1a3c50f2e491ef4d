"""Figure/table crop images (SURVEY K4).

The reference crops each figure or table from the page it already has
open (figure_extractor.py:108-142 ``_crop_and_save_image``: convert the
bbox to PDF coords, pad by ``padding * 72/dpi``, clamp to the page rect,
re-render the clip at zoom = dpi/72). The pipeline does the same inside
its one render: given a codec (``run_pipeline(crop_codec_factory=...)``),
the fused detect stage computes each figure or table's rect with
``algorithms.crop_rect`` and renders the crop from the page it has just
rendered. The CROP_COLUMNS ride on the item's row, so the crops table is
a projection of the extracted items: no second render, no join.

The codec is pluggable: the real one re-renders the clip with fitz; this
sandbox ships a deterministic stub with the same call signature.
"""

from __future__ import annotations

BOUNDS_COLUMNS = ("pdf_x0", "pdf_y0", "pdf_x1", "pdf_y1",
                  "px_x0", "px_y0", "px_x1", "px_y1")
# the columns the fused stage adds to each figure/table row under a codec
CROP_COLUMNS = (*BOUNDS_COLUMNS, "crop", "crop_w", "crop_h")
CROP_COLUMNS_DDL = (", ".join(f"{c} double" for c in BOUNDS_COLUMNS)
                    + ", crop binary, crop_w int, crop_h int")
# the crops table: one row per extracted item
CROP_SCHEMA = ("url string, item_type string, item_id string, "
               "page_number int, " + CROP_COLUMNS_DDL)


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
