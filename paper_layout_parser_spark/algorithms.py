"""Pure-Python per-page algorithms run inside the fused detect stage and
shared with the test oracle: recursive XY-cut reading order, clipped text
extraction, the reference's caption matching (greedy assignment) and the
crop rect of each figure or table.

These run on one page's detections inside the Arrow-batched mapInPandas
stage; keeping them here (no Spark, no pandas) means the oracle and the
distributed path execute the *same* bytes, and byte-identity failures can
only come from orchestration.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from .synthdata import (
    FIGURE_CAPTION_CLASSES,
    FIGURE_CLASSES,
    TABLE_CAPTION_CLASSES,
    TABLE_CLASSES,
)


# ---------------------------------------------------------------------------
# XY-cut reading order (O6 — a rebuild extension the north star requires;
# the reference keeps model output order, layout_detector.py:171-193)
# ---------------------------------------------------------------------------

def _merge_intervals(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Merge overlapping-or-touching intervals; result sorted by start."""
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _split_bands(idxs: list[int], lo: list[float], hi: list[float]) -> list[list[int]]:
    """Partition boxes into >=2 bands separated by strictly positive gaps in
    the chosen projection, else return a single band."""
    merged = _merge_intervals([(lo[i], hi[i]) for i in idxs])
    if len(merged) <= 1:
        return [idxs]
    bands: list[list[int]] = [[] for _ in merged]
    for i in idxs:
        for k, (a, b) in enumerate(merged):
            if lo[i] >= a and hi[i] <= b:
                bands[k].append(i)
                break
    return bands


def xy_cut_order(boxes: list[tuple[float, float, float, float]]) -> list[int]:
    """Return the positions of ``boxes`` (x1, y1, x2, y2) in reading order.

    Recursive XY-cut: split by horizontal whitespace bands first (top to
    bottom), then by vertical bands (left to right); a leaf that admits no
    cut is ordered by (y1, x1, input position) — deterministic for any tie.
    """
    x1 = [b[0] for b in boxes]
    y1 = [b[1] for b in boxes]
    x2 = [b[2] for b in boxes]
    y2 = [b[3] for b in boxes]
    order: list[int] = []

    def rec(idxs: list[int]) -> None:
        if len(idxs) <= 1:
            order.extend(idxs)
            return
        bands = _split_bands(idxs, y1, y2)
        if len(bands) > 1:
            for band in bands:
                rec(band)
            return
        cols = _split_bands(idxs, x1, x2)
        if len(cols) > 1:
            for col in cols:
                rec(col)
            return
        order.extend(sorted(idxs, key=lambda i: (y1[i], x1[i], i)))

    rec(list(range(len(boxes))))
    return order


# ---------------------------------------------------------------------------
# clipped text extraction (P7 — figure_extractor.py:89-106:
# page.get_text("text", clip=rect).strip())
# ---------------------------------------------------------------------------

def clip_text(blocks: list[dict], x1: float, y1: float, x2: float, y2: float) -> str:
    """Text of all source blocks with positive-area intersection with the
    clip rect, in block order, newline-joined, stripped — the stub analogue
    of PyMuPDF's clipped text extraction."""
    parts = []
    for blk in blocks:
        bx1, by1, bx2, by2 = blk["bbox"]
        if min(x2, bx2) > max(x1, bx1) and min(y2, by2) > max(y1, by1):
            parts.append(blk["text"])
    return "\n".join(parts).strip()


# ---------------------------------------------------------------------------
# greedy caption assignment (J2 — caption_matcher.py:175-191)
# ---------------------------------------------------------------------------

def greedy_assign(pairs: list[tuple[int, int, float]]) -> dict[int, int]:
    """pairs: (item_key, caption_key, distance) in item-major enumeration
    order. Returns {item_key: caption_key} replicating the reference greedy:
    stable sort by distance (ties keep item-major order), take a pair iff
    neither side is used yet."""
    used_items: set[int] = set()
    used_caps: set[int] = set()
    result: dict[int, int] = {}
    for item, cap, _ in sorted(pairs, key=lambda t: t[2]):
        if item not in used_items and cap not in used_caps:
            result[item] = cap
            used_items.add(item)
            used_caps.add(cap)
    return result


# ---------------------------------------------------------------------------
# per-page caption matching (J1-J3 — caption_matcher.py:21-199)
# ---------------------------------------------------------------------------

# the reference defaults (caption_matcher.py:21-41): figures search BELOW,
# tables ABOVE, within 100 px, overlapping >= 0.3 of the smaller width
MAX_VERTICAL_DISTANCE = 100.0
MIN_HORIZONTAL_OVERLAP = 0.3
_SEARCHES = (  # (item classes, caption classes, caption below the item)
    (FIGURE_CLASSES, FIGURE_CAPTION_CLASSES, True),
    (TABLE_CLASSES, TABLE_CAPTION_CLASSES, False),
)


def horizontal_overlap(a: tuple, b: tuple) -> float:
    """Overlap length of two (x1, y1, x2, y2) boxes relative to the SMALLER
    width (caption_matcher.py:43-64); 0.0 when that width is degenerate."""
    overlap = max(0.0, min(a[2], b[2]) - max(a[0], b[0]))
    min_width = min(a[2] - a[0], b[2] - b[0])
    return 0.0 if min_width <= 0 else overlap / min_width


def match_page_captions(names: list[str],
                        boxes: list[tuple[float, float, float, float]]
                        ) -> list[int | None]:
    """Caption assignment on one page, per item type: a pair is valid iff
    the caption lies in the type's search direction no more than
    MAX_VERTICAL_DISTANCE away and overlaps at least MIN_HORIZONTAL_OVERLAP
    (caption_matcher.py:66-131); valid pairs go to ``greedy_assign`` in
    item-major detection order.

    ``names`` are normalized class names and ``boxes`` (x1, y1, x2, y2),
    both in detection order. Returns, per detection, the position of the
    caption assigned to it: None for unmatched items and for every other
    class."""
    assigned: list[int | None] = [None] * len(names)
    for item_classes, cap_classes, below in _SEARCHES:
        caps = [j for j, n in enumerate(names) if n in cap_classes]
        pairs = []
        for i, name in enumerate(names):
            if name not in item_classes:
                continue
            item = boxes[i]
            for j in caps:
                cap = boxes[j]
                dist = cap[1] - item[3] if below else item[1] - cap[3]
                if (0 <= dist <= MAX_VERTICAL_DISTANCE and
                        horizontal_overlap(item, cap) >= MIN_HORIZONTAL_OVERLAP):
                    pairs.append((i, j, dist))
        for i, j in greedy_assign(pairs).items():
            assigned[i] = j
    return assigned


def spark_round(x: float, digits: int) -> float:
    """``x`` as Spark's ``round(x, digits)`` returns it for a double:
    HALF_UP on the shortest decimal string of ``x`` (java BigDecimal.valueOf),
    so 300.005 -> 300.01 where Python's ``round`` gives 300.0."""
    if not math.isfinite(x):
        return x
    return float(Decimal(repr(float(x))).quantize(Decimal(1).scaleb(-digits),
                                                   ROUND_HALF_UP))


def _floor_round(x: float, digits: int) -> float:
    """``floor(x * 10**digits + 0.5) / 10**digits``: the half-up rounding
    of ``functions.geometry.round_half_up`` and the DuckDB oracle, done on
    the double ``x`` itself (not on its decimal string, as ``spark_round``
    does)."""
    factor = float(10 ** digits)
    return math.floor(x * factor + 0.5) / factor


# ---------------------------------------------------------------------------
# crop rect (K4 — figure_extractor.py:56-72,108-142)
# ---------------------------------------------------------------------------

PDF_BASE_DPI = 72.0
CROP_DPI = 200.0       # the render dpi the item bboxes are measured at
CROP_PADDING_PX = 10.0


def crop_rect(box: tuple[float, float, float, float], width: int,
              height: int) -> tuple[float, ...]:
    """The padded crop rect of one item on its page, as
    ``_crop_and_save_image`` computes it: the item bbox (pixels at
    CROP_DPI) scaled to PDF points (``v * 72/dpi``), padded by
    ``CROP_PADDING_PX * 72/dpi`` and clamped to the page rect
    (``width``/``height`` in pixels, scaled the same way), then scaled
    back by ``dpi/72`` for the clip the re-render rasterizes.

    ``box`` is (x1, y1, x2, y2) as the extracted item stores it (rounded
    to 2 dp the way Spark rounds). Returns the PDF rect rounded half-up to
    4 dp and the pixel rect, computed from the unrounded PDF rect, rounded
    half-up to 2 dp: (pdf_x0, pdf_y0, pdf_x1, pdf_y1, px_x0, px_y0, px_x1,
    px_y1). Every term keeps the shape of the DuckDB oracle
    (``__spark_entry__._crop_rect_sql``), so the doubles are identical."""
    dpi = CROP_DPI
    pad = CROP_PADDING_PX * PDF_BASE_DPI / dpi
    x0 = max(0.0, box[0] * PDF_BASE_DPI / dpi - pad)
    y0 = max(0.0, box[1] * PDF_BASE_DPI / dpi - pad)
    x1 = min(width * PDF_BASE_DPI / dpi, box[2] * PDF_BASE_DPI / dpi + pad)
    y1 = min(height * PDF_BASE_DPI / dpi, box[3] * PDF_BASE_DPI / dpi + pad)
    pdf = (x0, y0, x1, y1)
    return (*(_floor_round(v, 4) for v in pdf),
            *(_floor_round(v * dpi / PDF_BASE_DPI, 2) for v in pdf))
