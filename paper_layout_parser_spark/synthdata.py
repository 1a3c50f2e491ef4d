"""Deterministic synthetic-corpus spec, rendered three independent ways.

The engine's input is an Iceberg/parquet table of Common-Crawl-style pages
(``url, warc_ts, html, text, lang`` — BASELINE.json::input_hint). For tests
and benchmarks we synthesize that table deterministically from the driver's
``documents.parquet`` (seed data), embedding per page a known set of layout
blocks whose geometry is lifted from the reference's own test fixtures
(/root/reference/tests/conftest.py:12-58 and
tests/test_matching/test_caption_matcher.py:176-276).

ONE spec table (``FAMILIES``) drives:
  1. the pure-Python page generator (used by the Spark corpus builder's
     mapInPandas UDF *and* by the single-process test oracle), and
  2. a DuckDB SQL CTE builder (used by ``__spark_entry__.oracle_sql`` so the
     driver's Spark-vs-DuckDB comparison cross-checks two independent
     implementations).

All arithmetic is integer (bbox coords) or dyadic-rational (confidence is a
multiple of 1/16, exactly representable in IEEE-754, so sums/averages are
order-independent and bit-identical across Spark, DuckDB and Python).
"""

from __future__ import annotations

import json
from dataclasses import dataclass

# ---------------------------------------------------------------------------
# scalar formulas (keep these in perfect sync with the SQL rendering below)
# ---------------------------------------------------------------------------

GIANT_MOD = 101          # every 101st doc is a "giant" (skew exerciser)
GIANT_PAGES = 64
PAGE_W, PAGE_H = 1224, 1584   # 200-DPI US-letter-ish, like the reference
# Mixed per-page sizes: real corpora mix letter/A4/oversize pages, and the
# reference clamps crops/overlays against each page's OWN rect
# (figure_extractor.py:117-133 page.rect) — a uniform-size corpus cannot
# catch per-page-dimension bugs, so the spec varies the size per page.
# Every variant exceeds the block-geometry extents (x<=1100, y<=1530).
PAGE_SIZES = [
    (PAGE_W, PAGE_H),   # US letter @ 200 DPI
    (1240, 1754),       # A4 @ 150 DPI
    (1654, 2339),       # A4 @ 200 DPI
]
URL_FMT = "https://example.org/doc/%08d"
WARC_EPOCH = "2020-01-01 00:00:00"   # warc_ts = epoch + doc_id seconds


def n_pages(doc_id: int) -> int:
    return GIANT_PAGES if doc_id % GIANT_MOD == 0 else 1 + (doc_id % 8)


def page_dims(doc_id: int, p: int) -> tuple[int, int]:
    """Per-page (width, height) in pixels — deterministic size variant."""
    return PAGE_SIZES[(doc_id * 7 + p * 3) % 3]


def page_dims_sql(w_alias: str = "w", h_alias: str = "h") -> str:
    """SQL twin of page_dims for the ``ps`` CTE (columns doc_id, p)."""
    sel = "(doc_id * 7 + p * 3) % 3"
    ws = " ".join(f"WHEN {i} THEN {wh[0]}" for i, wh in enumerate(PAGE_SIZES))
    hs = " ".join(f"WHEN {i} THEN {wh[1]}" for i, wh in enumerate(PAGE_SIZES))
    return (f"CASE {sel} {ws} END AS {w_alias}, "
            f"CASE {sel} {hs} END AS {h_alias}")


def scenario(doc_id: int, p: int) -> int:
    """Per-page scenario selector in [0, 10). Chooses which block families
    appear and which caption-geometry variant is used (match / too-far /
    no-overlap / wrong-direction / absent — mirroring the reference's test
    matrix at tests/test_matching/test_caption_matcher.py)."""
    return (doc_id * 131 + p * 17) % 10


def confidence(doc_id: int, p: int, b: int) -> float:
    """Multiple of 1/16 in [0.5, 0.9375] — exact in binary floating point."""
    return (8 + ((doc_id * 13 + p * 7 + b * 3) % 8)) / 16.0


def url_of(doc_id: int) -> str:
    return URL_FMT % doc_id


# ---------------------------------------------------------------------------
# block family spec
# ---------------------------------------------------------------------------
# pred DSL: ("always",) | ("le", k) -> s <= k | ("eq", k) | ("in", (a, b, ...))
# geom: {scenario_or_None: (x1, y1, x2, y2)}; None is the default variant.

@dataclass(frozen=True)
class Family:
    b: int                      # block index == model output order
    class_id: int
    raw_name: str               # name as the detection model emits it
    pred: tuple
    geom: dict

    @property
    def norm_name(self) -> str:
        return normalize_class_name(self.raw_name)


def normalize_class_name(name: str) -> str:
    """Reference normalization (layout_detector.py:143-146):
    ``name.replace("_", "-").title().replace(" ", "-")`` — e.g.
    'Figure-caption' -> 'Figure-Caption', 'plain text' -> 'Plain-Text'."""
    return name.replace("_", "-").title().replace(" ", "-")


FAMILIES: list[Family] = [
    Family(0, 0, "Title", ("always",), {None: (100, 40, 1100, 90)}),
    # two-column page when s == 7 (XY-cut exerciser), single body block else
    Family(1, 1, "Text", ("always",), {7: (100, 150, 590, 700), None: (100, 100, 1100, 140)}),
    Family(2, 1, "Text", ("eq", 7), {None: (634, 150, 1100, 700)}),
    # Figure + caption variants (fixture geometry: conftest.py:12-34)
    Family(3, 3, "Figure", ("le", 4), {None: (100, 200, 300, 400)}),
    Family(4, 4, "Figure-caption", ("le", 3), {
        0: (100, 420, 300, 460),   # 20px below, full overlap  -> match
        1: (100, 520, 300, 560),   # 120px below (>100)        -> too far
        2: (360, 420, 560, 460),   # no horizontal overlap     -> no match
        3: (100, 150, 300, 190),   # above a figure (dir=BELOW)-> invalid
    }),
    # Table + caption variants (conftest.py:36-58); tables search ABOVE
    Family(5, 6, "Table-caption", ("in", (0, 4)), {None: (50, 460, 400, 490)}),   # match
    Family(6, 5, "Table", ("in", (0, 2, 4, 5, 6)), {None: (50, 500, 400, 700)}),
    Family(7, 6, "Table-caption", ("eq", 2), {None: (50, 720, 400, 750)}),        # below -> invalid
    Family(8, 7, "Table-footnote", ("eq", 5), {None: (50, 710, 400, 735)}),
    Family(9, 8, "Formula", ("eq", 8), {None: (200, 800, 500, 860)}),
    Family(10, 9, "Formula-caption", ("eq", 8), {None: (200, 870, 500, 900)}),
    Family(11, 2, "Abandon", ("eq", 9), {None: (100, 1500, 1100, 1530)}),  # boilerplate
    # near-edge uncaptioned figure: its padded crop rect clamps at 0 on the
    # left AND at the page rect on the right/bottom — but ONLY on the
    # smallest page-size variant, so the crop_render bounds oracle actually
    # proves the per-page clamp (a uniform-size corpus can't)
    Family(12, 3, "Figure", ("eq", 6), {None: (8, 1250, 1220, 1575)}),
]

FIGURE_CLASSES = {"Figure"}
TABLE_CLASSES = {"Table"}
FIGURE_CAPTION_CLASSES = {"Figure-Caption", "Figure-caption"}
TABLE_CAPTION_CLASSES = {"Table-Caption", "Table-caption"}


def _pred_holds(pred: tuple, s: int) -> bool:
    kind = pred[0]
    if kind == "always":
        return True
    if kind == "le":
        return s <= pred[1]
    if kind == "eq":
        return s == pred[1]
    if kind == "in":
        return s in pred[1]
    raise ValueError(f"unknown pred {pred}")


def _pred_sql(pred: tuple) -> str:
    kind = pred[0]
    if kind == "always":
        return "TRUE"
    if kind == "le":
        return f"s <= {pred[1]}"
    if kind == "eq":
        return f"s = {pred[1]}"
    if kind == "in":
        return f"s IN ({', '.join(str(v) for v in pred[1])})"
    raise ValueError(f"unknown pred {pred}")


def block_text(norm_name: str, doc_id: int, p: int, b: int) -> str:
    return f"{norm_name.lower()} d{doc_id} p{p} b{b}"


# ---------------------------------------------------------------------------
# rendering 1: pure-Python page generator
# ---------------------------------------------------------------------------

def page_blocks(doc_id: int, p: int) -> list[dict]:
    """All blocks of page p (1-indexed) of doc_id, in model-output order."""
    s = scenario(doc_id, p)
    out = []
    for fam in FAMILIES:
        if not _pred_holds(fam.pred, s):
            continue
        g = fam.geom.get(s, fam.geom.get(None))
        if g is None:
            continue
        x1, y1, x2, y2 = g
        out.append({
            "b": fam.b,
            "class_id": fam.class_id,
            "raw_name": fam.raw_name,
            "class_name": fam.norm_name,
            "confidence": confidence(doc_id, p, fam.b),
            "x1": float(x1), "y1": float(y1), "x2": float(x2), "y2": float(y2),
            "text": block_text(fam.norm_name, doc_id, p, fam.b),
        })
    return out


def doc_pages(doc_id: int) -> list[dict]:
    return [
        {
            "page_no": p,
            "width": page_dims(doc_id, p)[0],
            "height": page_dims(doc_id, p)[1],
            "blocks": page_blocks(doc_id, p),
        }
        for p in range(1, n_pages(doc_id) + 1)
    ]


HTML_MAGIC = b"PLP1"


def html_page_count(payload: bytes) -> int:
    """Cheap metadata probe: page count from the fixed 8-byte header,
    without parsing the document body — the analogue of fitz reading only
    the PDF xref for ``page_count``."""
    import struct

    if payload[:4] != HTML_MAGIC:
        raise ValueError("not a PLP1 payload")
    return struct.unpack(">I", payload[4:8])[0]


def doc_html(doc_id: int) -> bytes:
    """The synthetic 'raw document bytes' payload stored in pages.html.

    Layout: 4-byte magic + 4-byte big-endian page count + JSON body. A
    self-describing container standing in for PDF bytes: the rasterize /
    detect / clipped-text UDF *stubs* decode it; the real backends (fitz +
    DocLayout-YOLO) plug in behind the same schemas. Block payload keeps
    only what a PDF would know (geometry + source text); detection-level
    fields (class/conf) are carried so the stub detector is deterministic.
    """
    import struct
    pages = [
        {
            "page_no": pg["page_no"],
            "width": pg["width"],
            "height": pg["height"],
            "blocks": [
                {
                    "b": blk["b"],
                    "class_id": blk["class_id"],
                    "name": blk["raw_name"],
                    "conf": blk["confidence"],
                    "bbox": [blk["x1"], blk["y1"], blk["x2"], blk["y2"]],
                    "text": blk["text"],
                }
                for blk in pg["blocks"]
            ],
        }
        for pg in doc_pages(doc_id)
    ]
    body = json.dumps({"v": 1, "pages": pages}, separators=(",", ":")).encode("utf-8")
    return HTML_MAGIC + struct.pack(">I", len(pages)) + body


def doc_text(doc_id: int) -> str:
    """Ground-truth main-content text: non-Abandon blocks in reading order
    (page_no, y1, x1), newline-joined. On this corpus geometry the recursive
    XY-cut order provably equals (y1, x1) order (single-column pages are
    y-disjoint; two-column pages have equal column tops)."""
    parts = []
    for pg in doc_pages(doc_id):
        blocks = [b for b in pg["blocks"] if b["class_name"] != "Abandon"]
        blocks.sort(key=lambda b: (b["y1"], b["x1"]))
        parts.extend(b["text"] for b in blocks)
    return "\n".join(parts)


# ---------------------------------------------------------------------------
# rendering 2: DuckDB SQL CTE builder (for __spark_entry__.oracle_sql)
# ---------------------------------------------------------------------------

def _geom_sql(fam: Family, coord: int) -> str:
    """CASE expression (or literal) for one bbox coordinate of a family."""
    default = fam.geom.get(None)
    variants = {s: g for s, g in fam.geom.items() if s is not None}
    if not variants:
        return f"CAST({default[coord]} AS DOUBLE)"
    whens = " ".join(
        f"WHEN s = {s} THEN CAST({g[coord]} AS DOUBLE)" for s, g in sorted(variants.items())
    )
    els = f" ELSE CAST({default[coord]} AS DOUBLE)" if default else " ELSE NULL"
    return f"CASE {whens}{els} END"


def detections_cte(docs_table: str = "documents") -> str:
    """WITH-clause body regenerating the per-page detections purely in SQL.

    Exposes CTE ``det`` with columns:
      doc_id, url, p (page_no), s, w, h (per-page pixel dims), b, class_id,
      class_name, x1, y1, x2, y2, confidence, txt
    """
    family_selects = []
    for fam in FAMILIES:
        sel = (
            "SELECT doc_id, url, p, s, w, h, "
            f"{fam.b} AS b, {fam.class_id} AS class_id, "
            f"'{fam.norm_name}' AS class_name, "
            f"{_geom_sql(fam, 0)} AS x1, {_geom_sql(fam, 1)} AS y1, "
            f"{_geom_sql(fam, 2)} AS x2, {_geom_sql(fam, 3)} AS y2 "
            f"FROM ps WHERE {_pred_sql(fam.pred)}"
        )
        family_selects.append(sel)
    union = "\nUNION ALL\n".join(family_selects)
    return f"""
docs AS (
    SELECT doc_id,
           printf('{URL_FMT}', doc_id) AS url,
           CASE WHEN doc_id % {GIANT_MOD} = 0 THEN {GIANT_PAGES}
                ELSE 1 + (doc_id % 8) END AS npages
    FROM {docs_table}
),
pagelist AS (
    SELECT doc_id, url, unnest(generate_series(1, npages)) AS p FROM docs
),
ps AS (
    SELECT doc_id, url, p, (doc_id * 131 + p * 17) % 10 AS s,
           {page_dims_sql()}
    FROM pagelist
),
det_raw AS (
{union}
),
det AS (
    SELECT doc_id, url, p, s, w, h, b, class_id, class_name, x1, y1, x2, y2,
           (8 + ((doc_id * 13 + p * 7 + b * 3) % 8)) / 16.0 AS confidence,
           printf('%s d%d p%d b%d', lower(class_name), doc_id, p, b) AS txt
    FROM det_raw
)""".strip()


def matched_items_cte(docs_table: str = "documents") -> str:
    """Extends detections_cte with CTE ``matched`` replicating the caption
    matcher (figures search BELOW, tables ABOVE; max vertical distance 100,
    min horizontal overlap 0.3 of the smaller width — caption_matcher.py:21-131)
    and the per-document cumulative item_id counter (figure_extractor.py:179-244).

    On this corpus each (page, type) has <=1 item and <=1 caption, so the
    reference's greedy assignment reduces to the validity predicate (the
    multi-candidate greedy semantics, tie chains included, are checked in
    pytest: tests/test_matching_spark.py and the hand-built pages of
    tests/test_pipeline.py, against the Python oracle).
    """
    base = detections_cte(docs_table)
    overlap = (
        "(GREATEST(0.0, LEAST(i.x2, c.x2) - GREATEST(i.x1, c.x1))"
        " / LEAST(i.x2 - i.x1, c.x2 - c.x1))"
    )
    return f"""{base},
items AS (
    SELECT doc_id, url, p, w, h, b, x1, y1, x2, y2,
           CASE WHEN class_name = 'Figure' THEN 'figure' ELSE 'table' END AS item_type
    FROM det WHERE class_name IN ('Figure', 'Table')
),
captions AS (
    SELECT doc_id, url, p, b, x1, y1, x2, y2, txt,
           CASE WHEN class_name = 'Figure-Caption' THEN 'figure' ELSE 'table' END AS item_type
    FROM det WHERE class_name IN ('Figure-Caption', 'Table-Caption')
),
matched AS (
    SELECT i.doc_id, i.url, i.p, i.w AS page_w, i.h AS page_h, i.item_type,
           printf(CASE WHEN i.item_type = 'figure' THEN 'fig_%02d_%02d'
                       ELSE 'table_%02d_%02d' END,
                  i.p,
                  row_number() OVER (PARTITION BY i.doc_id, i.item_type
                                     ORDER BY i.p, i.b)) AS item_id,
           row_number() OVER (PARTITION BY i.doc_id, i.item_type
                              ORDER BY i.p, i.b) AS item_seq,
           i.x1 AS item_x1, i.y1 AS item_y1, i.x2 AS item_x2, i.y2 AS item_y2,
           c.x1 AS cap_x1, c.y1 AS cap_y1, c.x2 AS cap_x2, c.y2 AS cap_y2,
           c.txt AS caption_text
    FROM items i
    LEFT JOIN captions c
      ON i.doc_id = c.doc_id AND i.p = c.p AND i.item_type = c.item_type
     AND CASE WHEN i.item_type = 'figure'
              THEN (c.y1 - i.y2) >= 0 AND (c.y1 - i.y2) <= 100
              ELSE (i.y1 - c.y2) >= 0 AND (i.y1 - c.y2) <= 100 END
     AND {overlap} >= 0.3
)""".strip()


def ground_truth_cte(docs_table: str = "documents") -> str:
    """Extends matched_items_cte with CTE ``gt`` — a synthetic VLM-style
    ground-truth table (benchmarks/caption_evaluator/dataset.py:13-49) with
    controlled perturbations so every evaluator verdict class is exercised:

      variant g = ((doc_id + page_number) // 2) % 4:
        g=0  exact bbox, expected caption        -> TP / correct_no_caption
        g=1  bbox shifted +10px (IoU > 0.5)      -> TP / correct_no_caption
        g=2  bbox shifted +150px (IoU < 0.5)     -> FN / correct_no_caption
        g=3  wrong caption bbox (non-null)       -> wrong_match (FP+FN) / FN
      confidence 0.5 when (doc_id*3 + p*11) % 7 = 0 (filtered at >= 0.7), else 0.75.
    """
    base = matched_items_cte(docs_table)
    return f"""{base},
gt AS (
    SELECT m.url, m.p AS page_number,
           'gt_' || m.item_id AS figure_id,
           m.item_type AS figure_type,
           ((m.doc_id + m.p) // 2) % 4 AS g,
           CASE WHEN (m.doc_id * 3 + m.p * 11) % 7 = 0 THEN 0.5 ELSE 0.75 END AS confidence,
           m.item_x1 + (CASE WHEN ((m.doc_id + m.p) // 2) % 4 = 1 THEN 10
                             WHEN ((m.doc_id + m.p) // 2) % 4 = 2 THEN 150 ELSE 0 END) AS gt_x1,
           m.item_y1 + (CASE WHEN ((m.doc_id + m.p) // 2) % 4 = 1 THEN 10
                             WHEN ((m.doc_id + m.p) // 2) % 4 = 2 THEN 150 ELSE 0 END) AS gt_y1,
           m.item_x2 + (CASE WHEN ((m.doc_id + m.p) // 2) % 4 = 1 THEN 10
                             WHEN ((m.doc_id + m.p) // 2) % 4 = 2 THEN 150 ELSE 0 END) AS gt_x2,
           m.item_y2 + (CASE WHEN ((m.doc_id + m.p) // 2) % 4 = 1 THEN 10
                             WHEN ((m.doc_id + m.p) // 2) % 4 = 2 THEN 150 ELSE 0 END) AS gt_y2,
           CASE WHEN ((m.doc_id + m.p) // 2) % 4 = 3 THEN CAST(600 AS DOUBLE) ELSE m.cap_x1 END AS gcap_x1,
           CASE WHEN ((m.doc_id + m.p) // 2) % 4 = 3 THEN CAST(420 AS DOUBLE) ELSE m.cap_y1 END AS gcap_y1,
           CASE WHEN ((m.doc_id + m.p) // 2) % 4 = 3 THEN CAST(800 AS DOUBLE) ELSE m.cap_x2 END AS gcap_x2,
           CASE WHEN ((m.doc_id + m.p) // 2) % 4 = 3 THEN CAST(460 AS DOUBLE) ELSE m.cap_y2 END AS gcap_y2,
           CASE WHEN ((m.doc_id + m.p) // 2) % 4 = 3 OR m.cap_x1 IS NOT NULL
                THEN 'cap_' || m.item_id END AS cap_id
    FROM matched m
)""".strip()


def doc_text_sql(docs_table: str = "documents") -> str:
    """Full SELECT returning (url, doc_text) — the byte-identity oracle."""
    base = detections_cte(docs_table)
    return f"""WITH {base}
SELECT url,
       string_agg(txt, chr(10) ORDER BY p, y1, x1) AS doc_text
FROM det
WHERE class_name <> 'Abandon'
GROUP BY url"""


def _iou_sql(a: str, b: str) -> str:
    """IoU between bbox column prefixes (a_x1.. vs b_x1..) as a SQL expr."""
    ix = f"(LEAST({a}x2, {b}x2) - GREATEST({a}x1, {b}x1))"
    iy = f"(LEAST({a}y2, {b}y2) - GREATEST({a}y1, {b}y1))"
    inter = f"(CASE WHEN {ix} > 0 AND {iy} > 0 THEN {ix} * {iy} ELSE 0.0 END)"
    area_a = f"(({a}x2 - {a}x1) * ({a}y2 - {a}y1))"
    area_b = f"(({b}x2 - {b}x1) * ({b}y2 - {b}y1))"
    union = f"({area_a} + {area_b} - {inter})"
    return f"(CASE WHEN {union} <= 0 THEN 0.0 ELSE {inter} / {union} END)"


def sql_round_half_up(expr: str, digits: int) -> str:
    """Same explicit half-up rounding formula as functions.geometry.round_half_up."""
    factor = float(10 ** digits)
    return f"(floor(({expr}) * {factor} + 0.5) / {factor})"


def _comparisons_cte(docs_table: str = "documents",
                     confidence_threshold: float = 0.7) -> str:
    """CTE chain ending in ``verd`` — per-GT verdicts, mirroring
    operators.evaluate.compare_matches."""
    base = ground_truth_cte(docs_table)
    iou_fig = _iou_sql("gt_", "item_")
    iou_cap = _iou_sql("gcap_", "cap_")
    return f"""{base},
gtf AS (SELECT * FROM gt WHERE confidence >= {confidence_threshold}),
paired AS (
    SELECT g.url, g.figure_id, g.figure_type, g.page_number, g.cap_id,
           g.gt_x1, g.gt_y1, g.gt_x2, g.gt_y2,
           g.gcap_x1, g.gcap_y1, g.gcap_x2, g.gcap_y2,
           p.item_type, p.item_id, p.item_seq,
           p.item_x1 AS item_x1, p.item_y1 AS item_y1,
           p.item_x2 AS item_x2, p.item_y2 AS item_y2,
           p.cap_x1, p.cap_y1, p.cap_x2, p.cap_y2,
           {iou_fig} AS figure_iou
    FROM gtf g JOIN matched p ON g.url = p.url AND g.page_number = p.p
),
best AS (
    SELECT * FROM paired
    QUALIFY row_number() OVER (PARTITION BY url, figure_id
                               ORDER BY figure_iou DESC, item_type, item_seq) = 1
),
verd AS (
    SELECT url, figure_id, figure_type, page_number, cap_id,
           (gcap_x1 IS NOT NULL) AS gt_has_caption,
           (figure_iou >= 0.5 AND cap_x1 IS NOT NULL) AS pred_has_caption,
           CASE
             WHEN gcap_x1 IS NULL AND NOT (figure_iou >= 0.5 AND cap_x1 IS NOT NULL) THEN TRUE
             WHEN gcap_x1 IS NOT NULL AND (figure_iou >= 0.5 AND cap_x1 IS NOT NULL)
               THEN {iou_cap} >= 0.5
             ELSE FALSE
           END AS is_correct
    FROM best
),
cmp AS (
    SELECT *,
           CASE WHEN is_correct THEN NULL
                WHEN NOT gt_has_caption AND pred_has_caption THEN 'false_positive'
                WHEN gt_has_caption AND NOT pred_has_caption THEN 'false_negative'
                ELSE 'wrong_match' END AS error_type
    FROM verd
)""".strip()


def evaluation_summary_sql(docs_table: str = "documents") -> str:
    """One-row overall metrics — oracle for operators.evaluate.evaluation_summary."""
    base = _comparisons_cte(docs_table)
    p = "CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) ELSE 0.0 END"
    r = "CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) ELSE 0.0 END"
    f1 = ("CASE WHEN precision + recall > 0 "
          "THEN 2 * precision * recall / (precision + recall) ELSE 0.0 END")
    return f"""WITH {base},
counts AS (
    SELECT count(*) FILTER (is_correct AND gt_has_caption) AS tp,
           count(*) FILTER (is_correct AND NOT gt_has_caption) AS correct_no_caption,
           count(*) FILTER (error_type IN ('false_positive', 'wrong_match')) AS fp,
           count(*) FILTER (error_type IN ('false_negative', 'wrong_match')) AS fn,
           count(*) AS total
    FROM cmp
),
m AS (SELECT *, {p} AS precision, {r} AS recall FROM counts)
SELECT tp, correct_no_caption, fp, fn, total,
       {sql_round_half_up('precision', 4)} AS precision,
       {sql_round_half_up('recall', 4)} AS recall,
       {sql_round_half_up(f1, 4)} AS f1
FROM m"""


def per_type_metrics_sql(docs_table: str = "documents") -> str:
    """Per figure_type metrics — oracle for operators.evaluate.per_type_metrics."""
    base = _comparisons_cte(docs_table)
    p = "CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) ELSE 0.0 END"
    r = "CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) ELSE 0.0 END"
    f1 = ("CASE WHEN precision + recall > 0 "
          "THEN 2 * precision * recall / (precision + recall) ELSE 0.0 END")
    return f"""WITH {base},
counts AS (
    SELECT figure_type,
           count(*) FILTER (is_correct AND cap_id IS NOT NULL) AS tp,
           count(*) FILTER (error_type = 'false_positive') AS fp,
           count(*) FILTER (error_type = 'false_negative') AS fn,
           count(*) FILTER (is_correct) AS correct,
           count(*) AS total
    FROM cmp GROUP BY figure_type
),
m AS (SELECT *, {p} AS precision, {r} AS recall FROM counts)
SELECT figure_type, tp, fp, fn, correct, total,
       {sql_round_half_up('precision', 4)} AS precision,
       {sql_round_half_up('recall', 4)} AS recall,
       {sql_round_half_up(f1, 4)} AS f1,
       {sql_round_half_up('CAST(correct AS DOUBLE) / total', 4)} AS accuracy
FROM m"""


def _ws_split() -> str:
    """The explicit Java-\\s-equivalent split class shared with the
    engine (functions.text.WS_SPLIT): RE2's \\s excludes \\x0B, so the
    oracle must not use a bare \\s where the Spark side uses Java's."""
    from paper_layout_parser_spark.functions.text import WS_SPLIT

    return WS_SPLIT


def span_dedup_oracle_sql(n: int, min_count: int,
                          docs_table: str = "documents") -> str:
    """DuckDB oracle for operators.dedup.remove_duplicate_spans — ONE
    builder shared by the graded registry twin (__spark_entry__) and the
    pytest twin (tests/test_span_dedup.py), so the two checks can never
    drift apart (they previously near-duplicated this SQL and the r7
    gate change had to be applied to both in lockstep).

    Recomputes windows / corpus counts / coverage / reassembly from
    scratch on the gram STRINGS — independent of the Spark side's
    xxhash64 window keys, so agreement also proves no hash collision
    fired. Joins are NULL-safe (``IS NOT DISTINCT FROM`` + an explicit
    touched flag) to match the operator's eqNullSafe contract: NULL ids
    form one ordinary group, and a TOUCHED NULL-id document must
    reassemble on both engines (a plain equi-join or USING join would
    silently route it to the untouched branch). ``docs_table`` may be a
    subquery — the graded twin passes the planted-corpus projection.
    """
    return f"""
WITH dw AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(coalesce(text, ''), '{_ws_split()}'),
                     x -> x <> '') AS w
  FROM {docs_table}
),
g AS (
  SELECT doc_id, unnest(range(1, greatest(len(w) - {n} + 2, 1))) AS p, w
  FROM dw
),
gr AS (
  SELECT doc_id, p,
         array_to_string(list_slice(w, p, p + {n} - 1), ' ') AS gram
  FROM g
),
dup AS (SELECT gram FROM gr GROUP BY gram HAVING count(*) >= {min_count}),
cov AS (
  SELECT DISTINCT doc_id, unnest(range(p, p + {n})) AS q
  FROM gr WHERE gram IN (SELECT gram FROM dup)
),
tok AS (
  SELECT doc_id, unnest(range(1, len(w) + 1)) AS q, w FROM dw
),
kept AS (
  SELECT t.doc_id, t.q, t.w[t.q] AS word
  FROM tok t LEFT JOIN cov c
    ON t.doc_id IS NOT DISTINCT FROM c.doc_id AND t.q = c.q
  WHERE c.q IS NULL
),
clean AS (
  SELECT doc_id, string_agg(word, ' ' ORDER BY q) AS deduped,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
),
touched AS (SELECT DISTINCT doc_id, TRUE AS is_touched FROM cov)
SELECT dw.doc_id,
       CASE WHEN coalesce(t.is_touched, FALSE)
            THEN coalesce(c.deduped, '')
            ELSE dw.text END AS deduped_text,
       CASE WHEN coalesce(t.is_touched, FALSE)
            THEN len(dw.w) - coalesce(c.n_kept, 0)
            ELSE 0 END AS n_tokens_removed
FROM dw LEFT JOIN clean c ON dw.doc_id IS NOT DISTINCT FROM c.doc_id
        LEFT JOIN touched t ON dw.doc_id IS NOT DISTINCT FROM t.doc_id"""
