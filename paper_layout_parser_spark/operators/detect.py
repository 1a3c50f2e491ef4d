"""Page -> detections flatMap (reference: layout_detector.py:96-194).

``rasterize_detect_enrich`` is the package's one detect path: render,
batched model inference, clipped text, XY-cut reading order and caption
matching in a single mapInPandas stage with the iterator-init pattern. The
backend (model) is constructed ONCE per task, then fed whole Arrow batches
— the reference's ``detect_batch`` (layout_detector.py:96-109) is a
sequential per-image loop; this version is genuinely batched.

Backends are pluggable behind one schema:
  * StubDetectorBackend — deterministic: decodes the synthetic page payload
    (tests / oracle parity).
  * YoloDetectorBackend — real DocLayout-YOLO; gated behind import-try since
    the model/libs are not in this container.

Post-processing (class-name normalization P3, output rounding P4) is native
Spark SQL, not Python.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .crop import CROP_COLUMNS, CROP_COLUMNS_DDL

RAW_DETECTION_SCHEMA = (
    "url string, page_no int, width int, height int, det_idx int, "
    "class_id int, raw_name string, confidence double, "
    "x1 double, y1 double, x2 double, y2 double"
)

# the caption each figure/table row carries (null on every other row)
CAPTION_BOX = ("cap_x1", "cap_y1", "cap_x2", "cap_y2")
CAPTION_COLUMNS = ("cap_idx", *CAPTION_BOX, "cap_text")

# thresholds from the reference config (config/config.yaml:7-12; main.py:204-205)
DEFAULT_CONF = 0.25
DEFAULT_IOU = 0.45
DEFAULT_IMGSZ = 1024


class StubDetectorBackend:
    """Deterministic detector: reads detections straight out of the synthetic
    page payload, in model-output order, applying the confidence threshold
    exactly as the real model invocation does (layout_detector.py:162-169).
    NMS stays inside the model (stub payloads are already non-overlapping)."""

    def __init__(self, conf: float = DEFAULT_CONF, iou: float = DEFAULT_IOU,
                 imgsz: int = DEFAULT_IMGSZ):
        self.conf = conf
        self.iou = iou
        self.imgsz = imgsz

    def detect_page(self, page: dict) -> list[dict]:
        """Detections of one PARSED page dict — the single source of the
        stub's detection contract (threshold, field mapping); used by
        detect_batch and by the fused pipeline stage's dict fast path."""
        return [
            {
                "class_id": blk["class_id"],
                "raw_name": blk["name"],
                "confidence": blk["conf"],
                "bbox": blk["bbox"],
            }
            for blk in page["blocks"]
            if blk["conf"] >= self.conf
        ]

    def detect_batch(self, payloads: list[bytes]) -> list[list[dict]]:
        return [self.detect_page(json.loads(bytes(p))) for p in payloads]


class YoloDetectorBackend:
    """Real DocLayout-YOLO backend (layout_detector.py:125-194). The model
    weights / ultralytics stack are not available in this sandbox; the class
    exists so a cluster deployment only swaps the backend factory."""

    def __init__(self, model_path: str, conf: float = DEFAULT_CONF,
                 iou: float = DEFAULT_IOU, imgsz: int = DEFAULT_IMGSZ):
        try:
            from doclayout_yolo import YOLOv10  # type: ignore
        except ImportError as exc:  # pragma: no cover
            raise NotImplementedError(
                "DocLayout-YOLO is not installed in this environment; "
                "use StubDetectorBackend or deploy with the model wheels."
            ) from exc
        self._model = YOLOv10(model_path)  # pragma: no cover
        self.conf, self.iou, self.imgsz = conf, iou, imgsz

    def detect_batch(self, payloads: list[bytes]) -> list[list[dict]]:  # pragma: no cover
        raise NotImplementedError("decode pixmap bytes -> model.predict batch")


def rasterize_detect_enrich(planned: DataFrame,
                            backend_factory=StubDetectorBackend,
                            crop_codec_factory=None) -> DataFrame:
    """Plan chunks -> ONE mapInPandas stage doing rasterize (real render
    work, checksum semantics identical to rasterize._render_page) +
    detection + clipped text + XY-cut + caption matching.

    Each page crosses the JVM->Python boundary once: no page table is
    materialized between render and inference, and the page payload is
    parsed once per chunk (every Python boundary costs a transpose +
    serialization both ways). With the default StubDetectorBackend the
    detections are read straight off the parsed page dict — value-
    identical to ``detect_batch(json.dumps(page))`` because the stub's
    parse of the serialized page is the page; any other backend receives
    serialized page payloads through its documented ``detect_batch``
    contract, batched per Arrow batch, falling back to one page at a time
    when the whole batch fails. Both paths are pinned row for row against
    a pure-Python spec of the synthetic corpus (tests/test_pipeline.py).

    Caption matching needs only one page's detections, so it runs here,
    not as a join and a shuffle downstream: each figure or table row
    carries the caption ``algorithms.match_page_captions`` assigns it
    (CAPTION_COLUMNS: its ``det_idx``, raw bbox and clipped text). The
    matcher decides on the values normalize_detections emits: normalized
    class names and bboxes rounded the way Spark's ``round`` rounds.

    Given a ``crop_codec_factory``, each figure or table row also carries
    its crop (crop.CROP_COLUMNS): the rect ``algorithms.crop_rect``
    computes from the same rounded bbox and the page's own size, and the
    codec's render of that rect from the page's serialized payload (the
    bytes ``rasterize._rasterize_batches`` ships as ``page_payload``).
    The codec is built once per task; without one the stage does no crop
    work and emits no crop columns.

    Emits RAW names/values plus ``reading_order_rank``/``text``, the
    caption (and crop) columns and the quarantine columns
    ``stage``/``error`` ('rasterize' for chunk-decode and render failures,
    'detect' for inference and enrichment failures). A crop codec failure
    is not contained: it fails the task, so a crop never drops a page's
    detections from the other tables. Every
    successfully rendered page also yields one page-tally row
    (``stage='page'``, ``det_idx=-1``, ``error`` null), emitted before the
    detect leg so a page that fails in detect still counts as rendered:
    the per-document page counts come from these rows, not from a second
    render pass. Detection rows carry ``stage`` null; normalize_detections
    passes ``stage`` and ``error`` through."""
    from ..algorithms import (
        clip_text,
        crop_rect,
        match_page_captions,
        spark_round,
        xy_cut_order,
    )
    from ..synthdata import FIGURE_CLASSES, TABLE_CLASSES, normalize_class_name
    from .rasterize import _render_page

    item_classes = FIGURE_CLASSES | TABLE_CLASSES
    crop_cols = CROP_COLUMNS if crop_codec_factory is not None else ()
    extra_cols = (*CAPTION_COLUMNS, *crop_cols)
    schema = (RAW_DETECTION_SCHEMA
              + ", reading_order_rank int, text string, cap_idx int, "
              "cap_x1 double, cap_y1 double, cap_x2 double, cap_y2 double, "
              "cap_text string"
              + (", " + CROP_COLUMNS_DDL if crop_cols else "")
              + ", stage string, error string")

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        backend = backend_factory()  # once per task, never per row/batch
        stub_fast = type(backend) is StubDetectorBackend
        codec = crop_codec_factory() if crop_cols else None
        for pdf in it:
            cols: dict[str, list] = {
                "url": [], "page_no": [], "width": [], "height": [],
                "det_idx": [], "class_id": [], "raw_name": [],
                "confidence": [], "x1": [], "y1": [], "x2": [], "y2": [],
                "reading_order_rank": [], "text": [],
                **{c: [] for c in extra_cols}, "stage": [], "error": [],
            }

            def emit_page_row(url, page_no, w, h, stage, error):
                # detection-less row: a quarantine row (error set) or a
                # page tally (stage='page', error null)
                page_no = int(page_no)  # before any append: no ragged cols
                cols["url"].append(url)
                cols["page_no"].append(page_no)
                cols["width"].append(w)
                cols["height"].append(h)
                cols["det_idx"].append(-1)
                cols["class_id"].append(-1)
                cols["raw_name"].append(None)
                cols["confidence"].append(None)
                for c in ("x1", "y1", "x2", "y2", "text", *extra_cols):
                    cols[c].append(None)
                cols["reading_order_rank"].append(-1)
                cols["stage"].append(stage)
                cols["error"].append(error)

            def emit_error(url, page_no, w, h, stage, exc):
                # C6 error containment: a bad chunk/page becomes a
                # quarantine row, never a failed job
                emit_page_row(url, page_no, w, h, stage,
                              f"{type(exc).__name__}: {exc}")

            # rasterize leg: decode chunks, render pages (failures are
            # 'rasterize' quarantine rows; each rendered page emits its
            # tally row here, before detection can fail)
            pages: list[tuple] = []   # (url, page dict) for rendered pages
            for url, payload, start, end in zip(
                pdf["url"], pdf["html"], pdf["page_start"], pdf["page_end"]
            ):
                try:
                    doc = json.loads(bytes(payload)[8:])  # skip PLP1 header
                    in_range = [pg for pg in doc["pages"]
                                if start <= pg["page_no"] < end]
                except Exception as exc:  # noqa: BLE001 — C6 quarantine
                    emit_error(url, int(start), 0, 0, "rasterize", exc)
                    continue
                for pg in in_range:
                    try:
                        _render_page(pg)
                        emit_page_row(url, pg["page_no"], pg["width"],
                                      pg["height"], "page", None)
                        pages.append((url, pg))
                    except Exception as exc:  # noqa: BLE001
                        emit_error(url, pg.get("page_no", int(start)), 0, 0,
                                   "rasterize", exc)

            # detect leg: batched inference (generic backends get the
            # serialized payload contract; the stub reads the parsed dict
            # PER PAGE inside the containment try below, so a malformed
            # block quarantines only that page, as the generic path's
            # whole-batch-then-per-page fallback does)
            results = None
            if not stub_fast:
                payloads = [
                    json.dumps(pg, separators=(",", ":")).encode()
                    for _url, pg in pages
                ]
                try:
                    results = backend.detect_batch(payloads)
                except Exception:  # noqa: BLE001 — isolate the bad page
                    results = None

            for idx, (url, pg) in enumerate(pages):
                page_no, w, h = pg["page_no"], pg["width"], pg["height"]
                try:
                    if stub_fast:
                        dets = backend.detect_page(pg)
                    else:
                        dets = (results[idx] if results is not None
                                else backend.detect_batch([payloads[idx]])[0])
                    blocks = pg["blocks"]
                    boxes = [tuple(d["bbox"]) for d in dets]
                    order = xy_cut_order(boxes)
                    ranks = [0] * len(order)
                    for rank, pos in enumerate(order):
                        ranks[pos] = rank
                    texts = [clip_text(blocks, *d["bbox"]) for d in dets]
                    names = [normalize_class_name(d["raw_name"]) for d in dets]
                    rounded = [tuple(spark_round(v, 2) for v in d["bbox"])
                               for d in dets]
                    caption_of = match_page_captions(names, rounded)
                except Exception as exc:  # noqa: BLE001 — quarantine
                    emit_error(url, page_no, w, h, "detect", exc)
                    continue
                # crops render outside the containment: a codec failure
                # fails the job instead of quarantining the page
                crops = [(None,) * len(crop_cols)] * len(dets)
                if codec is not None:
                    page_payload = None
                    for i, name in enumerate(names):
                        if name not in item_classes:
                            continue
                        if page_payload is None:
                            page_payload = json.dumps(
                                pg, separators=(",", ":")).encode()
                        rect = crop_rect(rounded[i], w, h)
                        px = rect[4:]
                        crops[i] = (*rect, codec.render(page_payload, px),
                                    max(0, int(px[2] - px[0])),
                                    max(0, int(px[3] - px[1])))
                for i, d in enumerate(dets):
                    cols["url"].append(url)
                    cols["page_no"].append(page_no)
                    cols["width"].append(w)
                    cols["height"].append(h)
                    cols["det_idx"].append(i)
                    cols["class_id"].append(d["class_id"])
                    cols["raw_name"].append(d["raw_name"])
                    cols["confidence"].append(d["confidence"])
                    x1, y1, x2, y2 = d["bbox"]
                    cols["x1"].append(x1)
                    cols["y1"].append(y1)
                    cols["x2"].append(x2)
                    cols["y2"].append(y2)
                    cols["reading_order_rank"].append(ranks[i])
                    cols["text"].append(texts[i])
                    j = caption_of[i]
                    cap = ((None,) * 6 if j is None
                           else (j, *dets[j]["bbox"], texts[j]))
                    for c, v in zip(CAPTION_COLUMNS, cap):
                        cols[c].append(v)
                    for c, v in zip(crop_cols, crops[i]):
                        cols[c].append(v)
                    cols["stage"].append(None)
                    cols["error"].append(None)
            yield pd.DataFrame(cols)

    return planned.mapInPandas(run, schema=schema)


def normalize_detections(raw: DataFrame) -> DataFrame:
    """Native post-processing: class-name normalization exactly as
    layout_detector.py:143-146 (``name.replace('_','-').title().replace(' ','-')``
    == translate to spaces -> initcap -> translate back), confidence rounded
    to 4 dp and bbox to 2 dp (layout_detector.py:46-58), the caption bbox
    too. Pure column exprs — whole-stage codegen, no Python. Passes through
    the enrichment and caption columns, and the crop and quarantine
    columns (stage, error) that the stage emitted and the caller has not
    dropped (crop rects leave the stage already rounded)."""
    extra = [c for c in (*CROP_COLUMNS, "stage", "error") if c in raw.columns]
    return raw.select(
        "url",
        "page_no",
        "width",
        "height",
        "det_idx",
        "class_id",
        F.translate(F.initcap(F.translate(F.translate("raw_name", "_", "-"), "-", " ")), " ", "-")
        .alias("class_name"),
        F.round("confidence", 4).alias("confidence"),
        F.round("x1", 2).alias("x1"),
        F.round("y1", 2).alias("y1"),
        F.round("x2", 2).alias("x2"),
        F.round("y2", 2).alias("y2"),
        "reading_order_rank",
        "text",
        "cap_idx",
        *(F.round(c, 2).alias(c) for c in CAPTION_BOX),
        "cap_text",
        *extra,
    )
