"""Backend seam contracts: every pluggable leaf (detector, crop codec)
must satisfy the same call contract whether it's the sandbox stub or the
real library, so a cluster deployment cannot drift from the schema the
Spark plumbing was tested with. Real backends run when their libs are
importable and are skipped otherwise."""

import importlib.util

import pytest

from paper_layout_parser_spark import synthdata as sd


def _has(mod: str) -> bool:
    return importlib.util.find_spec(mod) is not None


PAGE = sd.doc_pages(1)[1]  # doc 1 page 2 (scenario 5: has a Table item)
PAGE_PAYLOAD = __import__("json").dumps({
    "page_no": PAGE["page_no"], "width": PAGE["width"], "height": PAGE["height"],
    "blocks": [
        {"b": b["b"], "class_id": b["class_id"], "name": b["raw_name"],
         "conf": b["confidence"],
         "bbox": [b["x1"], b["y1"], b["x2"], b["y2"]], "text": b["text"]}
        for b in PAGE["blocks"]
    ],
}, separators=(",", ":")).encode()


def _assert_detection_contract(results):
    assert isinstance(results, list) and len(results) == 1
    for det in results[0]:
        assert set(det) >= {"class_id", "raw_name", "confidence", "bbox"}
        assert len(det["bbox"]) == 4
        assert 0.0 <= det["confidence"] <= 1.0


class TestDetectorBackends:
    def test_stub_satisfies_contract(self):
        from paper_layout_parser_spark.operators.detect import StubDetectorBackend

        _assert_detection_contract(StubDetectorBackend().detect_batch([PAGE_PAYLOAD]))

    @pytest.mark.skipif(not _has("doclayout_yolo"), reason="doclayout_yolo not installed")
    def test_yolo_satisfies_contract(self):  # pragma: no cover — cluster-only
        from paper_layout_parser_spark.operators.detect import YoloDetectorBackend

        backend = YoloDetectorBackend("doclayout_yolo_docstructbench_imgsz1024.pt")
        _assert_detection_contract(backend.detect_batch([PAGE_PAYLOAD]))

    def test_yolo_gated_without_lib(self):
        if _has("doclayout_yolo"):
            pytest.skip("lib present — gate not exercised")
        from paper_layout_parser_spark.operators.detect import YoloDetectorBackend

        with pytest.raises(NotImplementedError):
            YoloDetectorBackend("model.pt")


class TestCropCodecs:
    def test_stub_satisfies_contract(self):
        from paper_layout_parser_spark.operators.crop import StubCropCodec

        blob = StubCropCodec().render(PAGE_PAYLOAD, (10.0, 10.0, 100.0, 80.0))
        assert isinstance(blob, bytes) and len(blob) > 0
