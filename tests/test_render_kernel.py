"""Bit-identity of the fused C render kernel against the numpy twin.

The r9 optimization moves the rasterize stage's smoothing/compositing
loop into a fused C kernel (operators/rasterize.py::_KERNEL_SRC). The
kernel must compute the IDENTICAL IEEE float32 sequence — these tests
compare whole buffers as uint32 bit patterns (not approximately) across
every PAGE_SIZES variant, random contents, degenerate shapes, and the
real synthetic pages, and pin that `_render_page` returns the same
checksum the numpy path returns.
"""

from __future__ import annotations

import os
import platform
import tempfile

import numpy as np
import pytest

from paper_layout_parser_spark import synthdata as sd
from paper_layout_parser_spark.operators import rasterize as ras


def _c_kernel():
    lib = ras._render_kernel_lib()
    if lib is None:
        pytest.skip("C render kernel unavailable on this host (numpy "
                    "fallback active — nothing to compare)")
    return lib


def _run_c(lib, img: np.ndarray) -> np.ndarray:
    import ctypes

    out = np.ascontiguousarray(img.copy())
    h, w = out.shape
    fp = ctypes.POINTER(ctypes.c_float)
    scratch = np.empty((2, w), dtype=np.float32)
    lib.render_passes(out.ctypes.data_as(fp), h, w, ras._RENDER_PASSES,
                      scratch[0].ctypes.data_as(fp),
                      scratch[1].ctypes.data_as(fp))
    return out


def _run_numpy(img: np.ndarray) -> np.ndarray:
    out = img.copy()
    ras._render_passes_numpy(out)
    return out


def test_kernel_bit_identical_on_page_sizes_and_degenerate_shapes():
    lib = _c_kernel()
    rng = np.random.default_rng(20260821)
    shapes = [(h // 4, w // 4) for (w, h) in sd.PAGE_SIZES]
    shapes += [(1, 1), (1, 17), (23, 1), (2, 2), (97, 3)]
    for shape in shapes:
        img = (rng.random(shape, dtype=np.float32) * 0.9375).astype(
            np.float32)
        a, b = _run_numpy(img), _run_c(lib, img)
        assert np.array_equal(a.view(np.uint32), b.view(np.uint32)), shape


def test_kernel_bit_identical_on_block_fill_inputs():
    """Inputs shaped like real pages: sparse constant rects on zeros
    (zeros exercise sqrt(0) and the subnormal-free low range)."""
    lib = _c_kernel()
    for doc_id in (0, 1, 7, 101, 1234):
        for p in (1, 2):
            pg = {
                "page_no": p,
                "width": sd.page_dims(doc_id, p)[0],
                "height": sd.page_dims(doc_id, p)[1],
                "blocks": [
                    {"bbox": [b["x1"], b["y1"], b["x2"], b["y2"]],
                     "conf": b["confidence"]}
                    for b in sd.page_blocks(doc_id, p)
                ],
            }
            img = np.zeros((pg["height"] // 4, pg["width"] // 4),
                           dtype=np.float32)
            for blk in pg["blocks"]:
                x1, y1, x2, y2 = (int(v) // 4 for v in blk["bbox"])
                img[y1:y2, x1:x2] = blk["conf"]
            a, b = _run_numpy(img), _run_c(lib, img)
            assert np.array_equal(a.view(np.uint32), b.view(np.uint32))


def _synthetic_pages() -> list[dict]:
    pages = []
    for doc_id in (3, 42, 101):
        for pg in sd.doc_pages(doc_id)[:2]:
            pages.append({
                "page_no": pg["page_no"], "width": pg["width"],
                "height": pg["height"],
                "blocks": [
                    {"bbox": [b["x1"], b["y1"], b["x2"], b["y2"]],
                     "conf": b["confidence"]}
                    for b in pg["blocks"]
                ],
            })
    return pages


def test_render_page_checksum_matches_numpy_path(monkeypatch):
    """_render_page end to end: the C path and the forced-numpy path
    return the same checksum for real synthetic pages."""
    pages = _synthetic_pages()
    with_kernel = [ras._render_page(pg) for pg in pages]
    monkeypatch.setitem(ras._kernel_state, "lib", None)  # force numpy path
    forced_numpy = [ras._render_page(pg) for pg in pages]
    assert with_kernel == forced_numpy


def test_symlinked_cache_dir_takes_numpy_fallback(monkeypatch, tmp_path):
    """A symlink planted at the predictable cache path — even one pointing
    at a 0700 dir this user owns — is rejected: the kernel is not built
    or loaded through it, the numpy fallback renders, and the page
    checksums do not change."""
    pages = _synthetic_pages()
    want = [ras._render_page(pg) for pg in pages]
    target = tmp_path / "elsewhere"
    target.mkdir(mode=0o700)
    (tmp_path / f"plp_kernel_{os.getuid()}").symlink_to(target)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setitem(ras._kernel_state, "lib", False)  # not yet tried
    with pytest.raises(PermissionError):
        ras._kernel_cache_dir()
    assert ras._render_kernel_lib() is None
    assert [ras._render_page(pg) for pg in pages] == want
    assert list(target.iterdir()) == []


def test_kernel_cache_tag_names_machine_and_target(monkeypatch, tmp_path):
    """The cache file name changes with the machine and with the target
    the compiler resolves, so a shared temp root never hands a worker an
    object built for another CPU."""
    monkeypatch.setattr(ras, "_resolved_target", lambda extra: "-march= a")
    base = ras._kernel_so_path(str(tmp_path), "native", ["-march=native"])
    monkeypatch.setattr(ras, "_resolved_target", lambda extra: "-march= b")
    assert ras._kernel_so_path(str(tmp_path), "native", ["-march=native"]) != base
    monkeypatch.setattr(ras, "_resolved_target", lambda extra: "-march= a")
    monkeypatch.setattr(platform, "machine", lambda: "other-machine")
    assert ras._kernel_so_path(str(tmp_path), "native", ["-march=native"]) != base
