"""Doc -> pages flatMap (reference: pdf_converter.py:59-145), skew-aware.

The reference rasterizes one whole PDF at a time in a Python loop. At 100 TB
a single giant document (10^4 pages) hidden inside one row becomes a
straggler task, so the Spark version splits work at the (url, page_range)
grain BEFORE the expensive stage:

  1. ``probe_pages``     — cheap metadata probe (page count only; the real
                           backend is ``fitz.open(...).page_count``).
  2. ``plan_splits``     — explode each doc into page-range chunks and
                           hash-repartition on (url, chunk) so giant docs
                           spread across the cluster. Each chunk row carries
                           ONLY its own pages' bytes (payload ∝ chunk pages):
                           shipping the whole document per chunk would
                           amplify the heaviest column by the very skew
                           factor the split defends against (a 10^4-page doc
                           at 16 pages/chunk = 625 copies through the
                           exchange). The synthetic PLP1 container is
                           page-sliceable; for real PDFs the chunk payload
                           becomes an object-store reference + page range
                           (fitz opens lazily per range) instead of bytes.
  3. ``rasterize_pages`` — mapInPandas over chunks, emitting one row per
                           page. The page payload column stands in for the
                           rendered pixmap + text layer (pdf_converter.py:84-96
                           renders at zoom = dpi/72).

All three stages are Arrow-batched; no per-row Python outside the UDFs.
The pipeline renders inside ``detect.rasterize_detect_enrich`` (same
``_render_page``, same payload bytes) and never calls ``rasterize_pages``;
the standalone stage is what perfbench's ``rasterize.standalone`` span
times.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_CHUNK_PAGES = 16

PAGE_SCHEMA = (
    "url string, page_no int, width int, height int, page_payload binary, "
    "render_checksum long, error string"
)


def _probe_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from ..synthdata import html_page_count

    for pdf in it:
        counts = [html_page_count(bytes(p)) for p in pdf["html"]]
        yield pd.DataFrame({"url": pdf["url"], "total_pages": counts})


def probe_pages(pages: DataFrame) -> DataFrame:
    """(url, total_pages) — the S3 metadata probe (pdf_converter.py:29-57)."""
    return pages.select("url", "html").mapInPandas(
        _probe_batches, schema="url string, total_pages int"
    )


def _slice_chunk(pages_list: list[dict], start: int, end: int) -> bytes:
    """Re-wrap pages[start:end) (1-indexed page_no) in the PLP1 container —
    the chunk payload holds only its own pages' bytes."""
    import struct

    chunk = [pg for pg in pages_list if start <= pg["page_no"] < end]
    body = json.dumps({"v": 1, "pages": chunk}, separators=(",", ":")).encode()
    return b"PLP1" + struct.pack(">I", len(chunk)) + body


def _plan_batches_factory(chunk_pages: int):
    from ..synthdata import html_page_count

    def _plan_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            urls, htmls, starts, ends = [], [], [], []
            for url, payload in zip(pdf["url"], pdf["html"]):
                payload = bytes(payload)
                total = html_page_count(payload)  # header: page count
                if total <= chunk_pages:
                    # single-chunk fast path: ship the original bytes as-is,
                    # no parse (the common case — median docs are small)
                    urls.append(url)
                    htmls.append(payload)
                    starts.append(1)
                    ends.append(total + 1)
                    continue
                # multi-chunk doc: parse ONCE, slice per chunk so each chunk
                # row carries only its own pages through the shuffle. The
                # WHOLE parse+slice is inside the try: a body that is valid
                # JSON but whose page entries are malformed (header claims 64
                # pages, body is {"pages":[1,2,3]}) raises inside
                # _slice_chunk, not the stage. Slices buffer locally so a
                # mid-slice failure never emits a partial chunk set.
                try:
                    pages_list = json.loads(payload[8:])["pages"]
                    sliced = []
                    for start in range(1, total + 1, chunk_pages):
                        end = min(start + chunk_pages, total + 1)
                        sliced.append((_slice_chunk(pages_list, start, end),
                                       start, end))
                except Exception:  # noqa: BLE001 — C6: never fail the stage
                    # corrupt body or page entries: ship the original bytes
                    # as ONE chunk so the rasterize stage turns it into a
                    # quarantine row (same containment path as any other
                    # bad page)
                    urls.append(url)
                    htmls.append(payload)
                    starts.append(1)
                    ends.append(total + 1)
                    continue
                for chunk_payload, start, end in sliced:
                    urls.append(url)
                    htmls.append(chunk_payload)
                    starts.append(start)
                    ends.append(end)
            yield pd.DataFrame({
                "url": urls, "html": htmls,
                "page_start": starts, "page_end": ends,
            })
    return _plan_batches


def plan_splits(pages: DataFrame, chunk_pages: int = DEFAULT_CHUNK_PAGES,
                num_partitions: int | None = None) -> DataFrame:
    """Explode each document into (url, html, page_start, page_end) chunks
    and spread them with a hash repartition — the giant-PDF skew defense.

    One mapInPandas pass does the metadata probe AND the chunk fan-out
    (a join against a separate probe would recompute the upstream lineage
    twice and shuffle the html payloads an extra time). The real backend's
    probe is fitz's page_count — cheap relative to rendering. Chunk payload
    is sliced to the chunk's own pages (payload ∝ pages, never ∝ doc).
    """
    planned = pages.select("url", "html").mapInPandas(
        _plan_batches_factory(chunk_pages),
        schema="url string, html binary, page_start int, page_end int",
    )
    if num_partitions is None:
        num_partitions = pages.sparkSession.sparkContext.defaultParallelism * 2
    # hash on (url, page_start): chunks of one giant doc land on different tasks
    return planned.repartition(num_partitions, F.xxhash64("url", "page_start"))


_RENDER_PASSES = 40  # calibrated to ~6 ms/page (fitz at 200 DPI: 20-50 ms)

# --- fused render kernel (r9 optimization) ---------------------------------
# The smoothing/compositing loop is the pipeline's dominant per-task cost
# (guide §1.2 step 2 / §4.2: once the job shape is right, make the inside
# of the stage fast with native code). The numpy formulation walks the
# page buffer ~14 times per pass (each shifted in-place add additionally
# allocates and fills an overlap-copy temporary); the C kernel below
# computes the IDENTICAL IEEE float32 operation sequence in one row-wise
# sweep per pass. Bit-identity is guaranteed by construction — same adds,
# same 0.25f scale, same correctly-rounded sqrtf, in the same order — and
# pinned by tests/test_render_kernel.py across all PAGE_SIZES variants
# (whole-buffer uint32 view comparison, numpy twin vs C).  Measured
# 5.1x per page on the largest page size; -ffp-contract=off forbids FMA
# contraction so optimization level cannot alter rounding, and
# -fno-math-errno only drops the errno side channel (sqrtf stays the
# correctly-rounded hardware instruction). Compiled once per host into
# $TMPDIR (atomic rename, race-safe across the 32 local python workers);
# any failure — no gcc on an executor image, sandboxed /tmp — falls back
# to the numpy twin, so the kernel is a pure speedup, never a dependency.

_KERNEL_SRC = r"""
#include <math.h>
#include <string.h>

/* Replicates, per pass, exactly:
     img[1:, :] += img[:-1, :]   (shifted add; RHS is pre-pass rows)
     img[:, 1:] += img[:, :-1]   (shifted add; RHS is post-row-add cols)
     img *= 0.25f
     img = sqrtf(img)            (elementwise)
   Row i's result depends only on original rows i-1/i, so one top-down
   sweep with a saved copy of the previous ORIGINAL row fuses all four
   passes into a single buffer traversal. */
void render_passes(float *img, int h, int w, int passes,
                   float *prev, float *r) {
    for (int p = 0; p < passes; ++p) {
        for (int i = 0; i < h; ++i) {
            float *row = img + (long)i * w;
            if (i == 0) {
                memcpy(r, row, (size_t)w * sizeof(float));
            } else {
                for (int j = 0; j < w; ++j) r[j] = row[j] + prev[j];
            }
            memcpy(prev, row, (size_t)w * sizeof(float));
            row[0] = sqrtf(0.25f * r[0]);
            for (int j = 1; j < w; ++j)
                row[j] = sqrtf(0.25f * (r[j] + r[j - 1]));
        }
    }
}
"""

_KERNEL_BASE_FLAGS = ["-O3", "-fno-math-errno", "-ffp-contract=off",
                      "-shared", "-fPIC"]
_kernel_state: dict = {"lib": False}  # False = not tried; None = unavailable


def _kernel_cache_dir() -> str:
    """Per-user 0700 cache dir under the temp root, ownership-verified:
    loading a shared object from a predictable world-writable path would
    let any local user on a shared host plant code into the pipeline's
    workers, so the dir must be ours and ours alone (raises into the
    caller's fallback otherwise). ``lstat``, not ``stat``: a symlink
    planted at the predictable path would otherwise redirect where the
    sources and shared objects are written and loaded from."""
    import os
    import stat
    import tempfile

    d = os.path.join(tempfile.gettempdir(), f"plp_kernel_{os.getuid()}")
    os.makedirs(d, mode=0o700, exist_ok=True)
    st = os.lstat(d)
    if (not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid()
            or st.st_mode & (stat.S_IWGRP | stat.S_IWOTH)):
        raise PermissionError(f"kernel cache dir {d!r} is not a directory "
                              "exclusively owned by this user")
    return d


def _resolved_target(extra: list[str]) -> str:
    """The target gcc resolves for ``extra`` (the ``-march`` value and
    every enabled ISA option, from ``-Q --help=target``). Raises when the
    toolchain is missing or rejects the flags."""
    import subprocess

    return subprocess.run(
        ["gcc", *extra, "-Q", "--help=target"],
        capture_output=True, text=True, check=True,
    ).stdout


def _kernel_so_path(cache: str, variant: str, extra: list[str]) -> str:
    """Cache file of one build variant. The tag covers the source, the
    flags, the machine and the resolved target, so a temp root shared
    across hosts never hands a worker an object built for another CPU
    (which would die with SIGILL, past the numpy fallback)."""
    import hashlib
    import os
    import platform

    tag = hashlib.sha256("|".join([
        _KERNEL_SRC, *_KERNEL_BASE_FLAGS, *extra, platform.machine(),
        _resolved_target(extra),
    ]).encode()).hexdigest()[:12]
    return os.path.join(cache, f"plp_render_{tag}_{variant}.so")


def _compile_kernel():
    import ctypes
    import os
    import subprocess

    cache = _kernel_cache_dir()
    path = None
    # -march=native helps (vector sqrt width) and cannot change results
    # (-ffp-contract=off; sqrt/add/mul are IEEE-exact at any width);
    # fall back to the portable build if the toolchain rejects it. Each
    # variant gets its own cache file so a portable fallback on one host
    # can never shadow (or be shadowed by) a native build.
    for variant, extra in (("native", ["-march=native"]), ("portable", [])):
        try:
            cand = _kernel_so_path(cache, variant, extra)
        except (OSError, subprocess.CalledProcessError):
            continue
        if os.path.exists(cand):
            path = cand
            break
        pid = os.getpid()
        src = f"{cand}.{pid}.c"
        tmp = f"{cand}.{pid}.tmp"
        with open(src, "w") as f:
            f.write(_KERNEL_SRC)
        try:
            res = subprocess.run(
                ["gcc", *_KERNEL_BASE_FLAGS, *extra, "-o", tmp, src],
                capture_output=True,
            )
            if res.returncode == 0:
                os.replace(tmp, cand)  # atomic: racing workers agree
                path = cand
                break
        finally:
            for leftover in (src, tmp):
                try:
                    os.remove(leftover)
                except OSError:
                    pass
    if path is None:
        return None
    lib = ctypes.CDLL(path)
    fp = ctypes.POINTER(ctypes.c_float)
    lib.render_passes.argtypes = [fp, ctypes.c_int, ctypes.c_int,
                                  ctypes.c_int, fp, fp]
    lib.render_passes.restype = None
    return lib


def _render_kernel_lib():
    """The compiled kernel for this process, or None (numpy fallback).
    Tried once per process; python workers are reused (default), so the
    dlopen cost is amortised across every task of the session."""
    if _kernel_state["lib"] is False:
        try:
            _kernel_state["lib"] = _compile_kernel()
        except Exception:  # noqa: BLE001 — kernel is optional, never fatal
            _kernel_state["lib"] = None
    return _kernel_state["lib"]


def _render_passes_numpy(img) -> None:
    """Reference smoothing/compositing loop (the oracle the C kernel is
    parity-tested against, and the fallback when it cannot compile)."""
    import numpy as np

    for _ in range(_RENDER_PASSES):
        img[1:, :] += img[:-1, :]
        img[:, 1:] += img[:, :-1]
        img *= 0.25
        np.sqrt(img, out=img)


def _render_page(pg: dict) -> int:
    """Actually render the page bitmap (the reference renders at
    zoom = dpi/72, pdf_converter.py:84-96) and return a deterministic
    checksum. The pixmap itself is not shipped (intermediate, like the
    reference's PNG files — SURVEY K3), but the render cost is real:
    block rect fills plus cache-resident smoothing/compositing passes at
    quarter resolution, deliberately CPU-bound (float math on an
    L2-resident buffer) so throughput and N-vs-4N scaling numbers reflect
    the actual workload's compute profile rather than a no-op stub. The
    pass loop runs through the fused C kernel when available (bit-
    identical by construction and by pytest) and the numpy twin
    otherwise; the checksum reduction stays in numpy either way."""
    import ctypes

    import numpy as np

    img = np.zeros((pg["height"] // 4, pg["width"] // 4), dtype=np.float32)
    for blk in pg["blocks"]:
        x1, y1, x2, y2 = (int(v) // 4 for v in blk["bbox"])
        img[y1:y2, x1:x2] = blk["conf"]
    h, w = img.shape
    lib = _render_kernel_lib()
    if lib is not None and h > 0 and w > 0:
        fp = ctypes.POINTER(ctypes.c_float)
        scratch = np.empty((2, w), dtype=np.float32)
        lib.render_passes(
            img.ctypes.data_as(fp), h, w, _RENDER_PASSES,
            scratch[0].ctypes.data_as(fp), scratch[1].ctypes.data_as(fp),
        )
    else:
        _render_passes_numpy(img)
    return int(img.sum() * 1000) % (1 << 31)


def _rasterize_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        cols: dict[str, list] = {
            "url": [], "page_no": [], "width": [], "height": [],
            "page_payload": [], "render_checksum": [], "error": [],
        }

        def emit(url, page_no, w, h, payload, cks, err):
            cols["url"].append(url)
            cols["page_no"].append(page_no)
            cols["width"].append(w)
            cols["height"].append(h)
            cols["page_payload"].append(payload)
            cols["render_checksum"].append(cks)
            cols["error"].append(err)

        for url, payload, start, end in zip(
            pdf["url"], pdf["html"], pdf["page_start"], pdf["page_end"]
        ):
            try:
                doc = json.loads(bytes(payload)[8:])  # skip the PLP1 header
                # materialize the page filter inside the try: a valid-JSON
                # body whose entries aren't page dicts (C6) must quarantine
                # the doc chunk, not fail the task
                in_range = [pg for pg in doc["pages"]
                            if start <= pg["page_no"] < end]
            except Exception as exc:  # noqa: BLE001 — C6 quarantine semantics
                emit(url, int(start), 0, 0, None, -1,
                     f"{type(exc).__name__}: {exc}")
                continue
            for pg in in_range:
                try:
                    emit(url, pg["page_no"], pg["width"], pg["height"],
                         json.dumps(pg, separators=(",", ":")).encode(),
                         _render_page(pg), None)
                except Exception as exc:  # noqa: BLE001
                    emit(url, pg.get("page_no", int(start)), 0, 0, None, -1,
                         f"{type(exc).__name__}: {exc}")
        yield pd.DataFrame(cols)


def rasterize_pages(planned: DataFrame) -> DataFrame:
    """(url, html, page_start, page_end) -> one row per page (P1)."""
    return planned.mapInPandas(_rasterize_batches, schema=PAGE_SCHEMA)
