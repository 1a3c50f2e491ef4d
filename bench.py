#!/usr/bin/env python
"""Benchmark harness.

Default mode (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ..., "pages_per_sec": ...,
   "docs_per_sec": ...}

--scaling mode: run the end-to-end extraction job at local[8] and
local[32] on the same input and write throughput + scaling efficiency to
BENCH/BASELINE.md (the sandbox stand-in for N vs 4N executors —
BASELINE.json's north rule).

--skew mode: run the same job on an EVEN corpus and on a corpus where a
few documents are ~100x the median size (the viral-giant-PDF shape), same
total page count. With the chunked split plan + sliced payloads, the
skewed run should stay near the even run's wall time (flat stragglers);
writes BENCH/SKEW.md.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _sf_of(path: str) -> float:
    name = os.path.basename(path.rstrip("/"))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return -1.0


def _fresh_spark(cores: int):
    from paper_layout_parser_spark.session import get_spark

    spark = get_spark(
        app_name=f"plp-bench-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def materialize_pages(spark, sf_dir: str, replicate: int = 1) -> str:
    """Write the synthetic pages table to parquet once (test scaffolding,
    not pipeline work) — the timed job then reads a real table, like a
    production run reading Iceberg."""
    import tempfile

    from paper_layout_parser_spark.corpus import build_pages

    path = os.path.join(tempfile.mkdtemp(prefix="plp_pages_"), "pages.parquet")
    build_pages(spark, sf_dir, replicate=replicate).write.mode("overwrite").parquet(path)
    return path


def _ivf_sweep(emb, queries, cents, idx, truth, nprobes,
               C: int, dim: int, k: int = 10) -> dict:
    """Shared IVF query-leg sweep (used by --ann-capacity and
    --ivf-recall so the two reports cannot drift): warm the query plan
    at nprobe=1, then per nprobe time `ivf_topk` against ONE trained
    index (centroids= + assigned=) and score recall@k against the
    persisted exact-twin `truth` (query_id, neighbor_id)."""
    from paper_layout_parser_spark.operators.similarity import ivf_topk

    n_truth = truth.count()
    ivf_topk(emb, queries, k=k, num_centroids=C, nprobe=1, dim=dim,
             centroids=cents, assigned=idx).count()
    res = {}
    for nprobe in nprobes:
        t0 = time.monotonic()
        r = ivf_topk(emb, queries, k=k, num_centroids=C, nprobe=nprobe,
                     dim=dim, centroids=cents, assigned=idx).persist()
        nrows = r.count()
        t_q = time.monotonic() - t0
        hits = (r.select("query_id", "neighbor_id")
                .join(truth, ["query_id", "neighbor_id"], "left_semi")
                .count())
        r.unpersist()
        res[nprobe] = {"t": t_q, "recall": hits / n_truth, "rows": nrows}
        print(f"ivf query nprobe={nprobe}: {t_q:.2f}s "
              f"recall@{k} {hits / n_truth:.3f}", file=sys.stderr)
    return res


_HERE = os.path.dirname(os.path.abspath(__file__))


def _anchor(path: str) -> str:
    """Resolve repo-relative report paths against bench.py's own
    directory, not the CWD — `python /root/repo/bench.py --scaling` run
    from /tmp must append to the repo's persistent ledgers, not fork a
    fresh history under /tmp (the exact erased-history failure the
    ledgers exist to prevent)."""
    return path if os.path.isabs(path) else os.path.join(_HERE, path)


def _replace_section(path: str, marker: str, section: str) -> None:
    """Replace-or-append one report section in place: the span from
    `marker` to the NEXT line-anchored `## ` heading (or EOF) is
    swapped for `section`; absent marker appends. Two hardenings from
    r7 ADVICE: the marker match is LINE-ANCHORED (a report that QUOTES
    the marker string mid-prose cannot have its tail destroyed), and
    the replace is SECTION-SCOPED (sections appended later in the file
    by other bench modes survive a re-run of this one)."""
    path = _anchor(path)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    text = ""
    if os.path.exists(path):
        with open(path) as f:
            text = f.read()
    pos = _find_line_anchored(text, marker)
    if pos == -1:
        head, tail = text, ""
    else:
        line_end = text.find("\n", pos)
        nxt = text.find("\n## ", line_end) if line_end != -1 else -1
        head = text[:pos]
        tail = text[nxt + 1:] if nxt != -1 else ""
    parts = [p for p in (head.strip("\n"), section.strip("\n"),
                         tail.strip("\n")) if p]
    with open(path, "w") as f:
        f.write("\n\n".join(parts) + "\n")


def _find_line_anchored(text: str, marker: str) -> int:
    """Index of `marker` in `text` where it begins a line (or the file),
    -1 if absent. Leading newlines on the marker are normalized away so
    legacy '\\n## ...' markers anchor identically."""
    m = marker.lstrip("\n")
    pos = ("\n" + text).find("\n" + m)
    return pos  # ('\n'+text) offsets by 1, the matched '\n' offsets by -1


def _rewrite_preserving(path: str, content: str,
                        preserve_markers: list[str]) -> None:
    """Fully rewrite a report file but re-splice trailing sections owned
    by OTHER bench modes (line-anchored markers, kept in file order) —
    so --ann-capacity cannot clobber --ivf-recall's appended
    '## Clustered-corpus recall' section, and --corpus-build cannot
    clobber --corpus-scaling's '## N -> 4N scaling' section."""
    path = _anchor(path)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    old = ""
    if os.path.exists(path):
        with open(path) as f:
            old = f.read()
    found = sorted(
        (p, m) for m, p in
        ((m, _find_line_anchored(old, m)) for m in preserve_markers)
        if p != -1
    )
    parts = [content.rstrip("\n")]
    for i, (p, _m) in enumerate(found):
        end = found[i + 1][0] if i + 1 < len(found) else len(old)
        parts.append(old[p:end].strip("\n"))
    with open(path, "w") as f:
        f.write("\n\n".join(parts) + "\n")


# --- host-speed calibration anchor (r8) ---------------------------------
# The box this bench runs on drifts (r7 recorded the same code at 23.4 s
# and 30.8 s across a night; three same-code scaling samples spanned
# 0.69-1.17). A fixed single-threaded CPU microbenchmark — the SAME
# cache-resident float math as the rasterize render kernel, at a pinned
# shape and pass count — rides in every BENCH_r*.json so a cross-round
# delta can be read against measured host speed instead of adjudicated
# by git archaeology: if calibration slowed 25% and doc_text slowed 25%,
# that is the box, not the code.
_CALIB_SHAPE = (512, 512)
_CALIB_PASSES = 600
# the anchor's wall on the box that recorded it (r8, 2026-08-18, idle
# best-of-6 across the full bench run): the ledger's 'calibrated
# pages/sec' = raw pages/sec x (calib / ref), i.e. throughput
# normalized to this reference box speed. Rounds with no calibration
# sample show raw throughput only.
_CALIB_REF_S = 0.245


def _calibration_kernel_once(passes: int = _CALIB_PASSES) -> float:
    """One timed run of the calibration kernel (seconds). Mirrors
    operators.rasterize._render_page's smoothing/compositing passes on
    an L2-resident float32 buffer — numpy elementwise ops, single
    thread, no Spark, no allocation inside the loop — so it tracks the
    exact compute profile the render-bound headline query stresses."""
    import numpy as np

    img = np.full(_CALIB_SHAPE, 0.5, dtype=np.float32)
    t0 = time.monotonic()
    for _ in range(passes):
        img[1:, :] += img[:-1, :]
        img[:, 1:] += img[:, :-1]
        img *= 0.25
        np.sqrt(img, out=img)
    return time.monotonic() - t0


def _calibrate(runs: int = 3, passes: int = _CALIB_PASSES) -> dict:
    """Best-of-N calibration sample: min is the box's attainable
    single-thread speed (contention only ever adds time)."""
    walls = [_calibration_kernel_once(passes) for _ in range(runs)]
    return {
        "kernel": (f"render-kernel {_CALIB_SHAPE[0]}x{_CALIB_SHAPE[1]} "
                   f"float32 x{passes} passes, single-threaded"),
        "runs_s": [round(w, 4) for w in walls],
        "best_s": round(min(walls), 4),
    }


def _band_verdict(delta: float, band: float) -> str:
    return ("noise" if abs(delta) <= band
            else "regression" if delta > 0 else "improvement")


def _delta_verdict(cur: float, prev: float, band: float,
                   host_ratio: float | None = None) -> dict:
    """Per-query cross-round delta with BOTH the raw verdict and (when
    both rounds carry a calibration anchor) the calibration-normalized
    one. host_ratio = calib_cur / calib_prev (>1 = this round's box is
    measurably slower); the normalized wall cur/host_ratio asks 'what
    would this query have cost on last round's box', so a pure host
    slowdown normalizes back inside the band while a code regression
    survives normalization. Pure arithmetic — pytested directly
    (tests/test_bench_protocol.py)."""
    delta = (cur - prev) / prev
    out = {"prev": prev, "cur": cur,
           "delta_pct": round(100 * delta, 1),
           "band_pct": round(100 * band, 1),
           "verdict": _band_verdict(delta, band)}
    if host_ratio is not None and host_ratio > 0:
        cur_norm = cur / host_ratio
        delta_norm = (cur_norm - prev) / prev
        out["host_ratio"] = round(host_ratio, 3)
        out["cur_norm"] = round(cur_norm, 3)
        out["delta_norm_pct"] = round(100 * delta_norm, 1)
        out["verdict_norm"] = _band_verdict(delta_norm, band)
    return out


def _effective_verdict(v: dict) -> str:
    """The adjudicated per-query verdict: calibration-normalized when
    available, else raw."""
    return v.get("verdict_norm", v["verdict"])


def _calibrated_pps(pages_per_sec: float, calib_s: float | None) -> float | None:
    """Raw pages/sec normalized to the _CALIB_REF_S reference box: a box
    running the anchor kernel 20% slower gets its throughput scaled UP
    20%, so the ledger column tracks engine speed, not host weather."""
    if not calib_s:
        return None
    return round(pages_per_sec * (calib_s / _CALIB_REF_S), 1)


def _update_doc_text_ledger(doc_text_s: float, n_pages: int,
                            pages_per_sec: float, calib_s: float) -> None:
    """Regenerate the per-round doc_text throughput ledger in
    BENCH/README.md from every recorded BENCH_r*.json plus the current
    (not-yet-recorded) run — the headline query has drifted
    12.3 -> 16.4 -> 14.1 -> 18.9 s across rounds on a shared box with no
    retroactive way to split engine drift from host drift; the
    calibrated column is that split, from r8 on."""
    rows = []
    recorded = _round_benches()
    for n, _path, parsed in recorded:
        q = parsed.get("queries", {})
        if "doc_text" not in q:
            continue
        rows.append((n, q["doc_text"], parsed.get("n_pages"),
                     parsed.get("pages_per_sec"),
                     (parsed.get("calibration") or {}).get("best_s")))
    # current round = newest recorded round overall + 1, NOT the newest
    # doc_text-bearing round — a partial newest round (no doc_text row)
    # must not make the live run relabel itself as that round
    cur_round = (recorded[-1][0] + 1) if recorded else 1
    rows.append((cur_round, doc_text_s, n_pages, pages_per_sec, calib_s))
    lines = [
        "## doc_text throughput ledger (per round)",
        "",
        "The headline render-bound query, one line per round "
        "(back-filled from BENCH_r*.json). `calib` is the single-thread "
        f"anchor kernel's best wall (reference box = {_CALIB_REF_S} s); "
        "**calibrated pages/sec = raw x calib/ref** — constant "
        "calibrated throughput across rounds means host drift, a drop "
        "means the engine. Rounds before r8 predate the anchor and "
        "show raw throughput only.",
        "",
        "| round | doc_text best (s) | pages | raw pages/sec | "
        "calib (s) | calibrated pages/sec |",
        "|---|---|---|---|---|---|",
    ]
    for n, dt, np_, pps, cs in rows:
        cpps = _calibrated_pps(pps, cs) if pps else None
        lines.append(
            f"| r{n} | {dt:.2f} | {np_ or '?'} | {pps or '?'} | "
            f"{f'{cs:.3f}' if cs else '—'} | "
            f"{cpps if cpps is not None else '—'} |")
    here = os.path.dirname(os.path.abspath(__file__))
    _replace_section(os.path.join(here, "BENCH", "README.md"),
                     "## doc_text throughput ledger", "\n".join(lines) + "\n")


def run_extraction(spark, pages_path: str) -> dict:
    """End-to-end extraction job: pages table -> ... -> doc_text + matched
    items. Returns timings and corpus size."""
    from paper_layout_parser_spark.corpus import build_ground_truth
    from paper_layout_parser_spark.operators.evaluate import (
        compare_matches,
        evaluation_summary,
    )
    from paper_layout_parser_spark.plans.pipeline import run_pipeline

    t0 = time.monotonic()
    pages = spark.read.parquet(pages_path)
    out = run_pipeline(pages, persist_enriched=True)
    n_docs = out.doc_text.count()          # forces rasterize+detect+enrich+assembly
    t_doc_text = time.monotonic() - t0

    t1 = time.monotonic()
    out.matched = out.matched.persist()
    n_items = out.matched.count()          # matching branch (enriched persisted)
    t_match = time.monotonic() - t1

    t2 = time.monotonic()
    gt = build_ground_truth(out.matched)
    evaluation_summary(compare_matches(gt, out.matched)).collect()
    t_eval = time.monotonic() - t2

    n_pages = out.rasterized.count()
    out.unpersist()
    out.matched.unpersist()
    return {
        "t_doc_text": t_doc_text,
        "t_caption_match": t_match,
        "t_eval": t_eval,
        "n_docs": n_docs,
        "n_pages": n_pages,
        "n_items": n_items,
    }


def stage_walls(spark, pages_path: str) -> dict:
    """Per-stage wall decomposition of the extraction job, for scaling
    ATTRIBUTION (VERDICT r5 ask #2): each stage is timed against its
    PERSISTED upstream, so a stage's wall is its own work, not its
    lineage's. The fused headline job intentionally does NOT materialize
    these cut points — the sum of stage walls exceeds the fused wall;
    the per-stage ratio across parallelism levels is the signal, the
    absolute sum is not."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from paper_layout_parser_spark.operators.assembly import assemble_doc_text
    from paper_layout_parser_spark.operators.detect import (
        StubDetectorBackend,
        detect_enrich_layout,
        normalize_detections,
    )
    from paper_layout_parser_spark.operators.rasterize import (
        plan_splits,
        rasterize_pages,
    )

    walls = {}
    pages = spark.read.parquet(pages_path)

    t = time.monotonic()
    planned = plan_splits(pages).persist(StorageLevel.MEMORY_AND_DISK)
    planned.count()
    walls["plan_splits"] = time.monotonic() - t

    t = time.monotonic()
    ras = (rasterize_pages(planned).where(F.col("error").isNull())
           .drop("error").persist(StorageLevel.MEMORY_AND_DISK))
    n_pages = ras.count()
    walls["rasterize"] = time.monotonic() - t

    t = time.monotonic()
    enriched = (
        normalize_detections(detect_enrich_layout(ras, StubDetectorBackend))
        .where(F.col("error").isNull()).drop("error")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    enriched.count()
    walls["detect_enrich"] = time.monotonic() - t

    t = time.monotonic()
    n_docs = assemble_doc_text(enriched).count()
    walls["assemble"] = time.monotonic() - t

    planned.unpersist()
    ras.unpersist()
    enriched.unpersist()
    return {"walls": walls, "n_pages": n_pages, "n_docs": n_docs}


def run_trainingdata(spark, sf_dir: str, rotate: int = 0) -> dict:
    import __spark_entry__ as e
    from paper_layout_parser_spark.operators import dedup as dd

    timings = {}
    names = ["dedup_jaccard", "ann_topk", "quality", "fingerprint"]
    # rotate the query order per run so a drifting box (GC pressure,
    # thermal, noisy neighbor) spreads its bias across queries instead of
    # always taxing the same one — makes cross-round deltas attributable
    names = names[rotate % len(names):] + names[:rotate % len(names)]
    for name in names:
        t = time.monotonic()
        e.queries()[name](spark, sf_dir).count()
        timings[name] = round(time.monotonic() - t, 3)
    # minhash: bench the PRODUCTION xxhash64 family (the graded query runs
    # the engine-portable md5 family so the DuckDB oracle can re-derive it
    # bit-for-bit — same plan, slower hashes)
    t = time.monotonic()
    dd.minhash_lsh_pairs(e._docs(spark, sf_dir), threshold=0.5).count()
    timings["dedup_minhash_lsh"] = round(time.monotonic() - t, 3)
    return timings


def _round_benches() -> list[tuple[int, str, dict]]:
    """Every recorded BENCH_r*.json as (round, path, unwrapped-payload),
    round-ascending — the single owner of the round-artifact naming /
    'parsed' wrapping scheme (the delta verdicts and the doc_text
    ledger both read through this)."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    out = []

    def _round_no(p: str) -> int:
        # basename ONLY: an ancestor dir named e.g. build_r2/ would
        # otherwise win the search and stamp every file as round 2
        return int(re.search(r"_r(\d+)", os.path.basename(p)).group(1))

    for p in sorted(glob.glob(os.path.join(here, "BENCH_r*.json")),
                    key=_round_no):
        n = _round_no(p)
        try:
            with open(p) as f:
                parsed = json.load(f)
        except (json.JSONDecodeError, OSError):
            continue
        out.append((n, p, parsed.get("parsed", parsed) or {}))
    return out


def _prev_bench() -> tuple[str | None, dict]:
    """Newest recorded round's payload; (None, {}) when no prior round
    exists."""
    benches = _round_benches()
    if not benches:
        return None, {}
    n, path, payload = benches[-1]
    return os.path.basename(path), payload


def _vs_prev_round(queries: dict, spread: dict,
                   calibration: dict | None = None) -> dict:
    """Per-query best-of-N delta against the newest BENCH_r*.json with a
    variance verdict, so a cross-round regression is a computed fact
    instead of an argument (r4's +6% suite drift was 'inside the ±20% box
    variance' only by prose). Verdict per query: 'noise' when |delta| sits
    inside the noise band — the larger of this round's measured
    min->max spread for that query and the documented 20% box variance
    (50% for sub-second queries, which are scheduling-overhead-dominated)
    — else 'regression'/'improvement'. When BOTH rounds carry the
    calibration anchor, each query also gets a calibration-NORMALIZED
    delta + verdict (host drift divided out — r7's three false
    regression flags on untouched code needed a judge re-run to
    dismiss). Flagged regressions are then re-timed in isolation
    (_recheck_regressions) so every out-of-band delta ships with either
    a normalized verdict or a recheck row."""
    prev_name, prev = _prev_bench()
    if prev_name is None:
        return {}
    prev_q = prev.get("queries", {})
    prev_calib = (prev.get("calibration") or {}).get("best_s")
    cur_calib = (calibration or {}).get("best_s")
    host_ratio = (cur_calib / prev_calib
                  if prev_calib and cur_calib else None)
    out = {"prev_round": prev_name, "queries": {}}
    if host_ratio is not None:
        out["host_ratio"] = round(host_ratio, 3)
    else:
        out["calibration_note"] = (
            "prev round has no calibration anchor — normalized verdicts "
            "start next round; out-of-band deltas rely on the recheck rows"
        )
    for k, cur in queries.items():
        if k not in prev_q or not prev_q[k]:
            continue
        # sub-second jobs are scheduling-overhead-dominated: a 100 ms
        # swing is 25% of a 0.4 s query, so the noise floor is wider
        floor = 0.20 if prev_q[k] >= 1.0 else 0.50
        band = max(floor, spread.get(k, 0.0))
        out["queries"][k] = _delta_verdict(cur, prev_q[k], band, host_ratio)
    deltas = [v["delta_pct"] for v in out["queries"].values()]
    if deltas:
        prev_total = sum(prev_q[k] for k in out["queries"])
        cur_total = sum(queries[k] for k in out["queries"])
        out["total_delta_pct"] = round(
            100 * (cur_total - prev_total) / prev_total, 1)
        if host_ratio:
            out["total_delta_norm_pct"] = round(
                100 * (cur_total / host_ratio - prev_total) / prev_total, 1)
    return out


# queries recheck-able alone in a fresh session (no composite-run
# interference); the pipeline trio shares one extraction re-run
_TD_QUERIES = ("dedup_jaccard", "ann_topk", "quality", "fingerprint",
               "dedup_minhash_lsh")
_PIPELINE_QUERIES = {"doc_text": "t_doc_text",
                     "caption_match": "t_caption_match",
                     "eval_summary": "t_eval"}


def _apply_recheck(v: dict, recheck_s: float) -> None:
    """Re-verdict one flagged query from its isolated re-timing (pure
    arithmetic, pytested): the recheck wall is calibration-normalized
    when the delta row carries a host_ratio, then re-banded.
    verdict_final lands 'noise-on-recheck' when the isolated time falls
    back inside the band, 'regression-confirmed' when it reproduces."""
    v["recheck_s"] = round(recheck_s, 3)
    norm = recheck_s / v.get("host_ratio", 1.0)
    delta = (norm - v["prev"]) / v["prev"]
    # ONE-SIDED: a regression only confirms if the isolated run is still
    # SLOWER than prev by more than the band. An isolated run that comes
    # back faster-than-prev out of band (the composite run hit
    # contention; e.g. three concurrent Spark jobs on one box) is noise
    # for regression purposes, not a confirmed regression — the old
    # abs() check labeled exactly that case "regression-confirmed".
    v["verdict_final"] = ("regression-confirmed"
                          if delta * 100 > v["band_pct"]
                          else "noise-on-recheck")


def _recheck_regressions(vs_prev: dict, pages_path: str | None = None) -> None:
    """For every query still flagged 'regression' after calibration
    normalization, re-time it ALONE in a fresh session (deep warmup +
    best-of-N) and re-verdict: a composite suite run inherits whatever
    heap/GC/neighbor state the preceding queries left, so a flagged
    regression is only attributable to code once it reproduces in
    isolation. Training-data queries re-run individually; the pipeline
    trio (doc_text / caption_match / eval_summary) shares ONE warmed
    extraction re-run over `pages_path` — r7's three false flags were
    exactly these, and the old recheck skipped them. Mutates vs_prev in
    place: every query gets 'verdict_final' (the adjudicated field —
    normalized verdict, or the recheck outcome when one ran)."""
    queries = vs_prev.get("queries") or {}
    for v in queries.values():
        v["verdict_final"] = _effective_verdict(v)
    flagged = [k for k, v in queries.items()
               if v["verdict_final"] == "regression"]
    td = [k for k in flagged if k in _TD_QUERIES]
    pipe = [k for k in flagged if k in _PIPELINE_QUERIES]
    if not td and not pipe:
        return
    import __spark_entry__ as e
    from paper_layout_parser_spark.operators import dedup as dd

    spark = _fresh_spark(CPUS)

    def run_one(name) -> float:
        if name == "dedup_minhash_lsh":
            job = lambda: dd.minhash_lsh_pairs(  # noqa: E731
                e._docs(spark, SF_DIR), threshold=0.5).count()
        else:
            job = lambda: e.queries()[name](spark, SF_DIR).count()  # noqa: E731
        # deep warmup: a fresh JVM under-reports nothing but over-reports
        # sub-second queries badly (JIT, Arrow, python-worker spawn) —
        # three warmup runs before the timed best-of-3
        for _ in range(3):
            job()
        best = float("inf")
        for _ in range(3):
            t = time.monotonic()
            job()
            best = min(best, time.monotonic() - t)
        return best

    for name in td:
        _apply_recheck(vs_prev["queries"][name], run_one(name))
    if pipe and pages_path is not None:
        # one warmed extraction, best-of-2 per stage, covers the trio
        run_extraction(spark, materialize_pages(spark, "/root/testdata/sf0.001"))
        exts = [run_extraction(spark, pages_path) for _ in range(2)]
        for name in pipe:
            key = _PIPELINE_QUERIES[name]
            _apply_recheck(vs_prev["queries"][name],
                           min(x[key] for x in exts))
    spark.stop()


def default_mode() -> None:
    calib_pre = _calibrate()
    spark = _fresh_spark(CPUS)
    # warm-up at the smallest SF so JVM/JIT + python-worker spawn don't
    # dominate the measured run
    warm = materialize_pages(spark, "/root/testdata/sf0.001")
    run_extraction(spark, warm)
    pages_path = materialize_pages(spark, SF_DIR)
    # best-of-N: this box's documented run-to-run variance (~±20%) swamps
    # single-run comparisons; per-query spread rides in the JSON so a
    # reader can tell signal from noise
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    # INTERLEAVED run order (extraction run i, then training-data run i,
    # with the td query order rotated per run) instead of sequential
    # blocks: a box-wide drift (GC, thermal, neighbor) lands on different
    # queries in different runs, so per-query median/best stay comparable
    # across rounds and a regression is attributable to code, not order
    ext_runs, td_runs = [], []
    for i in range(runs):
        ext_runs.append(run_extraction(spark, pages_path))
        td_runs.append(run_trainingdata(spark, SF_DIR, rotate=i))
    spark.stop()
    per_query_runs: dict[str, list[float]] = {}
    for ext in ext_runs:
        per_query_runs.setdefault("doc_text", []).append(ext["t_doc_text"])
        per_query_runs.setdefault("caption_match", []).append(ext["t_caption_match"])
        per_query_runs.setdefault("eval_summary", []).append(ext["t_eval"])
    for td in td_runs:
        for k, v in td.items():
            per_query_runs.setdefault(k, []).append(v)

    from statistics import median

    queries = {k: round(min(v), 3) for k, v in per_query_runs.items()}
    medians = {k: round(median(v), 3) for k, v in per_query_runs.items()}
    spread = {k: round((max(v) - min(v)) / min(v), 3)
              for k, v in per_query_runs.items()}
    total = round(sum(queries.values()), 3)
    # each run's TRUE end-to-end total (the composite best-of-N headline is
    # a sum of per-query minimums no single run achieved — labeled as such)
    run_totals = [
        round(sum(vals[i] for vals in per_query_runs.values()), 3)
        for i in range(runs)
    ]
    ext = ext_runs[0]
    best_doc_text = queries["doc_text"]
    # post-run calibration sample: contention that arrived DURING the
    # bench shows up here; min(pre, post) is the box's attainable speed
    calib_post = _calibrate()
    calibration = {
        "kernel": calib_pre["kernel"] + ", best-of-3 pre + post",
        "pre_s": calib_pre["best_s"],
        "post_s": calib_post["best_s"],
        "best_s": min(calib_pre["best_s"], calib_post["best_s"]),
    }
    vs_prev = _vs_prev_round(queries, spread, calibration)
    _recheck_regressions(vs_prev, pages_path)
    pages_per_sec = round(ext["n_pages"] / best_doc_text, 1)
    if _sf_of(SF_DIR) == 0.1:
        # ledger rows are only comparable at the driver's canonical SF —
        # a smoke run at sf0.001 must not write a bogus round line
        _update_doc_text_ledger(best_doc_text, ext["n_pages"],
                                pages_per_sec, calibration["best_s"])
    print(json.dumps({
        "metric": ("layout-extraction + training-data ops, best-of-"
                   f"{runs} per-query wall time, summed"),
        "value": total,
        "unit": "sec",
        "queries": queries,
        "queries_median": medians,
        "runs": runs,
        "run_totals": run_totals,
        "spread": spread,
        "calibration": calibration,
        "vs_prev_round": vs_prev,
        "sf": _sf_of(SF_DIR),
        "cpus": CPUS,
        "n_docs": ext["n_docs"],
        "n_pages": ext["n_pages"],
        "pages_per_sec": pages_per_sec,
        "docs_per_sec": round(ext["n_docs"] / best_doc_text, 1),
    }))


def scaling_mode() -> None:
    # replicated corpus (~125k pages): long enough that fixed
    # orchestration costs don't swamp the throughput signal
    replicate = int(os.environ.get("SPARK_GRAFT_BENCH_REPLICATE", "5"))
    lo = int(os.environ.get("SPARK_GRAFT_SCALE_N", "4"))
    hi = 4 * lo
    results = {}
    pages_path = warm_path = empty_path = None
    for cores in (lo, hi):
        spark = _fresh_spark(cores)
        if pages_path is None:
            warm_path = materialize_pages(spark, "/root/testdata/sf0.001")
            pages_path = materialize_pages(spark, SF_DIR, replicate=replicate)
            # zero-row pages table with the real schema: running the
            # SAME stage graph over it measures pure job-submission +
            # shuffle-setup overhead per stage (r6 ask #4 — the
            # overhead-subtracted attribution below)
            import tempfile

            from paper_layout_parser_spark.corpus import build_pages
            empty_path = os.path.join(
                tempfile.mkdtemp(prefix="plp_empty_"), "empty.parquet")
            (build_pages(spark, "/root/testdata/sf0.001").limit(0)
             .write.mode("overwrite").parquet(empty_path))
        # warm-up pass so JVM/JIT and Arrow setup don't bias the small run
        run_extraction(spark, warm_path)
        ext = run_extraction(spark, pages_path)
        ext["stages"] = stage_walls(spark, pages_path)["walls"]
        # overhead AFTER the real pass: warmed JVM, so the empty-input
        # walls are steady-state submission costs, not cold-start
        ext["overhead"] = stage_walls(spark, empty_path)["walls"]
        spark.stop()
        results[cores] = ext
        print(f"local[{cores}]: doc_text {ext['t_doc_text']:.1f}s "
              f"({ext['n_pages'] / ext['t_doc_text']:.0f} pages/s)",
              file=sys.stderr)
    thr8 = results[lo]["n_pages"] / results[lo]["t_doc_text"]
    thr32 = results[hi]["n_pages"] / results[hi]["t_doc_text"]
    eff = (thr32 / thr8) / 4
    os.makedirs(_anchor("BENCH"), exist_ok=True)
    with open(_anchor("BENCH/BASELINE.md"), "w") as f:
        f.write(f"""# BENCH — measured scaling (local[{lo}] vs local[{hi}])

Sandbox stand-in for N vs 4N executors (BASELINE.json north rule:
scaling efficiency >= 0.8 from N to 4N). Same end-to-end extraction job
(pages -> split-plan -> rasterize [real render work] -> detect -> enrich ->
match + assemble) on the same input ({SF_DIR} x{replicate},
{results[hi]['n_docs']} docs / {results[hi]['n_pages']} pages).

| parallelism | wall (s) | pages/sec | docs/sec |
|---|---|---|---|
| local[{lo}]  | {results[lo]['t_doc_text']:.2f} | {thr8:.1f} | {results[lo]['n_docs'] / results[lo]['t_doc_text']:.1f} |
| local[{hi}] | {results[hi]['t_doc_text']:.2f} | {thr32:.1f} | {results[hi]['n_docs'] / results[hi]['t_doc_text']:.1f} |

**Scaling efficiency (throughput@{hi} / throughput@{lo}) / 4 = {eff:.3f}**
(target >= 0.8; 1.0 = perfect linear scaling)

This headline is ONE composite sample on a shared box; same-code
composites have measured 0.69-1.17 across rounds, so a single number
above or below target adjudicates nothing by itself. The
contention-robust signals are the dominant-stage work efficiency
(per-stage table below) and the min-wall-per-leg composite over all
recorded samples (ledger at the bottom).

## Per-stage attribution, overhead-subtracted (r7)

Each stage timed against its PERSISTED upstream (own work only, not
lineage) — the fused headline job does not materialize these cut points,
so stage walls sum to more than the fused wall; per-stage efficiency is
the attribution signal. The `overhead` columns run the SAME stage graph
over a ZERO-ROW pages table in the same warmed session — pure
job-submission + shuffle-setup cost per stage, which does not shrink
with cores — and `work = wall - overhead` is the size-dependent part.
`eff(work)` is the overhead-subtracted scaling efficiency; stages whose
work@{lo} is under 1 s have no measurable size-dependent work at this
corpus and get `n/a` (their raw "efficiency" is an overhead artifact —
now measured, not argued).

| stage | wall@{lo} (s) | wall@{hi} (s) | ovh@{lo} (s) | ovh@{hi} (s) | work@{lo} (s) | work@{hi} (s) | eff (raw) | eff (work) |
|---|---|---|---|---|---|---|---|---|
""")
        stage_eff = {}
        stage_eff_work = {}
        for st in results[lo]["stages"]:
            wlo = results[lo]["stages"][st]
            whi = results[hi]["stages"][st]
            olo = results[lo]["overhead"][st]
            ohi = results[hi]["overhead"][st]
            klo = max(wlo - olo, 0.0)
            khi = max(whi - ohi, 0.0)
            stage_eff[st] = (wlo / whi) / 4
            if klo >= 1.0 and khi > 0.0:
                stage_eff_work[st] = (klo / khi) / 4
                eff_cell = f"{stage_eff_work[st]:.3f}"
            else:
                eff_cell = "n/a (<1 s work)"
            f.write(f"| {st} | {wlo:.2f} | {whi:.2f} | {olo:.2f} | "
                    f"{ohi:.2f} | {klo:.2f} | {khi:.2f} | "
                    f"{stage_eff[st]:.3f} | {eff_cell} |\n")
        dominant = max(results[lo]["stages"], key=results[lo]["stages"].get)
        dom_frac = (results[lo]["stages"][dominant]
                    / sum(results[lo]["stages"].values()))
        overheady = sorted(st for st in stage_eff
                           if st not in stage_eff_work)
        f.write(f"""
Reading: the dominant stage is **{dominant}**
({dom_frac:.0%} of the summed stage wall at @{lo}), scaling at
**{stage_eff[dominant]:.3f}** raw"""
                + (f" / **{stage_eff_work[dominant]:.3f}** "
                   "overhead-subtracted"
                   if dominant in stage_eff_work else "")
                + f""" — that is the engine's real scaling number.
{("Stages " + ", ".join(overheady) + " have under 1 s of "
  "size-dependent work once the measured empty-input overhead is "
  "subtracted: their low raw efficiency is submission/shuffle-setup "
  "cost, measured directly by the zero-row run, not a scaling defect.")
 if overheady else
 "Every stage carries measurable size-dependent work at this size."}
A drift in the end-to-end number is real only if {dominant}'s row
moves.
""")
        f.write(_scaling_samples_section(
            wall_lo=results[lo]["t_doc_text"],
            wall_hi=results[hi]["t_doc_text"],
            composite=eff,
            dom_raw=stage_eff[dominant],
            dom_work=stage_eff_work.get(dominant),
            lo=lo, hi=hi, dominant=dominant,
        ))
    print(json.dumps({"eff": round(eff, 3),
                      "pages_per_sec_8": round(thr8, 1),
                      "pages_per_sec_32": round(thr32, 1),
                      "stage_eff": {k: round(v, 3)
                                    for k, v in stage_eff.items()},
                      "stage_eff_work": {k: round(v, 3)
                                         for k, v in stage_eff_work.items()}}))


_SAMPLES_PATH = os.path.join(_HERE, "BENCH", "scaling_samples.json")


def _append_ledger(path: str, sample: dict) -> list:
    """Shared load-append-dump for the persistent sample ledgers
    (scaling_samples.json, curate_samples.json) with two guarantees the
    per-ledger copies lacked: a corrupt/truncated file is PRESERVED
    aside (renamed to <path>.corrupt) instead of silently reset to [] —
    the recorded history is exactly the artifact the ledgers exist to
    protect — and the write is atomic (tmp + os.replace), so a run
    killed mid-dump can never leave truncated JSON behind in the first
    place. Non-finite floats in the sample are nulled before the dump
    (json.dump's default emits literal NaN — not RFC JSON — and a NaN
    row would poison every future render's min/max spread). The whole
    read-modify-write holds an exclusive flock on <path>.lock so two
    concurrent bench runs on one box (the s4 curate-ledger incident)
    cannot each load the same history and silently drop the other's
    row. Labels the new sample s<N over all recorded rows> and returns
    the full list."""
    import fcntl

    path = _anchor(path)
    with open(path + ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        samples = []
        if os.path.exists(path):
            try:
                with open(path) as f:
                    samples = json.load(f)
                if not isinstance(samples, list):
                    raise ValueError("ledger is not a JSON list")
            except (ValueError, OSError):
                # ValueError covers JSONDecodeError, UnicodeDecodeError
                # (binary corruption), and the non-list case above.
                # Preserve under a name no earlier incident holds —
                # clobbering a prior .corrupt would destroy the exact
                # history this guard exists to protect.
                corrupt = path + ".corrupt"
                i = 1
                while os.path.exists(corrupt):
                    i += 1
                    corrupt = f"{path}.corrupt.{i}"
                os.replace(path, corrupt)
                print(f"WARNING: unreadable ledger preserved as "
                      f"{corrupt}; starting a fresh ledger — restore "
                      "rows from it manually if the history matters",
                      file=sys.stderr)
                samples = []
        clean = {k: (None if isinstance(v, float)
                     and not math.isfinite(v) else v)
                 for k, v in sample.items()}
        samples.append({"label": f"s{len(samples) + 1}", **clean})
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(samples, f, indent=1)
        os.replace(tmp, path)
    return samples


def _scaling_samples_section(wall_lo: float, wall_hi: float,
                             composite: float, dom_raw: float,
                             dom_work: float | None,
                             lo: int, hi: int, dominant: str) -> str:
    """Append this run to the persistent multi-sample ledger
    (BENCH/scaling_samples.json) and render the variance section from
    ALL recorded samples. The r7 three-sample protocol lived as
    hand-written prose inside BASELINE.md and was destroyed by the next
    full-file rewrite (the ADVICE r7 rewrite/append hazard) — samples
    now persist as data and the narrative derives from them, so a
    re-run ADDS a row instead of erasing history."""
    samples = _append_ledger(_SAMPLES_PATH, {
        "lo": lo, "hi": hi, "dominant": dominant,
        "wall_lo": round(wall_lo, 2), "wall_hi": round(wall_hi, 2),
        "composite": round(composite, 3), "dom_raw": round(dom_raw, 3),
        "dom_work": round(dom_work, 3) if dom_work is not None else None,
    })
    return _render_scaling_samples(samples, lo, hi, dominant)


def _render_scaling_samples(samples: list, lo: int, hi: int,
                            dominant: str) -> str:
    """Pure render of the multi-sample variance section (no appending —
    so the section can be regenerated from the recorded JSON)."""
    # every row renders with ITS OWN recorded shape (legacy back-filled
    # rows without one default to this run's) — a future run at a
    # different SCALE_N or with a different dominant stage must not
    # silently relabel history under its own headers
    def shape(s):
        return (f"{s.get('lo', lo)}→{s.get('hi', hi)}, "
                f"{s.get('dominant', dominant)}")

    rows = "\n".join(
        f"| {s['label']} | {shape(s)} | {s['wall_lo']:.2f} | "
        f"{s['wall_hi']:.2f} | {s['composite']:.3f} | {s['dom_raw']:.3f}"
        + (f" / {s['dom_work']:.3f}" if s.get("dom_work") is not None
           else " / —") + " |"
        for s in samples)
    comps = [s["composite"] for s in samples]
    doms = [s["dom_raw"] if s.get("dom_work") is None else s["dom_work"]
            for s in samples]
    same_shape = [s for s in samples
                  if s.get("lo", lo) == lo and s.get("hi", hi) == hi]
    floor_comp = ((min(s["wall_lo"] for s in same_shape)
                   / min(s["wall_hi"] for s in same_shape)) / (hi // lo))
    return f"""
## Scaling samples (multi-round ledger)

Single composite runs on this shared box are not trustworthy — a leg
can swing 25-60% with host contention — so every `--scaling` run
appends here (BENCH/scaling_samples.json) and the spread IS the
protocol:

| sample | shape (N→4N cores, dominant stage) | fused @N (s) | fused @4N (s) | composite | dominant stage eff (raw/work) |
|---|---|---|---|---|---|
{rows}

Composite range {min(comps):.2f}-{max(comps):.2f} across
{len(samples)} samples; the work-bearing dominant-stage
efficiency holds {min(doms):.2f}-{max(doms):.2f}
({'every sample over the 0.8 target'
   if min(doms) >= 0.8 else 'see per-sample rows'}).
Min-wall-per-leg composite over the {len(same_shape)} same-shape
samples (noise only ever ADDS time): **{floor_comp:.2f}**. The
conservative, contention-robust scaling number is the per-stage one;
the composite inherits whichever leg hit shared-host contention.
"""


_CURATE_SAMPLES_PATH = os.path.join(_HERE, "BENCH", "curate_samples.json")


def _curate_samples_section(sample: dict) -> str:
    """Append this --curate-scaling run to BENCH/curate_samples.json and
    render the variance ledger from ALL recorded samples — the same
    protocol as the headline scaling ledger: single runs on this shared
    box swing (three same-round samples measured work-only efficiency
    0.629-0.686 on near-identical code), so the spread is reported and
    the contention-robust number is the min-wall-per-level floor
    (noise only ever ADDS wall)."""
    samples = _append_ledger(_CURATE_SAMPLES_PATH, sample)
    return _render_curate_samples(samples, sample["lo"], sample["hi"])


def _render_curate_samples(samples: list, lo: int, hi: int) -> str:
    """Pure render (no append) so the section regenerates from the
    recorded JSON; every row renders under its own shape and note."""
    def _finite(v):
        return v is not None and not (isinstance(v, float)
                                      and not math.isfinite(v))

    def eff_cell(s):
        # a degenerate sample (work wall clamped to 0) records eff_work
        # null (legacy rows: NaN) — render n/a, keep it out of the spread
        v = s.get("eff_work")
        return f"{v:.3f}" if _finite(v) else "n/a"

    rows = "\n".join(
        f"| {s['label']} | {s.get('lo', lo)}→{s.get('hi', hi)} | "
        f"{s['work_lo']:.2f} | {s['work_hi']:.2f} | "
        f"{eff_cell(s)} | {s['binding']} "
        f"{s['binding_leg_s']:.1f}s | {s.get('note', '')} |"
        for s in samples)
    effs = [s["eff_work"] for s in samples
            if _finite(s.get("eff_work"))]
    spread_txt = (f"{min(effs):.2f}-{max(effs):.2f}" if effs
                  else "n/a (no sample with a finite work efficiency)")
    same = [s for s in samples
            if s.get("lo", lo) == lo and s.get("hi", hi) == hi]
    # a clamped-to-zero work wall (overhead >= wall, the GC-pause case
    # curate_scaling_mode guards with NaN) must not ZeroDivision the
    # render — once persisted it would crash every FUTURE run too
    min_hi = min(s["work_hi"] for s in same)
    floor_txt = (
        f"**{(min(s['work_lo'] for s in same) / min_hi) / (hi // lo):.3f}**"
        if min_hi > 0 else
        "**not computable** (a sample's work-only wall clamped to 0)")
    return f"""
## Curate samples (multi-run ledger)

Every `--curate-scaling` run appends here
(BENCH/curate_samples.json); the spread IS the protocol — a single
sample's efficiency moves {spread_txt} with host
contention on near-identical code:

| sample | shape (N→4N) | work-only @N (s) | work-only @4N (s) | work eff | binding leg @N | note |
|---|---|---|---|---|---|---|
{rows}

Min-wall-per-level work-only efficiency over the {len(same)}
same-shape samples (noise only ever ADDS wall): {floor_txt}.
"""


def ann_capacity_mode() -> None:
    """IVF at realistic width (VERDICT r5 ask #4): the oracle-checked
    query runs dim=64 / C=16; a real embedding corpus is dim 384-1024
    with nlist in the thousands. The C-ceiling was fixed in plan shape
    (broadcast centroid table, proven at C=256); the remaining suspects
    are training's per-iteration agg (dim sum columns, C x dim longs
    collected to the driver), assignment cost linear in C, and the
    EXECUTION ENGINE of the per-row scoring: the native HOF fold costs
    C x dim interpreter steps per row (a first full run measured it at
    ~7.9 ms/vector at dim=768 / C=1024 — 1,583 s for 200k vectors),
    while the arrow path (assign_clusters_arrow) does one numpy matmul
    per batch. The probe measures the arrow path at full corpus for
    both C values (the production shape) and the native path on a
    slice (per-vector cost; running it full-corpus at C=1024 is the
    1,583 s it exists to replace), plus their assignment agreement."""
    import tempfile

    from pyspark.sql import functions as F

    from paper_layout_parser_spark.operators.similarity import (
        IVF_MEAN_SCALE,  # noqa: F401  (documented in the report)
        assign_clusters,
        assign_clusters_arrow,
        train_ivf_centroids,
    )

    dim = int(os.environ.get("SPARK_GRAFT_ANN_DIM", "768"))
    n_vecs = int(os.environ.get("SPARK_GRAFT_ANN_N", "200000"))
    n_slice = int(os.environ.get("SPARK_GRAFT_ANN_SLICE", "20000"))
    sample_fraction = 0.05
    max_iter = 3
    spark = _fresh_spark(CPUS)
    # deterministic synthetic embeddings (no RNG): hash-derived doubles
    # in [-0.5, 0.5); generation is scaffolding, so materialize to
    # parquet BEFORE timing (the hardware-scaling lesson)
    path = os.path.join(tempfile.mkdtemp(prefix="plp_ann_"), "emb.parquet")
    (spark.range(n_vecs).toDF("vec_id")
     .repartition(2 * CPUS)
     .withColumn("embedding", F.transform(
         F.sequence(F.lit(0), F.lit(dim - 1)),
         lambda i: F.pmod(F.xxhash64(F.col("vec_id"), i), F.lit(10000))
         .cast("double") / 10000.0 - 0.5))
     .write.mode("overwrite").parquet(path))
    emb = spark.read.parquet(path)
    emb_slice = emb.where(F.col("vec_id") < n_slice)
    # warm-up: JVM/JIT + Arrow python workers + numpy import on every
    # executor thread — without this the first timed row absorbs the
    # cold-start and the 4xC train ratio inverts (a first run of this
    # probe reported 0.63x; the hardware-scaling lesson)
    warm = train_ivf_centroids(
        emb_slice, num_centroids=8, max_iter=1, dim=dim,
        sample_fraction=0.2, assign_impl="arrow")
    assign_clusters_arrow(emb_slice, warm, "embedding", "c").agg(
        F.countDistinct("c")).collect()
    assign_clusters(emb_slice.where(F.col("vec_id") < 2000), warm,
                    "embedding", "c").agg(F.countDistinct("c")).collect()
    results = {}
    # best-of-2, C-order interleaved: a single pass reported C=1024
    # TRAINING faster than C=256 even after warm-up — the arrow walls
    # are Arrow-transfer/codegen dominated (near-constant in C) and
    # box variance (the r5 session-variance lesson) swamps the C term;
    # min-of-interleaved runs is the honest ratio
    cents = {}
    for _ in range(2):
        for C in (256, 1024):
            t0 = time.monotonic()
            cents[C] = train_ivf_centroids(
                emb, num_centroids=C, max_iter=max_iter, dim=dim,
                sample_fraction=sample_fraction, assign_impl="arrow",
            )
            t_train = time.monotonic() - t0
            sel = emb.select("vec_id", F.col("embedding").alias("cv"))
            t1 = time.monotonic()
            # aggregate the computed column (a bare count would let
            # Catalyst prune the scoring work — the r4 bench gotcha)
            n_clusters = (
                assign_clusters_arrow(sel, cents[C], "cv", "cluster")
                .agg(F.countDistinct("cluster")).collect()[0][0])
            t_arrow = time.monotonic() - t1
            r = results.setdefault(C, {
                "t_train": t_train, "t_arrow": t_arrow,
                "n_clusters": n_clusters,
                "collect_mb": C * (dim + 2) * 8 / 1e6,
            })
            r["t_train"] = min(r["t_train"], t_train)
            r["t_arrow"] = min(r["t_arrow"], t_arrow)
            print(f"C={C}: train(arrow) {t_train:.1f}s "
                  f"arrow-assign {t_arrow:.1f}s", file=sys.stderr)
    for C in (256, 1024):
        # native fold on a slice: per-vector cost of the interpreted
        # path — timed ONCE (it is minutes-long, per-vector cost is
        # stable). Persist the timed result so the agreement check
        # reuses it instead of re-running the probe's most expensive job
        sel_s = emb_slice.select("vec_id", F.col("embedding").alias("cv"))
        n = assign_clusters(sel_s, cents[C], "cv", "cn").persist()
        t2 = time.monotonic()
        n.agg(F.countDistinct("cn")).collect()
        t_native_slice = time.monotonic() - t2
        # agreement between the two paths on the slice (the documented
        # seam is sub-ulp cosine ties; on hash-random data expect ~1.0)
        a = assign_clusters_arrow(sel_s, cents[C], "cv", "ca")
        agree = (a.join(n.select("vec_id", "cn"), "vec_id")
                 .agg(F.avg((F.col("ca") == F.col("cn")).cast("double")))
                 .collect()[0][0])
        n.unpersist()
        results[C].update({
            "ms_arrow": results[C]["t_arrow"] * 1000 / n_vecs,
            "t_native_slice": t_native_slice,
            "ms_native": t_native_slice * 1000 / n_slice,
            "agree": agree,
        })
        print(f"C={C}: native/vec {results[C]['ms_native']:.2f}ms "
              f"agree {agree:.4f}", file=sys.stderr)
    # exact top-k at the same width: the brute-force baseline has the
    # same interpreted-fold bottleneck (Q x dim steps per candidate row)
    from paper_layout_parser_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_arrow,
    )

    n_queries = 32
    bf_q = emb.where(F.col("vec_id") < n_queries)
    t0 = time.monotonic()
    bf_arrow_rows = brute_force_topk_arrow(emb, bf_q, k=10).count()
    t_bf_arrow = time.monotonic() - t0
    t1 = time.monotonic()
    brute_force_topk(emb_slice, bf_q, k=10).count()
    t_bf_native_slice = time.monotonic() - t1
    bf = {
        "t_arrow_full": t_bf_arrow,
        "ms_arrow": t_bf_arrow * 1000 / n_vecs,
        "ms_native": t_bf_native_slice * 1000 / n_slice,
        "rows": bf_arrow_rows, "n_queries": n_queries,
    }
    print(f"brute-force top-k Q={n_queries}: arrow {t_bf_arrow:.1f}s full "
          f"corpus, native {bf['ms_native']:.2f} ms/vec on the slice",
          file=sys.stderr)

    # IVF QUERY leg at production width (r6 ask #6): one trained index
    # (centroids= + assigned=, the production reuse shape) serves all
    # nprobe settings; recall against the exact brute-force twin above.
    # Candidate volume is ~N * nprobe / C per query, so latency must
    # grow sub-linearly in nprobe (fixed probe-selection + window costs
    # amortize) — a super-linear step would mean the in-list re-rank
    # leaks beyond its probed lists.
    idx = assign_clusters_arrow(emb, cents[1024], "embedding",
                                "cluster").persist()
    idx.count()
    truth = (brute_force_topk_arrow(emb, bf_q, k=10)
             .select("query_id", "neighbor_id").persist())
    ivf_res = _ivf_sweep(emb, bf_q, cents[1024], idx, truth,
                         (1, 8, 32), C=1024, dim=dim)
    truth.unpersist()
    idx.unpersist()
    r256, r1024 = results[256], results[1024]
    train_ratio = r1024["t_train"] / r256["t_train"]
    assign_ratio = r1024["t_arrow"] / r256["t_arrow"]
    os.makedirs(_anchor("BENCH"), exist_ok=True)
    # full rewrite of THIS mode's content, but --ivf-recall appends its
    # own section to the same file — re-splice it (ADVICE r7)
    _rewrite_preserving("BENCH/ANN_CAPACITY.md", f"""# BENCH — IVF at realistic width (local[{CPUS}])

{n_vecs:,} synthetic embeddings, dim={dim}, sample_fraction=
{sample_fraction} ({int(n_vecs * sample_fraction):,} training vectors),
max_iter={max_iter}. The graded oracle query runs dim=64 / C=16; this
probes the production shape with the production engine
(``assign_impl='arrow'``: one numpy matmul per Arrow batch). C grows 4x
between the rows — a ~4x wall ratio is linear-in-C, anything well
beyond is a super-linear step.

| C (nlist) | train wall (s) | assign wall (s), {n_vecs // 1000}k vecs | ms/vec arrow | ms/vec native fold | agree | means-collect / iter |
|---|---|---|---|---|---|---|
| 256 | {r256['t_train']:.1f} | {r256['t_arrow']:.1f} | {r256['ms_arrow']:.3f} | {r256['ms_native']:.2f} | {r256['agree']:.4f} | {r256['collect_mb']:.1f} MB |
| 1024 | {r1024['t_train']:.1f} | {r1024['t_arrow']:.1f} | {r1024['ms_arrow']:.3f} | {r1024['ms_native']:.2f} | {r1024['agree']:.4f} | {r1024['collect_mb']:.1f} MB |

wall ratios at 4x C (best-of-2, C-order interleaved): train
**{train_ratio:.2f}x**, assign **{assign_ratio:.2f}x** (linear = 4.0x;
sub-linear means the walls are dominated by terms constant in C —
Arrow transfer of the {n_vecs // 1000}k x {dim} corpus and per-plan
codegen — so raising nlist toward real-index values is nearly free at
this corpus size).

Engine finding (the reason assign_impl exists): the native HOF fold is
C x dim INTERPRETER steps per row — measured
{r1024['ms_native']:.2f} ms/vector at C=1024 (a full 200k-vector
assignment took 1,583 s on the first probe run), vs
{r1024['ms_arrow']:.3f} ms/vector for the matmul path —
**{r1024['ms_native'] / r1024['ms_arrow']:.0f}x**. At dim=64 / C=16 (the
graded query) the fold is fine; at production width it is the
bottleneck, so ivf_topk(assign_impl='arrow') routes training and corpus
assignment through the matmul while the md5 oracle family keeps the
engine-replayable fold. Assignment agreement on the slice:
{r1024['agree']:.4f} (documented seam: sub-ulp cosine ties).

Exact top-k at the same width (the brute-force baseline, Q={bf['n_queries']}
queries, k=10): brute_force_topk_arrow scores the FULL {n_vecs // 1000}k
corpus in {bf['t_arrow_full']:.1f} s ({bf['ms_arrow']:.3f} ms/vec —
matmul + batch-local top-(k+1) pruning, so the exchange carries
~partitions x k rows per query instead of N) vs
{bf['ms_native']:.2f} ms/vec for the native fold on the slice —
**{bf['ms_native'] / bf['ms_arrow']:.0f}x**. Same output contract,
parity pytested.

## IVF query leg at production width (r7)

`ivf_topk` with ONE trained index reused across calls (``centroids=`` +
``assigned=``, the production shape — train {r1024['t_train']:.0f} s and
assign {r1024['t_arrow']:.0f} s are paid once, not per query batch):
Q={bf['n_queries']}, k=10, C=1024, dim={dim}, recall@10 against the
exact brute-force twin above. Candidate volume per query is
~N x nprobe/C, so wall must grow SUB-linearly in nprobe (probe
selection, broadcast, and window costs are fixed); a super-linear step
would mean the re-rank leaks beyond its probed lists.

| nprobe | query wall (s), Q={bf['n_queries']} | recall@10 | result rows |
|---|---|---|---|
| 1 | {ivf_res[1]['t']:.2f} | {ivf_res[1]['recall']:.3f} | {ivf_res[1]['rows']} |
| 8 | {ivf_res[8]['t']:.2f} | {ivf_res[8]['recall']:.3f} | {ivf_res[8]['rows']} |
| 32 | {ivf_res[32]['t']:.2f} | {ivf_res[32]['recall']:.3f} | {ivf_res[32]['rows']} |

32x the probed lists costs {ivf_res[32]['t'] / ivf_res[1]['t']:.1f}x
the wall (linear would be ~32x) — the recall/latency trade the operator
exists for. Recall below 1.0 at low nprobe is IVF by construction
(hash-uniform synthetic embeddings are the WORST case for coarse
quantization: no cluster structure, so neighbors spread across lists;
real embedding corpora cluster and recall rises at the same nprobe
— measured: the clustered-corpus section below / bench.py
--ivf-recall gets 0.900 at nprobe=1).

Driver safety: each Lloyd iteration collects C x (dim+2) longs —
{r1024['collect_mb']:.1f} MB at C=1024/dim={dim} — far under any driver
limit; the scaled-integer sums (IVF_MEAN_SCALE=2^24) keep the means
bit-deterministic across partitionings. The assignment plan remains the
broadcast centroid table (O(1) expression size in C, plan-tested at
C=256 in tests/test_round5_hardening.py).
""", preserve_markers=["## Clustered-corpus recall"])
    print(json.dumps({"train_ratio_4xC": round(train_ratio, 2),
                      "assign_ratio_4xC": round(assign_ratio, 2),
                      "arrow_vs_native": round(
                          r1024["ms_native"] / r1024["ms_arrow"], 1),
                      "ivf_query": {str(np): {"t_s": round(v["t"], 2),
                                              "recall": round(v["recall"], 3)}
                                    for np, v in ivf_res.items()},
                      "C1024": {k: round(v, 3) if isinstance(v, float) else v
                                for k, v in r1024.items()}}))
    spark.stop()


def ivf_recall_mode() -> None:
    """IVF recall on a CLUSTERED corpus (r7). The --ann-capacity query-leg
    probe measures recall on hash-UNIFORM embeddings — the worst case for
    a coarse quantizer by construction (no cluster structure, so recall
    sits near nprobe/C no matter how good the index is), which makes its
    recall column uninformative about index quality. Real embedding
    corpora cluster; this probe plants that structure
    (synthdata.clustered_embeddings) and measures the recall/nprobe
    trade the operator exists for, with HELD-OUT queries drawn from the
    same mixture (the capacity probe's queries are corpus members, so
    truth includes the self-match — held-out is the honest ANN shape).
    Appends a section to BENCH/ANN_CAPACITY.md."""
    import tempfile

    from pyspark.sql import functions as F

    from paper_layout_parser_spark.operators.similarity import (
        assign_clusters_arrow,
        brute_force_topk_arrow,
        train_ivf_centroids,
    )
    from paper_layout_parser_spark.synthdata import clustered_embeddings

    dim = int(os.environ.get("SPARK_GRAFT_ANN_DIM", "768"))
    n_vecs = int(os.environ.get("SPARK_GRAFT_ANN_N", "100000"))
    n_true = int(os.environ.get("SPARK_GRAFT_ANN_TRUE_CLUSTERS", "512"))
    C = int(os.environ.get("SPARK_GRAFT_ANN_C", "1024"))
    n_queries, k = 32, 10
    spark = _fresh_spark(CPUS)
    # generation is scaffolding: materialize BEFORE timing
    path = os.path.join(tempfile.mkdtemp(prefix="plp_ivfr_"), "emb.parquet")
    (clustered_embeddings(spark, n_vecs, dim, n_true)
     .repartition(2 * CPUS).write.mode("overwrite").parquet(path))
    emb = spark.read.parquet(path)
    # held-out queries: same mixture, ids past the corpus range (one per
    # true cluster for the first n_queries clusters)
    queries = (clustered_embeddings(spark, n_queries, dim, n_true,
                                    id_start=n_vecs)
               .persist())
    queries.count()
    # warm-up (JVM/Arrow/numpy cold start — the hardware-scaling lesson)
    warm = train_ivf_centroids(emb.where(F.col("vec_id") < 5000),
                               num_centroids=8, max_iter=1, dim=dim,
                               sample_fraction=0.2, assign_impl="arrow")
    assign_clusters_arrow(emb.where(F.col("vec_id") < 5000), warm,
                          "embedding", "c").agg(F.count("c")).collect()
    t0 = time.monotonic()
    cents = train_ivf_centroids(emb, num_centroids=C, max_iter=3, dim=dim,
                                sample_fraction=0.1, assign_impl="arrow")
    t_train = time.monotonic() - t0
    t0 = time.monotonic()
    idx = assign_clusters_arrow(emb, cents, "embedding",
                                "cluster").persist()
    idx.count()
    t_assign = time.monotonic() - t0
    truth = (brute_force_topk_arrow(emb, queries, k=k)
             .select("query_id", "neighbor_id").persist())
    res = _ivf_sweep(emb, queries, cents, idx, truth, (1, 8, 32),
                     C=C, dim=dim, k=k)
    truth.unpersist()
    idx.unpersist()
    queries.unpersist()
    section = f"""## Clustered-corpus recall (r7)

Same operator and production shape (one trained index via ``centroids=``
+ ``assigned=``; train {t_train:.0f} s, assign {t_assign:.0f} s paid
once) on a corpus WITH cluster structure:
{n_vecs:,} vectors, dim={dim}, {n_true} planted clusters
(synthdata.clustered_embeddings — hash-derived centers + 0.15 jitter,
within-cluster cosine ~0.98, cross ~0), C={C}, Q={n_queries} HELD-OUT
queries from the same mixture, recall@{k} vs the exact brute-force twin.

| nprobe | query wall (s), Q={n_queries} | recall@{k} | result rows |
|---|---|---|---|
| 1 | {res[1]['t']:.2f} | {res[1]['recall']:.3f} | {res[1]['rows']} |
| 8 | {res[8]['t']:.2f} | {res[8]['recall']:.3f} | {res[8]['rows']} |
| 32 | {res[32]['t']:.2f} | {res[32]['recall']:.3f} | {res[32]['rows']} |

Contrast with the uniform table above (0.003 -> 0.091 over the same
nprobe sweep): on clustered data the quantizer recovers the planted
structure and nprobe buys real recall — the uniform corpus's flat
near-zero recall is a property of structureless data, not of the index.
A recall floor on a small clustered fixture is pinned in
tests/test_round7_hardening.py so index-quality regressions fail fast.
"""
    _replace_section(os.path.join("BENCH", "ANN_CAPACITY.md"),
                     "\n## Clustered-corpus recall", section)
    print(json.dumps({
        "t_train_s": round(t_train, 1), "t_assign_s": round(t_assign, 1),
        "recall": {str(np): round(v["recall"], 3)
                   for np, v in res.items()},
        "query_wall_s": {str(np): round(v["t"], 2)
                         for np, v in res.items()}}))
    spark.stop()


def domain_capacity_mode() -> None:
    """Registrable-domain at host scale (VERDICT r5 ask #5):
    with_registrable_domain is semantics-tested on fixture suffixes;
    probe ~10^6 distinct hosts against a ~10k-row synthetic suffix table
    (the real PSL's shape) and confirm the plan holds: suffix side
    broadcast, the host->domain mapping join-back the only wide
    shuffle."""
    import tempfile

    from pyspark.sql import functions as F

    from paper_layout_parser_spark.operators.curation import (
        with_registrable_domain,
    )

    n_hosts = int(os.environ.get("SPARK_GRAFT_DOMAIN_HOSTS", "1000000"))
    spark = _fresh_spark(CPUS)
    # ~10k literal suffixes: 500 TLDs x 20 second-level registries
    sx = (spark.range(500).toDF("t")
          .crossJoin(spark.range(20).toDF("r"))
          .select(F.when(F.col("r") == 0, F.concat(F.lit("tld"), "t"))
                  .otherwise(F.concat(F.lit("reg"), "r", F.lit(".tld"), "t"))
                  .alias("suffix")))
    n_suffixes = sx.count()
    # 10^6 distinct hosts, half under a plain TLD, half under a
    # two-label registry suffix, with 1-2 extra labels; materialize the
    # docs table to parquet before timing (generation is scaffolding)
    path = os.path.join(tempfile.mkdtemp(prefix="plp_dom_"), "docs.parquet")
    (spark.range(n_hosts).toDF("doc_id")
     .repartition(2 * CPUS)
     .withColumn("host", F.concat(
         F.when(F.col("doc_id") % 3 == 0,
                F.concat(F.lit("www.site"), F.col("doc_id"), F.lit(".")))
         .otherwise(F.concat(F.lit("site"), F.col("doc_id"), F.lit("."))),
         F.when(F.col("doc_id") % 2 == 0,
                F.concat(F.lit("reg"), F.col("doc_id") % 19 + 1,
                         F.lit(".tld"), F.col("doc_id") % 500))
         .otherwise(F.concat(F.lit("tld"), F.col("doc_id") % 500))))
     .write.mode("overwrite").parquet(path))
    docs = spark.read.parquet(path)
    out = with_registrable_domain(docs, sx, host_col="host")
    plan = out._jdf.queryExecution().executedPlan().toString()
    n_broadcast_joins = plan.count("BroadcastHashJoin")
    n_exchanges = plan.count("Exchange hashpartitioning")
    t0 = time.monotonic()
    row = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("domain").alias("n_domain"),
        F.countDistinct("domain").alias("n_distinct"),
    ).collect()[0]
    wall = time.monotonic() - t0
    os.makedirs(_anchor("BENCH"), exist_ok=True)
    with open(_anchor("BENCH/DOMAIN_CAPACITY.md"), "w") as f:
        f.write(f"""# BENCH — registrable domain at host scale (local[{CPUS}])

{n_hosts:,} DISTINCT hosts x {n_suffixes:,} literal suffixes (the real
Public Suffix List is ~10k rows — same shape). Every host is unique, so
the DISTINCT-hosts reduction does not flatter this probe: the explode
(one candidate per trailing label) runs over the full host set.

| hosts | suffixes | wall (s) | hosts/sec | domains derived |
|---|---|---|---|---|
| {row['n']:,} | {n_suffixes:,} | {wall:.1f} | {row['n'] / wall:,.0f} | {row['n_domain']:,} ({row['n_distinct']:,} distinct) |

Plan audit (executed plan of the annotated output):
- BroadcastHashJoin nodes: {n_broadcast_joins} — the suffix table ships
  broadcast to the candidate explode; 'tld0' (the hottest suffix,
  ~{n_hosts // 500:,} hosts) is never a shuffle key.
- `Exchange hashpartitioning` nodes: {n_exchanges} — the DISTINCT-hosts
  aggregation and the host->domain mapping join-back; host is the only
  wide key and hosts are near-unique by construction, so no skew.
""")
    print(json.dumps({"wall": round(wall, 1),
                      "hosts_per_sec": round(row["n"] / wall),
                      "broadcast_joins": n_broadcast_joins,
                      "hash_exchanges": n_exchanges,
                      "n_domains": row["n_domain"]}))
    spark.stop()


def corpus_build_mode() -> None:
    """Bench the COMPOSED corpus build end-to-end as ONE job (VERDICT r5
    ask #3): extraction phase committed through the catalog checkpoint,
    curation phase (funnel -> host cap -> line dedup -> split ->
    deterministic shuffle) written to the corpus sink. Per-op numbers
    cannot see a composition-level re-scan; this measures the
    composition and asserts, from the executed plan, that the curation
    phase runs zero Python-UDF stages and never touches the pages
    source."""
    import re
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from paper_layout_parser_spark.plans.corpus_build import (
        build_training_corpus,
    )
    from paper_layout_parser_spark.sources.catalog import Catalog

    spark = _fresh_spark(CPUS)
    pages_path = materialize_pages(spark, SF_DIR)
    # the synthetic corpus keys every url to ONE host (example.org) —
    # spread docs across 97 synthetic sites so host_cap binds per-host
    # the way it would on a crawl, not as a corpus-wide truncation
    doc_no = F.regexp_extract("url", r"([0-9]+)$", 1)
    pages = spark.read.parquet(pages_path).withColumn(
        "url",
        F.concat(F.lit("https://site-"),
                 F.pmod(F.xxhash64("url"), F.lit(97)).cast("string"),
                 F.lit(".example.org/doc/"), doc_no),
    )
    wh = tempfile.mkdtemp(prefix="plp_corpus_wh_")
    sink = os.path.join(wh, "corpus_out")
    host_cap = int(os.environ.get("SPARK_GRAFT_HOST_CAP", "30"))
    try:
        t0 = time.monotonic()
        # checkpoint_stage is eager: this wall is extraction + commit
        out = build_training_corpus(
            pages, lang="und", min_quality=0.0, host_cap=host_cap,
            shuffle_salt="epoch-0", catalog=Catalog(spark, wh),
        )
        t_extract = time.monotonic() - t0
        plan = out.curated._jdf.queryExecution().executedPlan().toString()
        udf_nodes = [n for n in ("ArrowEvalPython", "MapInPandas",
                                 "BatchEvalPython", "FlatMapGroupsInPandas")
                     if n in plan]
        ckpt_scans = len(re.findall(r"corpus_extracted(?!__)", plan))
        pages_scans = len(re.findall(re.escape(pages_path), plan))
        t1 = time.monotonic()
        # write to the sink (the real job's terminal op) — a bare agg
        # would let Catalyst eliminate the deterministic-shuffle sort
        out.curated.write.mode("overwrite").parquet(sink)
        t_curate = time.monotonic() - t1
        written = spark.read.parquet(sink)
        n_out = written.count()
        n_in = out.extracted.count()
        total = t_extract + t_curate
        os.makedirs(_anchor("BENCH"), exist_ok=True)
        # --corpus-scaling and --curate-scaling append their own sections
        # to this file — a full rewrite must re-splice them (ADVICE r7)
        _rewrite_preserving("BENCH/CORPUS_BUILD.md", f"""# BENCH — composed corpus build (local[{CPUS}], {SF_DIR})

`build_training_corpus` end-to-end as one job: pages -> extraction
pipeline -> catalog checkpoint (per-partition lineage) -> curation
funnel -> per-host cap (cap={host_cap}, 97 synthetic hosts) -> line
dedup -> split assignment -> deterministic shuffle -> parquet sink.

| phase | wall (s) | notes |
|---|---|---|
| extract + checkpoint | {t_extract:.2f} | rasterize -> detect+enrich -> assemble -> commit {n_in} docs |
| curate + sink | {t_curate:.2f} | funnel -> cap -> line dedup -> split -> shuffle -> write {n_out} docs |
| **total** | **{total:.2f}** | **{n_in / total:.1f} docs/sec end-to-end** |

Composition audit (from the executed curation plan):
- Python-UDF stages in the curation phase: **{udf_nodes or 'none'}**
  (extraction runs exactly once, inside the checkpointed phase)
- scans of the committed `corpus_extracted` table: {ckpt_scans}
  (one per curation consumer: audit join, kept join, line-dedup pass)
- scans of the raw pages source in the curation plan: **{pages_scans}**
  (must be 0 — the checkpoint is the phase boundary)
""", preserve_markers=["## N -> 4N scaling of the composed build",
                       "## Curate phase, work-dominated"])
        if udf_nodes or pages_scans:
            print(f"COMPOSITION VIOLATION: udf={udf_nodes} "
                  f"pages_scans={pages_scans}", file=sys.stderr)
        print(json.dumps({
            "t_extract": round(t_extract, 2), "t_curate": round(t_curate, 2),
            "docs_per_sec": round(n_in / total, 1), "n_in": n_in,
            "n_out": n_out, "ckpt_scans": ckpt_scans,
            "pages_scans_in_curation": pages_scans,
        }))
    finally:
        spark.stop()
        shutil.rmtree(wh, ignore_errors=True)


def corpus_scaling_mode() -> None:
    """N -> 4N scaling of the COMPOSED corpus build as ONE job (VERDICT
    r6 ask #3): BENCH/CORPUS_BUILD.md's wall numbers are local[32]-only,
    so the curation phase's shuffles (funnel joins, host-cap window,
    line-dedup groupBys, span dedup, split, range shuffle) had never
    been scaling-measured composed. Each parallelism level gets a FRESH
    warehouse — run_resumable's pending gate would otherwise skip
    extraction on the second run and 'measure' an empty job — and a
    warm-up build on sf0.001 precedes each timed run (JVM/JIT + Arrow
    workers). span_ngrams=8 is ON so the span-dedup legs are in the
    measured plan."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from paper_layout_parser_spark.plans.corpus_build import (
        build_training_corpus,
    )
    from paper_layout_parser_spark.sources.catalog import Catalog

    lo = int(os.environ.get("SPARK_GRAFT_SCALE_N", "4"))
    hi = 4 * lo
    host_cap = int(os.environ.get("SPARK_GRAFT_HOST_CAP", "30"))
    # replicated corpus: a first run at sf0.1 x1 measured extract
    # efficiency 0.646 with ~16 s of parallelism-independent wall
    # (checkpoint commit + pending-gate jobs + probe) — the work term
    # must dominate that fixed cost or the ratio measures overhead
    replicate = int(os.environ.get("SPARK_GRAFT_CBSCALE_REPLICATE", "3"))
    results = {}
    pages_path = warm_path = None

    def synth_hosts(df):
        # one host per url in the synthetic corpus -> spread over 97
        # sites so the cap binds per-host (same fixture as corpus_build)
        doc_no = F.regexp_extract("url", r"([0-9]+)$", 1)
        return df.withColumn(
            "url",
            F.concat(F.lit("https://site-"),
                     F.pmod(F.xxhash64("url"), F.lit(97)).cast("string"),
                     F.lit(".example.org/doc/"), doc_no),
        )

    def build(spark, path, wh, sink):
        pages = synth_hosts(spark.read.parquet(path))
        t0 = time.monotonic()
        out = build_training_corpus(
            pages, lang="und", min_quality=0.0, host_cap=host_cap,
            span_ngrams=8, shuffle_salt="epoch-0",
            catalog=Catalog(spark, wh),
        )
        t_extract = time.monotonic() - t0
        t1 = time.monotonic()
        out.curated.write.mode("overwrite").parquet(sink)
        t_curate = time.monotonic() - t1
        return out, t_extract, t_curate

    for cores in (lo, hi):
        spark = _fresh_spark(cores)
        if pages_path is None:
            warm_path = materialize_pages(spark, "/root/testdata/sf0.001")
            pages_path = materialize_pages(spark, SF_DIR,
                                           replicate=replicate)
        tmp = tempfile.mkdtemp(prefix=f"plp_cbscale_{cores}_")
        try:
            build(spark, warm_path, os.path.join(tmp, "warm_wh"),
                  os.path.join(tmp, "warm_sink"))
            out, t_extract, t_curate = build(
                spark, pages_path, os.path.join(tmp, "wh"),
                os.path.join(tmp, "sink"))
            n_in = out.extracted.count()
            n_out = spark.read.parquet(os.path.join(tmp, "sink")).count()
        finally:
            spark.stop()
            shutil.rmtree(tmp, ignore_errors=True)
        results[cores] = {"t_extract": t_extract, "t_curate": t_curate,
                          "total": t_extract + t_curate,
                          "n_in": n_in, "n_out": n_out}
        print(f"local[{cores}]: extract {t_extract:.1f}s + curate "
              f"{t_curate:.1f}s = {t_extract + t_curate:.1f}s",
              file=sys.stderr)

    rlo, rhi = results[lo], results[hi]
    eff = (rlo["total"] / rhi["total"]) / 4
    eff_ex = (rlo["t_extract"] / rhi["t_extract"]) / 4
    eff_cu = (rlo["t_curate"] / rhi["t_curate"]) / 4
    section = f"""
## N -> 4N scaling of the composed build (r7, local[{lo}] vs local[{hi}])

Same composed job (extract + checkpoint -> funnel -> host cap -> line
dedup -> span dedup n=8 -> split -> deterministic shuffle -> parquet
sink) on the same input ({SF_DIR} x{replicate}, {rlo['n_in']:,} docs ->
{rlo['n_out']:,} curated), fresh warehouse per run so the resume gate
cannot skip extraction; warm-up build precedes each timed run. (An
un-replicated sf0.1 pass measured 0.587 composed — the arithmetic put
~16 s of parallelism-independent checkpoint/pending-gate/probe wall in
each phase, so the corpus is replicated until work dominates it.)

| parallelism | extract+ckpt (s) | curate+sink (s) | total (s) | docs/sec |
|---|---|---|---|---|
| local[{lo}] | {rlo['t_extract']:.2f} | {rlo['t_curate']:.2f} | {rlo['total']:.2f} | {rlo['n_in'] / rlo['total']:.1f} |
| local[{hi}] | {rhi['t_extract']:.2f} | {rhi['t_curate']:.2f} | {rhi['total']:.2f} | {rhi['n_in'] / rhi['total']:.1f} |

**Composed efficiency (total@{lo} / total@{hi}) / 4 = {eff:.3f}**;
per phase: extract {eff_ex:.3f}, curate {eff_cu:.3f}. The extract
phase carries the corpus-build's real work (rasterize + detect, the
same stages BASELINE.md attributes); the curation phase's wall is
seconds of shuffle-bound joins/windows whose fixed job-submission and
exchange setup costs do not shrink with cores at this corpus size —
at 100 TB the curation phase is shuffle-bandwidth-bound, and each of
its shuffles is keyed (line hash, host, covered id, split hash) with
no per-row Python, so added executors widen every exchange.
"""
    _replace_section(os.path.join("BENCH", "CORPUS_BUILD.md"),
                     "\n## N -> 4N scaling of the composed build", section)
    print(json.dumps({
        "eff_total": round(eff, 3), "eff_extract": round(eff_ex, 3),
        "eff_curate": round(eff_cu, 3),
        "total_lo_s": round(rlo["total"], 2),
        "total_hi_s": round(rhi["total"], 2),
    }))


def _synth_curation_corpus(spark, n_docs: int, n_hosts: int,
                           lines_per_doc: int = 40) -> str:
    """A (url, doc_text) table sized for CURATION work, generated
    JVM-side (no UDFs) and written to parquet: the composed-build
    scaling probe can't grow the curate leg past ~3 s because the
    extraction phase in front of it costs ~70x more wall per doc — so
    this generator feeds curate_documents directly at whatever size
    makes the curation shuffles dominate their fixed setup costs.

    Work profile per doc (all deterministic in the doc id):
    - ``lines_per_doc`` unique 8-word lines (id*7919 + line*131 + word
      is injective over the index ranges, so no accidental cross-doc
      line dups) — these survive line dedup and carry the corpus-wide
      span window count;
    - 3 boilerplate lines shared by EVERY doc — real line-dedup drops;
    - every 10th doc embeds a shared 12-word phrase inside an
      otherwise-unique line: the line survives line dedup but its
      8-gram spans repeat corpus-wide, so span dedup's touched set is
      ~10% of docs (the gated-reassembly operating point
      BENCH/DEDUP_CAPACITY.md measures) — WITHIN the curate graph,
      where line dedup runs first; running span dedup alone on this
      corpus touches every doc (the boilerplate lines also repeat);
    - hosts spread so host_cap=30 binds on roughly a quarter of docs
      (n_hosts defaults to n_docs/40 upstream)."""
    import tempfile

    from pyspark.sql import functions as F

    d = F.col("id")
    word = lambda i, k: F.concat(  # noqa: E731
        F.lit("w"), (d * 7919 + i * 131 + k).cast("string"))
    uniq_line = lambda i: F.concat_ws(  # noqa: E731
        " ", *[word(i, k) for k in range(1, 9)])
    # shared lines are STOPWORD-FREE (Greek-letter tokens): English
    # boilerplate flips the funnel's stopword-ratio language gate to
    # 'en' and the lang='und' funnel drops the whole corpus (the same
    # trap the r6 funnel tests hit)
    shared_phrase = F.lit(
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu")
    lines = [uniq_line(F.lit(i)) for i in range(1, lines_per_doc + 1)]
    lines += [
        F.lit("omicron pi rho sigma tau upsilon"),
        F.lit("phi chi psi omega digamma stigma"),
        F.lit("koppa sampi heta sho san qoppa"),
        F.when(d % 10 == 0,
               F.concat_ws(" ", word(F.lit(0), 1), shared_phrase,
                           word(F.lit(0), 2))),
    ]
    docs = spark.range(n_docs).select(
        F.concat(F.lit("https://site-"),
                 F.pmod(d, F.lit(n_hosts)).cast("string"),
                 F.lit(".example.org/doc/"), d.cast("string"),
                 ).alias("url"),
        F.concat_ws("\n", *lines).alias("doc_text"),
    )
    path = os.path.join(tempfile.mkdtemp(prefix="plp_curate_"),
                        "extracted.parquet")
    docs.repartition(64).write.mode("overwrite").parquet(path)
    return path


def curate_scaling_mode() -> None:
    """Work-dominated N -> 4N scaling of the CURATE phase alone (VERDICT
    r7 ask #2): the composed-build probe's curate leg is ~3 s of wall —
    fixed job-submission + exchange setup, not work — because the
    extraction phase caps how much corpus any timed build can feed it.
    Here curate_documents runs directly over a synthesized extracted
    table sized until the curation shuffles dominate (n_docs=48k ->
    curate well past 30 s at local[4]; an 8k probe measured ~14 s of
    work on ~4.5 s of setup), with:
    - a ONE-row run of the SAME stage graph after each timed pass
      (warmed JVM) measuring pure submission/exchange-setup overhead —
      subtracted, like BASELINE.md's per-stage treatment (one row, not
      zero, because curate_documents' host probe correctly refuses an
      input with no parseable host);
    - a leg-attribution sweep at local[lo]: the graph rebuilt
      incrementally (funnel -> +host cap -> +line dedup -> +span dedup
      -> +split+shuffle), each timed to its own sink, naming which
      stage binds."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from paper_layout_parser_spark.operators.curation import (
        DEFAULT_SPLIT_WEIGHTS,
        assign_split,
        cap_per_host,
        clean_corpus,
        deterministic_shuffle,
    )
    from paper_layout_parser_spark.operators.dedup import (
        dedup_lines,
        remove_duplicate_spans,
    )
    from paper_layout_parser_spark.plans.corpus_build import (
        curate_documents,
    )

    lo = int(os.environ.get("SPARK_GRAFT_SCALE_N", "4"))
    hi = 4 * lo
    n_docs = int(os.environ.get("SPARK_GRAFT_CURATE_DOCS", "48000"))
    host_cap = int(os.environ.get("SPARK_GRAFT_HOST_CAP", "30"))
    n_hosts = max(97, n_docs // 40)

    legs = ["funnel", "host_cap", "line_dedup", "span_dedup",
            "split_shuffle"]

    def leg_graph(docs, upto: str):
        """The curate_documents graph rebuilt incrementally from its own
        operators (same calls, same order, same knobs) so a stage
        boundary can fall ANYWHERE — curate_documents always runs line
        dedup and split, so partial graphs can't be expressed through
        its kwargs."""
        k = legs.index(upto)
        audit = clean_corpus(docs, lang="und", min_quality=0.0,
                             id_col="url", text_col="doc_text")
        kept = docs.join(audit.where(F.col("keep")), "url", "left_semi")
        if k < 1:
            return kept
        kept = cap_per_host(kept, host_cap, url_col="url", id_col="url")
        if k < 2:
            return kept
        deduped = dedup_lines(kept, max_occurrences=1, id_col="url",
                              text_col="doc_text")
        if k < 3:
            return deduped
        deduped = (
            remove_duplicate_spans(deduped, n=8, id_col="url",
                                   text_col="clean_text",
                                   out_col="__span_clean")
            .withColumn("clean_text", F.col("__span_clean"))
            .drop("__span_clean")
        )
        if k < 4:
            return deduped
        return deterministic_shuffle(
            assign_split(deduped, weights=DEFAULT_SPLIT_WEIGHTS,
                         id_col="url"),
            salt="epoch-0", id_col="url")

    def run_curate(spark, path, sink, upto: str | None = None,
                   limit: int | None = None):
        """upto=None times the PRODUCTION wiring (curate_documents, all
        knobs on — what build_training_corpus calls); upto=<leg> times
        the incremental graph for attribution."""
        docs = spark.read.parquet(path)
        if limit is not None:
            docs = docs.limit(limit)
        t0 = time.monotonic()
        if upto is None:
            _audit, curated, _funnel = curate_documents(
                docs, lang="und", min_quality=0.0, host_cap=host_cap,
                max_line_occurrences=1, span_ngrams=8,
                shuffle_salt="epoch-0",
            )
        else:
            curated = leg_graph(docs, upto)
        curated.write.mode("overwrite").parquet(sink)
        wall = time.monotonic() - t0
        return wall, spark.read.parquet(sink).count()

    results: dict[int, dict] = {}
    path = None
    for cores in (lo, hi):
        spark = _fresh_spark(cores)
        tmp = tempfile.mkdtemp(prefix=f"plp_cuscale_{cores}_")
        try:
            if path is None:
                path = _synth_curation_corpus(spark, n_docs, n_hosts)
            # warm-up on a slice (JVM/JIT, Arrow, codegen caches)
            run_curate(spark, path, os.path.join(tmp, "warm"),
                       limit=2000)
            wall, n_out = run_curate(spark, path,
                                     os.path.join(tmp, "out"))
            # one-row overhead pass AFTER the real one: warmed JVM, so
            # this is steady-state submission + exchange-setup cost
            ovh, _ = run_curate(spark, path, os.path.join(tmp, "ovh"),
                                limit=1)
            results[cores] = {"wall": wall, "overhead": ovh,
                              "n_out": n_out}
            print(f"local[{cores}]: curate {wall:.1f}s "
                  f"(one-row overhead {ovh:.1f}s), {n_out:,} docs out",
                  file=sys.stderr)
            if cores == lo:
                # leg attribution at the SMALL level (where the walls
                # are largest relative to noise): incremental graphs
                cum = {}
                for leg in legs:
                    w, _n = run_curate(
                        spark, path, os.path.join(tmp, f"leg_{leg}"),
                        upto=leg)
                    cum[leg] = w
                    print(f"  upto {leg}: {w:.1f}s", file=sys.stderr)
                results["legs"] = cum
        finally:
            spark.stop()
            shutil.rmtree(tmp, ignore_errors=True)

    rlo, rhi = results[lo], results[hi]
    eff_raw = (rlo["wall"] / rhi["wall"]) / 4
    # clamp like --scaling's stage table: a GC pause during the one-row
    # overhead pass must not produce a negative work wall / efficiency
    work_lo = max(rlo["wall"] - rlo["overhead"], 0.0)
    work_hi = max(rhi["wall"] - rhi["overhead"], 0.0)
    # None (JSON null), not NaN: the ledger dump must stay RFC JSON and
    # the renderer's min/max spread must not see a NaN (order-dependent)
    eff_work = (work_lo / work_hi) / 4 if work_hi > 0 else None
    eff_work_r = round(eff_work, 3) if eff_work is not None else None
    eff_work_txt = (f"{eff_work:.3f}" if eff_work is not None
                    else "n/a (work wall clamped to 0)")
    cum = results["legs"]
    deltas = {}
    prev = 0.0
    for leg in legs:
        deltas[leg] = max(cum[leg] - prev, 0.0)
        prev = cum[leg]
    binding = max(deltas, key=deltas.get)
    leg_rows = "\n".join(
        f"| + {leg.replace('_', ' ')} | {cum[leg]:.2f} | "
        f"{deltas[leg]:.2f} | {100 * deltas[leg] / cum[legs[-1]]:.0f}% |"
        for leg in legs)
    section = f"""
## Curate phase, work-dominated (r8, local[{lo}] vs local[{hi}])

The composed-build probe above cannot grow the curate leg past ~3 s
(extraction costs ~70x more wall per doc), so its curate "efficiency"
measured fixed setup, not scaling. This probe runs curate_documents
(funnel -> host cap {host_cap} -> line dedup -> span dedup n=8 ->
split -> deterministic shuffle -> parquet sink) directly over a
synthesized extracted table ({n_docs:,} docs, {n_hosts:,} hosts, ~43
lines/doc, 10% of docs carrying a corpus-wide duplicated span) —
sized so the curation shuffles dominate their setup costs. The
one-row column runs the SAME graph over one row after the timed pass
(warmed JVM): pure job-submission + exchange-setup wall, subtracted
for the work-only efficiency.

| parallelism | curate+sink (s) | one-row overhead (s) | work-only (s) | docs/sec |
|---|---|---|---|---|
| local[{lo}] | {rlo['wall']:.2f} | {rlo['overhead']:.2f} | {work_lo:.2f} | {n_docs / rlo['wall']:,.0f} |
| local[{hi}] | {rhi['wall']:.2f} | {rhi['overhead']:.2f} | {work_hi:.2f} | {n_docs / rhi['wall']:,.0f} |

**Raw efficiency {eff_raw:.3f}; overhead-subtracted {eff_work_txt}**
({rlo['n_out']:,} docs out at both levels).

Leg attribution at local[{lo}] (incremental graphs, each timed to its
own sink — the delta between consecutive rows is that leg's share):

| graph | wall (s) | leg delta (s) | share |
|---|---|---|---|
{leg_rows}

**Binding stage: {binding.replace('_', ' ')}** at
{100 * deltas[binding] / cum[legs[-1]]:.0f}% of the full-graph wall.

What limits the measured efficiency is the SINGLE-JVM harness, not
the plan: profiling the binding stage's tasks shows total executor
CPU INFLATING ~1.6x when the same rows run on 16 threads instead of
4 (shuffle serialization + sort/aggregate allocation churn contending
on one heap's allocator/GC), while a pure-CPU cross-check on the same
box (the calibration kernel in 4 vs 16 separate PROCESSES) scales at
~0.99. On a real cluster the 4N executors are separate JVMs with
separate heaps — the contention term measured here does not ride
along. The plan itself is scale-clean: every leg shuffles on a
narrow key (line hash+length, host, span (id,pos), split hash, range
key) with no per-row Python, map-side partial aggregation on the
span window count, and the one-row overhead term is per-JOB, so it
amortizes to nothing at real corpus sizes.
"""
    _replace_section(os.path.join("BENCH", "CORPUS_BUILD.md"),
                     "## Curate phase, work-dominated", section)
    _replace_section(
        os.path.join("BENCH", "CORPUS_BUILD.md"),
        "## Curate samples (multi-run ledger)",
        _curate_samples_section({
            "lo": lo, "hi": hi,
            "work_lo": round(work_lo, 2), "work_hi": round(work_hi, 2),
            "eff_work": eff_work_r, "binding": binding,
            "binding_leg_s": round(deltas[binding], 2),
        }))
    print(json.dumps({
        "eff_curate_raw": round(eff_raw, 3),
        "eff_curate_work": eff_work_r,
        "wall_lo_s": round(rlo["wall"], 2),
        "wall_hi_s": round(rhi["wall"], 2),
        "overhead_lo_s": round(rlo["overhead"], 2),
        "overhead_hi_s": round(rhi["overhead"], 2),
        "binding_stage": binding,
        "leg_shares": {k: round(v, 2) for k, v in deltas.items()},
        "n_docs": n_docs,
        "n_out": rlo["n_out"],
    }))


def _giant_html(doc_id: int, n_pages: int) -> bytes:
    """A deterministic n_pages-page PLP1 payload (the spec generator caps at
    64 pages; the skew bench needs ~100x-median monsters)."""
    import json as _json
    import struct

    from paper_layout_parser_spark import synthdata as sd

    pages = []
    for p in range(1, n_pages + 1):
        blocks = sd.page_blocks(doc_id, ((p - 1) % 8) + 1)
        pages.append({
            "page_no": p, "width": sd.PAGE_W, "height": sd.PAGE_H,
            "blocks": [
                {"b": b["b"], "class_id": b["class_id"], "name": b["raw_name"],
                 "conf": b["confidence"],
                 "bbox": [b["x1"], b["y1"], b["x2"], b["y2"]], "text": b["text"]}
                for b in blocks
            ],
        })
    body = _json.dumps({"v": 1, "pages": pages}, separators=(",", ":")).encode()
    return sd.HTML_MAGIC + struct.pack(">I", n_pages) + body


def materialize_skewed_pages(spark, n_even_docs: int, giant_pages: int,
                             n_giants: int, even_pages: int = 5) -> tuple[str, str]:
    """Two pages tables with the SAME total page count: one even
    (n_even_docs x even_pages) and one where n_giants docs carry
    giant_pages each (the rest even)."""
    import tempfile

    from paper_layout_parser_spark import synthdata as sd

    def write(rows, name):
        df = spark.createDataFrame(
            rows, "url string, warc_ts timestamp, html binary, text string, lang string"
        ).repartition(CPUS * 2)
        path = os.path.join(tempfile.mkdtemp(prefix="plp_skew_"), name)
        df.write.mode("overwrite").parquet(path)
        return path

    def row(doc_id, npages):
        return (f"https://example.org/skew/{doc_id:08d}", None,
                _giant_html(doc_id, npages), "", "en")

    total = n_even_docs * even_pages
    even_rows = [row(i, even_pages) for i in range(n_even_docs)]
    giant_total = n_giants * giant_pages
    rest = (total - giant_total) // even_pages
    skew_rows = [row(1_000_000 + i, giant_pages) for i in range(n_giants)]
    skew_rows += [row(i, even_pages) for i in range(rest)]
    return write(even_rows, "even.parquet"), write(skew_rows, "skewed.parquet")


def asof_skew_probe(spark, n_events: int = 8_000_000,
                    n_users: int = 2000) -> dict:
    """Hot-key envelope for asof_join: the window serializes each key's
    merged timeline into ONE partition (inherent to any as-of ordering), so
    a single user holding ~50% of the events bounds parallelism. Measures
    BOTH mitigations on both corpora:

      * raw right side (every right event through the window) — the shape
        where r4 measured the 1.52x hot-key envelope; ``hot_key_ranges``
        range-splitting is measured HERE, its target shape;
      * pre-aggregated right side (timestamps coarsened to 300 s buckets
        BEFORE the aggregation so it genuinely shrinks the window input —
        the reduction is reported, not assumed) — the first-choice
        mitigation when the consumer tolerates bucketed right rows.

    Data is generated natively (spark.range), identical totals in both
    corpora."""
    from pyspark.sql import functions as F

    from paper_layout_parser_spark.operators.temporal import asof_join

    def events(skewed: bool):
        base = spark.range(n_events)
        if skewed:
            # user 0 holds half the corpus, the rest spread uniformly
            uid = F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(
                F.col("id") % n_users
            )
        else:
            uid = F.col("id") % n_users
        return base.select(
            F.col("id").alias("event_id"),
            uid.cast("long").alias("user_id"),
            F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 3).alias("ts"),
            (F.col("id") % 1000).cast("double").alias("value"),
        ).persist()

    def sides(ev, preagg: bool):
        left = ev.where("event_id % 4 != 0")
        right = ev.where("event_id % 4 = 0")
        if preagg:
            right = (
                right.withColumn("ts", F.timestamp_seconds(
                    F.floor(F.col("ts").cast("long") / 300) * 300))
                .groupBy("user_id", "ts")
                .agg(F.max("value").alias("r_value"))
            )
        else:
            right = right.select("user_id", "ts",
                                 F.col("value").alias("r_value"))
        return left, right

    def run(ev, preagg: bool, hot_key_ranges=None, bounds=None) -> float:
        left, right = sides(ev, preagg)
        best = float("inf")
        for _ in range(2):
            t = time.monotonic()
            # aggregate the MATCHED payload — a bare count() lets Catalyst
            # prune the window (the as-of work) right out of the plan
            (asof_join(left, right, on=["user_id"], ts_col="ts",
                       hot_key_ranges=hot_key_ranges, hot_key_bounds=bounds)
             .agg(F.count("r_value_r"), F.sum("r_value_r")).collect())
            best = min(best, time.monotonic() - t)
        return best

    ev_even, ev_skew = events(False), events(True)
    ev_even.count(), ev_skew.count()   # materialize outside the timer
    # substantiate the pre-aggregation claim with real row counts
    right_raw = ev_skew.where("event_id % 4 = 0").count()
    right_agg = sides(ev_skew, True)[1].count()
    n_ranges = int(os.environ.get("SPARK_GRAFT_ASOF_RANGES", str(CPUS)))
    t_even = run(ev_even, preagg=False)
    t_skew = run(ev_skew, preagg=False)
    t_skew_split = run(ev_skew, preagg=False, hot_key_ranges=n_ranges)
    t_even_pre = run(ev_even, preagg=True)
    t_skew_pre = run(ev_skew, preagg=True)

    # --- residual attribution (VERDICT r5 ask #6): with the knob on, the
    # hot key still ran ~1.5x its even baseline; name the components.
    # Candidates: (a) the call-time min/max bounds probe (a full scan of
    # both sides), (b) the seeds side job (finals groupBy + spine distinct
    # + carry window), (c) hash-collision lumpiness — N hot (key, range)
    # pairs hashed into ~2N shuffle partitions leave some buckets with 2-3
    # hot ranges, a 2-3x straggler on the window stage itself.
    from pyspark.sql import Window

    left_s, right_s = sides(ev_skew, False)
    t = time.monotonic()
    b = (left_s.select("ts").unionByName(right_s.select("ts"))
         .agg(F.min(F.col("ts").cast("long")).alias("lo"),
              F.max(F.col("ts").cast("long")).alias("hi")).collect()[0])
    t_bounds = time.monotonic() - t
    bounds = (int(b["lo"]), int(b["hi"]))
    # (a) same N, bounds passed -> removes the probe scan
    t_split_b = run(ev_skew, preagg=False, hot_key_ranges=n_ranges,
                    bounds=bounds)
    # (c) 4x finer ranges, bounds passed -> each shuffle bucket averages
    # several hot ranges instead of winning 0 or 2-3 by hash luck
    t_split_4x = run(ev_skew, preagg=False, hot_key_ranges=4 * n_ranges,
                     bounds=bounds)
    # (b) the seeds side job alone — a faithful replica of the internal
    # finals/spine/carry computation (temporal.py keeps it fused into the
    # join plan; replicating ~10 lines here keeps the probe read-only)
    def seeds_wall(n_rng: int) -> float:
        lo = bounds[0]
        width = max(1, -(-(bounds[1] - lo + 1) // n_rng))
        rng = F.floor((F.col("ts").cast("long") - lo) / width).cast("long")
        finals = (right_s.withColumn("__rng", rng)
                  .groupBy("user_id", "__rng")
                  .agg(F.max_by(F.struct("r_value"), "ts").alias("__fin")))
        spine = (left_s.withColumn("__rng", rng)
                 .select("user_id", "__rng").distinct()
                 .unionByName(finals.select("user_id", "__rng")).distinct()
                 .join(finals, ["user_id", "__rng"], "left"))
        w = (Window.partitionBy("user_id").orderBy(F.col("__rng").asc())
             .rowsBetween(Window.unboundedPreceding, -1))
        t = time.monotonic()
        (spine.withColumn("__seed", F.last("__fin", ignorenulls=True).over(w))
         .where(F.col("__seed").isNotNull())
         .agg(F.count(F.lit(1))).collect())
        return time.monotonic() - t

    t_seeds = seeds_wall(n_ranges)
    ev_even.unpersist(), ev_skew.unpersist()
    return {
        "asof_even_s": round(t_even, 2),
        "asof_skew_s": round(t_skew, 2),
        "asof_skew_ratio": round(t_skew / t_even, 3),
        "asof_skew_split_s": round(t_skew_split, 2),
        "asof_skew_split_ratio": round(t_skew_split / t_even, 3),
        "asof_hot_key_ranges": n_ranges,
        "asof_even_preagg_s": round(t_even_pre, 2),
        "asof_skew_preagg_s": round(t_skew_pre, 2),
        "asof_skew_preagg_ratio": round(t_skew_pre / t_even_pre, 3),
        "asof_right_rows_raw": right_raw,
        "asof_right_rows_preagg": right_agg,
        "asof_bounds_probe_s": round(t_bounds, 2),
        "asof_skew_split_bounds_s": round(t_split_b, 2),
        "asof_skew_split_bounds_ratio": round(t_split_b / t_even, 3),
        "asof_skew_split_4x_s": round(t_split_4x, 2),
        "asof_skew_split_4x_ratio": round(t_split_4x / t_even, 3),
        "asof_seeds_job_s": round(t_seeds, 2),
        "n_events": n_events,
    }


def skew_mode() -> None:
    """Flat-straggler check: a few 100x-median docs must not stretch the
    wall clock (the split-plan + sliced-payload skew defense)."""
    n_even = int(os.environ.get("SPARK_GRAFT_SKEW_DOCS", "4000"))
    giant_pages = int(os.environ.get("SPARK_GRAFT_SKEW_GIANT", "512"))
    n_giants = int(os.environ.get("SPARK_GRAFT_SKEW_NGIANTS", "4"))
    spark = _fresh_spark(CPUS)
    warm = materialize_pages(spark, "/root/testdata/sf0.001")
    run_extraction(spark, warm)
    even_path, skew_path = materialize_skewed_pages(
        spark, n_even, giant_pages, n_giants
    )
    # best-of-2 per corpus: this box's run-to-run variance (~±20%) would
    # otherwise swamp the straggler signal
    even = min((run_extraction(spark, even_path) for _ in range(2)),
               key=lambda r: r["t_doc_text"])
    skew = min((run_extraction(spark, skew_path) for _ in range(2)),
               key=lambda r: r["t_doc_text"])
    asof = asof_skew_probe(spark)
    spark.stop()
    ratio = skew["t_doc_text"] / even["t_doc_text"]
    os.makedirs(_anchor("BENCH"), exist_ok=True)
    with open(_anchor("BENCH/SKEW.md"), "w") as f:
        f.write(f"""# BENCH — skewed-corpus straggler check (local[{CPUS}])

Same end-to-end extraction job, same total page count; the skewed corpus
hides {n_giants} documents of {giant_pages} pages (~{giant_pages // 5}x the
median doc) among the rest. The chunked split plan slices each chunk's
payload to its own pages, so giant docs fan out across the cluster instead
of pinning one task.

| corpus | docs | pages | doc_text wall (s) | pages/sec |
|---|---|---|---|---|
| even   | {even['n_docs']} | {even['n_pages']} | {even['t_doc_text']:.2f} | {even['n_pages'] / even['t_doc_text']:.0f} |
| skewed | {skew['n_docs']} | {skew['n_pages']} | {skew['t_doc_text']:.2f} | {skew['n_pages'] / skew['t_doc_text']:.0f} |

**skewed / even wall-time ratio = {ratio:.3f}** (flat stragglers: ~1.0;
an unsplit giant would pin a single task at ~{giant_pages} pages x
~6 ms/page render on one core)

## asof_join hot-key envelope

Same asof_join (clicks x purchases, {asof['n_events']:,}
events) on an even key distribution vs one user holding ~50% of the
corpus. The window serializes each key's merged timeline into ONE
partition — inherent to any as-of ordering — so a pathologically hot key
bounds parallelism; the measured envelope documents the cost. Two
mitigations, both measured here on their target shapes:

1. ``hot_key_ranges=N`` — split every key's timeline into N coarse time
   ranges with boundary carry-over seed rows (identical results,
   oracle-parity tested) so the hot key's window runs N-way parallel.
   Measured on the RAW right side (every right event through the window —
   the shape where the hot key actually binds);
2. pre-aggregate the RIGHT side per (key, coarsened ts) — reduces the
   window input from {asof['asof_right_rows_raw']:,} to
   {asof['asof_right_rows_preagg']:,} right rows (300 s buckets), after
   which the hot key no longer binds at all. First choice when the
   consumer tolerates bucketed right rows; don't stack the split knob on
   top (its fixed seed/spine jobs cost more than the residual skew).

| right side | corpus | asof wall (s) | vs its even run |
|---|---|---|---|
| raw | even keys   | {asof['asof_even_s']:.2f} | 1.0 |
| raw | one key ~50% | {asof['asof_skew_s']:.2f} | {asof['asof_skew_ratio']:.3f} |
| raw | one key ~50%, hot_key_ranges={asof['asof_hot_key_ranges']} | {asof['asof_skew_split_s']:.2f} | {asof['asof_skew_split_ratio']:.3f} |
| pre-agg | even keys   | {asof['asof_even_preagg_s']:.2f} | 1.0 |
| pre-agg | one key ~50% | {asof['asof_skew_preagg_s']:.2f} | {asof['asof_skew_preagg_ratio']:.3f} |

### Residual attribution (r6)

With the split knob on, the hot-key run still lands above its even
baseline; the components, measured separately on the same persisted
skewed corpus:

| component | wall (s) | vs even ({asof['asof_even_s']:.2f} s) |
|---|---|---|
| split N={asof['asof_hot_key_ranges']} (in-plan bounds probe) | {asof['asof_skew_split_s']:.2f} | {asof['asof_skew_split_ratio']:.3f} |
| split N={asof['asof_hot_key_ranges']}, `hot_key_bounds=` passed | {asof['asof_skew_split_bounds_s']:.2f} | {asof['asof_skew_split_bounds_ratio']:.3f} |
| split N={4 * asof['asof_hot_key_ranges']}, bounds passed | {asof['asof_skew_split_4x_s']:.2f} | {asof['asof_skew_split_4x_ratio']:.3f} |
| bounds min/max probe alone | {asof['asof_bounds_probe_s']:.2f} | — |
| seeds side job alone (finals + spine + carry) | {asof['asof_seeds_job_s']:.2f} | — |

Reading: passing ``hot_key_bounds`` removes the call-time min/max scan
({asof['asof_bounds_probe_s']:.2f} s: ratio
{asof['asof_skew_split_ratio']:.2f} -> {asof['asof_skew_split_bounds_ratio']:.2f}).
{'Raising N to ' + str(4 * asof['asof_hot_key_ranges']) + ' smooths hash lumpiness further (' + f"{asof['asof_skew_split_4x_ratio']:.2f}" + ') — some shuffle buckets win 2-3 hot ranges at N=' + str(asof['asof_hot_key_ranges']) + '.'
 if asof['asof_skew_split_4x_s'] < asof['asof_skew_split_bounds_s'] else
 'Raising N to ' + str(4 * asof['asof_hot_key_ranges']) + ' does NOT help (' + f"{asof['asof_skew_split_4x_ratio']:.2f}" + ' vs ' + f"{asof['asof_skew_split_bounds_ratio']:.2f}" + ' at N=' + str(asof['asof_hot_key_ranges']) + '): the per-(key,range) sort is not the binding term, so finer ranges only grow the seeds/spine side work.'}
The floor under the bounds-passed ratio is the seeds computation —
measured {asof['asof_seeds_job_s']:.2f} s standalone (finals groupBy +
spine distinct + carry window; inside the fused plan it shares the
cached scans, so its incremental cost is the
{asof['asof_skew_split_bounds_s'] - asof['asof_even_s']:+.2f} s
residual, not the standalone wall). Guidance: N ~= core count (the
default) with ``hot_key_bounds`` passed is the operating point; the
remaining overhead is the price of the carry-over seeds that make the
split exact, and the pre-agg mitigation stays first choice when the
consumer tolerates bucketed right rows.
""")
    print(json.dumps({
        "skew_ratio": round(ratio, 3),
        "even_pages_per_sec": round(even["n_pages"] / even["t_doc_text"], 1),
        "skew_pages_per_sec": round(skew["n_pages"] / skew["t_doc_text"], 1),
        "giant_pages": giant_pages, "n_giants": n_giants,
        **asof,
    }))


def capacity_mode() -> None:
    """Capacity probe: ~1M pages end-to-end on local[CPUS]; per-page cost
    must stay flat vs the sf0.1 run (no super-linear term hiding anywhere)."""
    replicate = int(os.environ.get("SPARK_GRAFT_CAP_REPLICATE", "40"))
    spark = _fresh_spark(CPUS)
    warm = materialize_pages(spark, "/root/testdata/sf0.001")
    run_extraction(spark, warm)
    small_path = materialize_pages(spark, SF_DIR)
    small = run_extraction(spark, small_path)
    big_path = materialize_pages(spark, SF_DIR, replicate=replicate)
    big = run_extraction(spark, big_path)
    spark.stop()
    ms_small = small["t_doc_text"] * 1000 / small["n_pages"]
    ms_big = big["t_doc_text"] * 1000 / big["n_pages"]
    # matching + eval legs: per-ITEM cost (both scale with matched items,
    # not pages) — r4 only volume-probed doc_text, leaving the join-heavy
    # paths' scaling asserted by plan shape rather than measured
    match_small = small["t_caption_match"] * 1000 / small["n_items"]
    match_big = big["t_caption_match"] * 1000 / big["n_items"]
    eval_small = small["t_eval"] * 1000 / small["n_items"]
    eval_big = big["t_eval"] * 1000 / big["n_items"]
    os.makedirs(_anchor("BENCH"), exist_ok=True)
    with open(_anchor("BENCH/CAPACITY.md"), "w") as f:
        f.write(f"""# BENCH — capacity probe (local[{CPUS}])

Same end-to-end extraction job at 1x and {replicate}x the sf0.1 corpus;
flat per-page cost = no super-linear term (shuffle spill, driver
accumulation, skew) hiding between the test scale and the 10⁶-page scale.

| corpus | docs | pages | doc_text wall (s) | pages/sec | ms/page |
|---|---|---|---|---|---|
| sf0.1 x1  | {small['n_docs']} | {small['n_pages']} | {small['t_doc_text']:.1f} | {small['n_pages'] / small['t_doc_text']:.0f} | {ms_small:.3f} |
| sf0.1 x{replicate} | {big['n_docs']} | {big['n_pages']} | {big['t_doc_text']:.1f} | {big['n_pages'] / big['t_doc_text']:.0f} | {ms_big:.3f} |

**per-page cost ratio (big/small) = {ms_big / ms_small:.3f}** (flat: ~1.0)

The matching and evaluation legs (equi+theta spatial join -> greedy
bipartite resolution; GT<->pred IoU argmax + conditional aggs) measured on
the same runs, per matched ITEM (their natural unit):

| corpus | items | caption_match (s) | ms/item | eval_summary (s) | ms/item |
|---|---|---|---|---|---|
| sf0.1 x1  | {small['n_items']} | {small['t_caption_match']:.1f} | {match_small:.4f} | {small['t_eval']:.1f} | {eval_small:.4f} |
| sf0.1 x{replicate} | {big['n_items']} | {big['t_caption_match']:.1f} | {match_big:.4f} | {big['t_eval']:.1f} | {eval_big:.4f} |

**per-item cost ratio (big/small): caption_match
{match_big / match_small:.3f}, eval_summary {eval_big / eval_small:.3f}**
(flat: ~1.0; <1 = fixed per-job overheads amortizing)
""")
    print(json.dumps({
        "pages_big": big["n_pages"], "wall_big_s": round(big["t_doc_text"], 1),
        "pages_per_sec_big": round(big["n_pages"] / big["t_doc_text"], 1),
        "per_page_cost_ratio": round(ms_big / ms_small, 3),
        "per_item_match_ratio": round(match_big / match_small, 3),
        "per_item_eval_ratio": round(eval_big / eval_small, 3),
    }))


def synth_docs(spark, n_docs: int, n_words: int = 120, vocab: int = 5000,
               near_dup_every: int = 0, viral_copies: int = 0):
    """Synthetic dedup corpus, generated natively (spark.range + codegen
    hash words, no driver rows). The base docs are unique (random pairs
    share few shingles — replicating a real corpus wholesale would make
    every replica a near-duplicate and measure candidate blow-up, not
    scale). Two deterministic contaminations make the LSH verification
    leg REAL instead of vacuous (r4's probe found 0 pairs, so the
    candidate-verify join was never exercised):

      * ``near_dup_every=K`` — every K-th base doc gets a TWIN (doc_id +
        10^7) sharing all but its last 6 words: Jaccard ~0.85, inside
        every LSH band regime, so pairs grow linearly with the corpus.
      * ``viral_copies=V`` — V exact copies of doc 0 (doc_id 2*10^7 + i):
        one viral cluster that exceeds max_bucket and exercises the
        hot-bucket cap + the capped quadratic verify inside it."""
    from pyspark.sql import functions as F

    def word(expr, salt=0):
        return F.concat(
            F.lit("w"), F.pmod(F.xxhash64(expr * 1000 + F.lit(salt)), F.lit(vocab))
        )

    def text(id_expr, tail_salt=None):
        # words i=1..n_words; a twin swaps the last 6 for salted variants
        def w(i):
            if tail_salt is not None and i > n_words - 6:
                return word(id_expr + i, salt=tail_salt)
            return word(id_expr, salt=i)
        return F.concat_ws(" ", *[w(i) for i in range(1, n_words + 1)])

    base = spark.range(n_docs).select(
        F.col("id").alias("doc_id"), text(F.col("id")).alias("text")
    )
    out = base
    if near_dup_every:
        twins = (
            spark.range(0, n_docs, near_dup_every)
            .select((F.col("id") + 10_000_000).alias("doc_id"),
                    text(F.col("id"), tail_salt=777).alias("text"))
        )
        out = out.unionByName(twins)
    if viral_copies:
        viral = spark.range(viral_copies).select(
            (F.col("id") + 20_000_000).alias("doc_id"),
            # cast: xxhash64 is type-sensitive, the base ids are longs
            text(F.lit(0).cast("long")).alias("text"),
        )
        out = out.unionByName(viral)
    return out


def dedup_capacity_mode() -> None:
    """Scale-linearity probe for the dedup surface: exact dedup and
    MinHash+LSH pairs at 1x and 10x document volume; per-doc cost must stay
    flat (shuffle is O(docs x bands) by construction — this measures it).
    The corpus carries a deterministic ~1% near-dup twin fraction plus one
    400-copy viral cluster, so LSH pairs > 0 and the candidate-verification
    join (the one leg that could go quadratic) is actually measured, with
    the hot-bucket cap exercised by the viral cluster. A warmup pass runs
    both jobs once before any timer so the 1x row isn't JVM-warmup-bound."""
    from paper_layout_parser_spark.operators import dedup as dd

    base = int(os.environ.get("SPARK_GRAFT_DEDUP_DOCS", "10000"))
    spark = _fresh_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    def corpus(n):
        return (synth_docs(spark, n, near_dup_every=100, viral_copies=400)
                .repartition(CPUS * 2).persist())

    from pyspark.sql import functions as F

    warm = corpus(base // 4)
    warm.count()
    dd.exact_dedup(warm).count()
    dd.minhash_lsh_pairs(warm, threshold=0.5).count()
    dd.remove_duplicate_spans(warm, n=8).agg(
        F.sum("n_tokens_removed")).collect()
    warm.unpersist()

    results = {}
    for scale in (1, 10):
        n = base * scale
        docs = corpus(n)
        n_rows = docs.count()  # materialize generation outside the timers
        t = time.monotonic()
        dd.exact_dedup(docs).count()
        t_exact = time.monotonic() - t
        t = time.monotonic()
        n_pairs = dd.minhash_lsh_pairs(docs, threshold=0.5).count()
        t_lsh = time.monotonic() - t
        t = time.monotonic()
        # aggregate the computed column (a bare count would let Catalyst
        # drop the span work); removed > 0 because the twin/viral docs
        # duplicate every window corpus-wide
        removed = (dd.remove_duplicate_spans(docs, n=8)
                   .agg(F.sum("n_tokens_removed")).collect()[0][0])
        t_span = time.monotonic() - t
        docs.unpersist()
        results[scale] = {"n": n_rows, "t_exact": t_exact, "t_lsh": t_lsh,
                          "pairs": n_pairs, "t_span": t_span,
                          "removed": removed}

    # touched-fraction sweep at FIXED corpus size: the r7 gate routes the
    # tokenize/anti-join/reassembly legs through a left_semi on covered
    # ids, so with the window-count leg held constant (same document
    # count, near-identical token volume — the plant adds 12 words to
    # the touched docs only), span-dedup wall must grow with the
    # fraction of documents actually touched — the pre-gate
    # implementation reassembled every document and was flat in this
    # sweep by construction. Twin-free corpus: ONLY the planted span
    # duplicates, so touched fraction == plant fraction.
    plant = ("subscribe to our newsletter today for free updates "
             "delivered straight to your inbox")
    sweep = {}
    for frac_label, every in (("1-in-100", 100), ("1-in-2", 2)):
        docs = (synth_docs(spark, base)
                .withColumn(
                    "text",
                    F.when(F.col("doc_id") % every == 0,
                           F.concat(F.col("text"), F.lit(" " + plant)))
                    .otherwise(F.col("text")))
                .repartition(CPUS * 2).persist())
        docs.count()
        touched = (dd.remove_duplicate_spans(docs, n=8)
                   .where(F.col("n_tokens_removed") > 0).count())
        t = time.monotonic()
        rem = (dd.remove_duplicate_spans(docs, n=8)
               .agg(F.sum("n_tokens_removed")).collect()[0][0])
        sweep[frac_label] = {"t": time.monotonic() - t,
                             "touched": touched, "removed": rem,
                             "n": docs.count()}
        docs.unpersist()
    spark.stop()
    r1, r10 = results[1], results[10]
    ratio_exact = (r10["t_exact"] / r10["n"]) / (r1["t_exact"] / r1["n"])
    ratio_lsh = (r10["t_lsh"] / r10["n"]) / (r1["t_lsh"] / r1["n"])
    ratio_span = (r10["t_span"] / r10["n"]) / (r1["t_span"] / r1["n"])
    os.makedirs(_anchor("BENCH"), exist_ok=True)
    with open(_anchor("BENCH/DEDUP_CAPACITY.md"), "w") as f:
        f.write(f"""# BENCH — dedup capacity probe (local[{CPUS}])

Exact dedup (hash-groupBy on the narrow (xxhash64, length) key) and
MinHash+LSH near-dup pairs (xxhash64 production family: signatures ->
banded buckets -> capped in-bucket join -> exact-Jaccard verification) on
{r1['n']:,} vs {r10['n']:,} synthetic documents (~120 words each,
generated natively; a warmup pass precedes the timers). The corpus plants
a deterministic 1% near-dup twin fraction (Jaccard ~0.85) plus one
400-copy viral cluster, so the candidate-verification join and the
hot-bucket cap are genuinely exercised (pairs column > 0 proves it).
Per-doc cost must stay flat: the LSH shuffle is O(docs x bands) by
construction and the in-bucket join is capped, so no quadratic term may
appear between the scales even with pairs growing linearly.

| docs | exact dedup (s) | minhash+LSH (s) | LSH pairs found | span dedup n=8 (s) | tokens removed |
|---|---|---|---|---|---|
| {r1['n']:,} | {r1['t_exact']:.2f} | {r1['t_lsh']:.2f} | {r1['pairs']} | {r1['t_span']:.2f} | {r1['removed']:,} |
| {r10['n']:,} | {r10['t_exact']:.2f} | {r10['t_lsh']:.2f} | {r10['pairs']} | {r10['t_span']:.2f} | {r10['removed']:,} |

**per-doc cost ratio (10x/1x): exact {ratio_exact:.3f}, LSH {ratio_lsh:.3f},
span-dedup {ratio_span:.3f}** (flat: ~1.0; <1 = fixed overheads
amortizing). Span dedup (remove_duplicate_spans) explodes one window per
token — its shuffle is O(corpus tokens) on 16-byte hashed keys with
map-side combine on the viral windows, so per-doc cost must stay flat
like the others. Tokens-removed grew
{r10['removed'] / max(r1['removed'], 1):.1f}x at 9.7x volume — a corpus
property, not operator cost: the planted twins are a fixed 1% fraction
(linear removals) while the 400-copy viral cluster's removal is
constant, so sub-linear growth is the expected shape.

Reading the pairs column: the 400-copy viral cluster contributes a
CONSTANT ~C(256,2) = 32,640 pairs at both scales — the hot-bucket cap
(max_bucket=256) binding exactly as designed instead of the uncapped
C(401,2) = 80,200 — while the planted 1%-twin pairs grow linearly with
the corpus ({r10['pairs'] - r1['pairs']:+,} from 1x to 10x). Both legs of
the verification join are therefore measured: the capped quadratic inside
one hot bucket, and linear growth everywhere else.

## Touched-fraction sweep (gated reassembly)

Same operator at FIXED corpus size ({sweep['1-in-100']['n']:,} docs in
both rows; a planted boilerplate sentence marks every K-th document, so
the window-count leg — inherently corpus-linear — sees near-identical
token volume), varying only how many documents actually contain a
duplicated span. Reassembly (r8 array shape) joins only the documents
present in the per-doc coverage arrays, so wall time rises with the
touched fraction and the 1-in-100 row pays (approximately) just the
window-count leg; the pre-gate r6 implementation reassembled EVERY
document (two extra corpus-token shuffles) and was flat in this sweep
by construction.

| plant density | docs | touched docs | touched % | span dedup (s) | tokens removed |
|---|---|---|---|---|---|
| 1-in-100 | {sweep['1-in-100']['n']:,} | {sweep['1-in-100']['touched']:,} | {100 * sweep['1-in-100']['touched'] / sweep['1-in-100']['n']:.1f}% | {sweep['1-in-100']['t']:.2f} | {sweep['1-in-100']['removed']:,} |
| 1-in-2 | {sweep['1-in-2']['n']:,} | {sweep['1-in-2']['touched']:,} | {100 * sweep['1-in-2']['touched'] / sweep['1-in-2']['n']:.1f}% | {sweep['1-in-2']['t']:.2f} | {sweep['1-in-2']['removed']:,} |

Reassembly cost now scales with the TOUCHED fraction
({sweep['1-in-2']['t'] / sweep['1-in-100']['t']:.2f}x wall from
{100 * sweep['1-in-100']['touched'] / sweep['1-in-100']['n']:.0f}% to
{100 * sweep['1-in-2']['touched'] / sweep['1-in-2']['n']:.0f}% touched
at constant corpus volume), not the corpus; untouched documents
additionally return byte-identical text (tests/test_span_dedup.py pins
both properties).
""")
    print(json.dumps({
        "docs_big": r10["n"],
        "exact_per_doc_ratio": round(ratio_exact, 3),
        "lsh_per_doc_ratio": round(ratio_lsh, 3),
        "lsh_wall_big_s": round(r10["t_lsh"], 2),
        "span_per_doc_ratio": round(ratio_span, 3),
        "span_wall_big_s": round(r10["t_span"], 2),
    }))


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        scaling_mode()
    elif "--skew" in sys.argv:
        skew_mode()
    elif "--capacity" in sys.argv:
        capacity_mode()
    elif "--dedup-capacity" in sys.argv:
        dedup_capacity_mode()
    elif "--corpus-build" in sys.argv:
        corpus_build_mode()
    elif "--corpus-scaling" in sys.argv:
        corpus_scaling_mode()
    elif "--curate-scaling" in sys.argv:
        curate_scaling_mode()
    elif "--ann-capacity" in sys.argv:
        ann_capacity_mode()
    elif "--ivf-recall" in sys.argv:
        ivf_recall_mode()
    elif "--domain-capacity" in sys.argv:
        domain_capacity_mode()
    else:
        default_mode()
