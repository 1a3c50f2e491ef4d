"""End-to-end pipeline tests on a slice of the synthetic corpus:
byte-identity of assembled text, stats parity with the Python spec,
fused-stage parity with a pure-Python oracle, skew-plan behavior."""

import json
import struct
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from paper_layout_parser_spark import synthdata as sd
from paper_layout_parser_spark.algorithms import clip_text, xy_cut_order
from paper_layout_parser_spark.corpus import build_pages
from paper_layout_parser_spark.operators.crop import StubCropCodec
from paper_layout_parser_spark.operators.detect import (
    DEFAULT_CONF,
    StubDetectorBackend,
)
from paper_layout_parser_spark.operators.rasterize import (
    plan_splits,
    probe_pages,
)
from paper_layout_parser_spark.operators.stats import (
    class_stats,
    doc_stats,
    extraction_stats,
    page_detection_counts,
    summary_report,
)
from paper_layout_parser_spark.plans.pipeline import run_pipeline

from . import oracle
from .conftest import SF_SMALL

N_DOCS = 60  # slice for speed; includes doc_id 0 (a 64-page giant)


@pytest.fixture(scope="module")
def corpus(spark):
    pages = build_pages(spark, SF_SMALL).where(
        F.regexp_extract("url", r"([0-9]+)$", 1).cast("long") < N_DOCS
    ).persist()
    out = run_pipeline(pages)
    out.matched = out.matched.persist()
    yield pages, out
    pages.unpersist()


def test_byte_identity_doc_text(corpus):
    pages, out = corpus
    joined = out.doc_text.join(pages.select("url", "text"), "url")
    assert joined.count() == N_DOCS
    assert joined.where("doc_text <> text").count() == 0


def test_detections_match_spec(corpus):
    _, out = corpus
    rows = out.enriched.collect()
    by_page = {}
    for r in rows:
        by_page.setdefault((r["url"], r["page_no"]), []).append(r)
    checked = 0
    for (url, p), dets in by_page.items():
        doc_id = int(url.rsplit("/", 1)[1])
        spec = sd.page_blocks(doc_id, p)
        dets = sorted(dets, key=lambda r: r["det_idx"])
        assert len(dets) == len(spec)
        for d, blk in zip(dets, spec):
            assert d["class_name"] == blk["class_name"]
            assert d["confidence"] == blk["confidence"]
            assert (d["x1"], d["y1"], d["x2"], d["y2"]) == (
                blk["x1"], blk["y1"], blk["x2"], blk["y2"])
            assert d["text"] == blk["text"]
        checked += 1
    assert checked == sum(sd.n_pages(d) for d in range(N_DOCS))


def test_doc_stats_and_summary(corpus):
    pages, out = corpus
    stats = {r["url"]: r for r in doc_stats(
        out.enriched, total_pages=probe_pages(pages)).collect()}
    for doc_id in range(N_DOCS):
        url = sd.url_of(doc_id)
        blocks = [b for p in range(1, sd.n_pages(doc_id) + 1)
                  for b in sd.page_blocks(doc_id, p)]
        r = stats[url]
        assert r["total_pages"] == sd.n_pages(doc_id)
        assert r["total_detections"] == len(blocks)
        import math
        expected_avg = math.floor(len(blocks) / sd.n_pages(doc_id) * 100 + 0.5) / 100
        assert r["average_detections_per_page"] == expected_avg
    summ = summary_report(doc_stats(out.enriched, total_pages=probe_pages(pages))).collect()[0]
    assert summ["total_documents"] == N_DOCS
    assert summ["total_pages"] == sum(sd.n_pages(d) for d in range(N_DOCS))
    # the pipeline's own doc_stats counts pages from the fused stage's
    # tally rows and agrees with the header probe
    assert {r["url"]: r.asDict() for r in out.doc_stats.collect()} == {
        u: r.asDict() for u, r in stats.items()}


def test_class_stats_exact_average(corpus):
    _, out = corpus
    got = {r["class_name"]: r for r in class_stats(out.enriched).collect()}
    # recompute from spec: sums of 1/16-multiples are exact in binary
    sums, counts = {}, {}
    for doc_id in range(N_DOCS):
        for p in range(1, sd.n_pages(doc_id) + 1):
            for b in sd.page_blocks(doc_id, p):
                sums[b["class_name"]] = sums.get(b["class_name"], 0.0) + b["confidence"]
                counts[b["class_name"]] = counts.get(b["class_name"], 0) + 1
    import math
    for cn, n in counts.items():
        assert got[cn]["n_detections"] == n
        expected = math.floor(sums[cn] / n * 10000 + 0.5) / 10000
        assert got[cn]["avg_confidence"] == expected


def test_page_detection_counts(corpus):
    _, out = corpus
    got = {(r["url"], r["page_no"]): r["num_detections"]
           for r in page_detection_counts(out.enriched).collect()}
    for doc_id in (0, 1, 13, 59):
        for p in range(1, sd.n_pages(doc_id) + 1):
            assert got[(sd.url_of(doc_id), p)] == len(sd.page_blocks(doc_id, p))


def test_extraction_stats_truthy_caption(corpus):
    _, out = corpus
    got = {(r["url"], r["item_type"]): r for r in extraction_stats(out.matched).collect()}
    # spot-check one url against the spec-derived expectation
    for doc_id in (1, 13):
        url = sd.url_of(doc_id)
        fig_total = fig_cap = 0
        for p in range(1, sd.n_pages(doc_id) + 1):
            s = sd.scenario(doc_id, p)
            if s <= 4:
                fig_total += 1
                if s == 0:
                    fig_cap += 1
        if fig_total:
            r = got[(url, "figure")]
            assert (r["total_items"], r["items_with_captions"]) == (fig_total, fig_cap)


def test_plan_splits_spreads_giant_docs(spark):
    pages = build_pages(spark, SF_SMALL).where(
        F.regexp_extract("url", r"([0-9]+)$", 1).cast("long").isin(0, 1, 2)
    )
    planned = plan_splits(pages, chunk_pages=16, num_partitions=8)
    chunks = planned.groupBy("url").count().collect()
    by_url = {r["url"]: r["count"] for r in chunks}
    assert by_url[sd.url_of(0)] == 4       # 64 pages / 16 per chunk
    assert by_url[sd.url_of(1)] == 1
    # giant doc's chunks must not all share one partition
    pids = (
        planned.where(F.col("url") == sd.url_of(0))
        .select(F.spark_partition_id().alias("pid")).distinct().count()
    )
    assert pids >= 2


def test_chunk_payload_proportional_to_pages(spark):
    """Skew defense must not amplify: each chunk of a multi-chunk document
    carries ONLY its own pages' bytes through the exchange (a giant doc must
    not put N copies of itself through the shuffle)."""
    pages = build_pages(spark, SF_SMALL).where(F.col("url") == sd.url_of(0))
    full_len = len(pages.select("html").first()["html"])  # 64-page giant
    planned = plan_splits(pages, chunk_pages=16, num_partitions=4)
    sizes = [r["n"] for r in planned.select(F.length("html").alias("n")).collect()]
    assert len(sizes) == 4
    # sliced payloads sum to ~the original (tiny per-chunk header overhead),
    # not chunks x original
    assert sum(sizes) < full_len * 1.05
    assert max(sizes) < full_len / 2


def test_exact_dedup_shuffles_hash_not_text(spark):
    """The dedup exchange key must be the 64-bit hash + length, never the
    raw text column (at 100 TB the full-text shuffle is the dominant cost)."""
    from paper_layout_parser_spark.operators.dedup import exact_dedup
    from .test_plans import plan_of

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    out = exact_dedup(docs)
    plan = plan_of(spark, out, "simple")
    assert "xxhash64(text" in plan
    # Catalyst folds the aliased keys into _groupingexpression columns; the
    # exchange must partition on those derived (hash, length) keys
    assert "hashpartitioning(_groupingexpression" in plan
    # the raw text column must not be a partitioning key
    assert "hashpartitioning(text" not in plan
    # still correct: driver corpus has no dupes -> one row per doc
    assert out.count() == docs.count()


def test_rasterize_page_counts(corpus):
    pages, out = corpus
    got = out.doc_stats.select("url", "total_pages").collect()
    assert len(got) == N_DOCS
    for r in got:
        doc_id = int(r["url"].rsplit("/", 1)[1])
        assert r["total_pages"] == sd.n_pages(doc_id)


def _doc_pages_df(spark, docs: dict[str, list[dict]]):
    """pages rows for hand-built documents: url -> list of page dicts in
    the synthetic PLP1 container (sd.doc_html's layout)."""
    rows = []
    for url, pgs in docs.items():
        body = json.dumps({"v": 1, "pages": pgs}).encode()
        rows.append((url, sd.HTML_MAGIC + struct.pack(">I", len(pgs)) + body))
    return spark.createDataFrame(rows, "url string, html binary").select(
        "url",
        F.lit("2020-01-01").cast("timestamp").alias("warc_ts"),
        "html",
        F.lit("").alias("text"),
        F.lit("en").alias("lang"),
    )


def _page(page_no: int, *blocks: dict) -> dict:
    return {"page_no": page_no, "width": 400, "height": 400,
            "blocks": list(blocks)}


def _block(b: int, class_id: int, name: str, conf: float, y1: float,
           text: str, bbox: list[float] | None = None) -> dict:
    return {"b": b, "class_id": class_id, "name": name, "conf": conf,
            "bbox": bbox or [10.0, y1, 200.0, y1 + 30.0], "text": text}


def _round(x: float, digits: int) -> float:
    """Spark's round on a double: HALF_UP on the shortest decimal string,
    so 300.005 -> 300.01 where Python's round gives 300.0."""
    return float(Decimal(repr(x)).quantize(Decimal(10) ** -digits,
                                           ROUND_HALF_UP))


def _kept(pg: dict) -> list[dict]:
    """A page's detections: the blocks whose confidence clears
    DEFAULT_CONF, in block order (det_idx is the position here)."""
    return [b for b in pg["blocks"] if b["conf"] >= DEFAULT_CONF]


def _oracle_enriched(docs: dict[str, list[dict]]) -> list[tuple]:
    """Pure-Python spec of the fused stage's enriched rows for documents
    given as url -> page dicts (the PLP1 body's layout): no Spark, no UDF."""
    rows = []
    for url, pgs in docs.items():
        for pg in pgs:
            kept = _kept(pg)
            order = xy_cut_order([tuple(b["bbox"]) for b in kept])
            rank = {pos: r for r, pos in enumerate(order)}
            for i, b in enumerate(kept):
                x1, y1, x2, y2 = b["bbox"]
                rows.append((
                    url, pg["page_no"], i,
                    sd.normalize_class_name(b["name"]), _round(b["conf"], 4),
                    *(_round(v, 2) for v in b["bbox"]),
                    rank[i], clip_text(pg["blocks"], x1, y1, x2, y2),
                ))
    return rows


def _oracle_matched(docs: dict[str, list[dict]]) -> list[tuple]:
    """Pure-Python spec of ``matched``: the reference matcher port
    (tests/oracle.py) on each page's detections with their enriched values
    (normalized class, bbox rounded as Spark rounds), then per-document
    item counters in (page, detection) order."""
    searches = (("figure", "fig", sd.FIGURE_CLASSES,
                 sd.FIGURE_CAPTION_CLASSES, "below"),
                ("table", "table", sd.TABLE_CLASSES,
                 sd.TABLE_CAPTION_CLASSES, "above"))
    box = ("x1", "y1", "x2", "y2")
    rows = []
    for url, pgs in docs.items():
        for item_type, prefix, item_cls, cap_cls, direction in searches:
            seq = 0
            for pg in sorted(pgs, key=lambda p: p["page_no"]):
                dets = [{"name": sd.normalize_class_name(b["name"]),
                         **dict(zip(box, (_round(v, 2) for v in b["bbox"]))),
                         "text": clip_text(pg["blocks"], *b["bbox"])}
                        for b in _kept(pg)]
                items = [d for d in dets if d["name"] in item_cls]
                caps = [d for d in dets if d["name"] in cap_cls]
                for item, cap in oracle.match_items_to_captions(items, caps,
                                                                direction):
                    seq += 1
                    rows.append((
                        url, item_type,
                        f"{prefix}_{pg['page_no']:02d}_{seq:02d}", seq,
                        pg["page_no"], pg["width"], pg["height"],
                        *(item[k] for k in box),
                        *(cap and cap[k] for k in box), cap and cap["text"],
                    ))
    return rows


@pytest.mark.parametrize("path", ["stub_fast_path", "serialized_detect_batch"])
def test_fused_stage_matches_python_oracle(spark, path):
    """The pipeline's one fused UDF stage, row for row, against the
    pure-Python oracle — enriched and matched, for the stub's dict fast
    path and for the generic serialized detect_batch path. Next to the
    synthetic corpus (integer boxes, reading-order permutations that are
    their own inverse, at most one item and one caption per page and type)
    run hand-built pages: one whose values need rounding and whose
    reading order is a 3-cycle, one whose captions the greedy assignment
    resolves through a chain of ties, and one whose captions are 100 px
    away or not depending on how the edges are rounded."""

    class SerializedStub(StubDetectorBackend):
        # a subclass skips the stub's dict fast path: pages reach it as
        # serialized payloads through detect_batch
        pass

    backend = StubDetectorBackend if path == "stub_fast_path" else SerializedStub
    n_docs = 15
    docs = {sd.url_of(d): json.loads(sd.doc_html(d)[8:])["pages"]  # skip PLP1 header
            for d in range(n_docs)}
    cycle = [_page(1,
                   _block(0, 3, "figure", 0.87654, 200.004, "third"),
                   _block(1, 0, "title", 0.9, 10.0, "first"),
                   _block(2, 1, "plain_text", 0.5, 100.0, "second"))]

    def box(b, class_id, name, bbox):
        return _block(b, class_id, name, 0.9, 0.0, f"{name} {b}", bbox)

    # greedy order: F1-C1 (10 px) first, then F0-C0 and F2-C2 through the
    # ties at 20, 30 and 40 px; going through the items in reverse order
    # would give F2 C0, and each item taking its nearest free caption
    # would give F0 C1. C0's right edge needs rounding.
    ties = [_page(1,
                  box(0, 3, "figure", [10.0, 50.0, 200.0, 100.0]),
                  box(1, 3, "figure", [10.0, 60.0, 110.0, 110.0]),
                  box(2, 3, "figure", [60.0, 50.0, 100.0, 100.0]),
                  box(3, 4, "figure_caption", [60.0, 130.0, 150.004, 140.0]),
                  box(4, 4, "figure_caption", [10.0, 120.0, 100.0, 130.0]),
                  box(5, 4, "figure_caption", [60.0, 140.0, 100.0, 150.0]))]
    # matching decides on the rounded edges: Spark rounds 300.005 to
    # 300.01, 100.01 px below the left figure, too far (Python's round
    # gives 300.0); 300.004 rounds to 300.0, exactly 100 px below the
    # right figure, a match (unrounded, 100.004 px is too far)
    half_way = [_page(1,
                      box(0, 3, "figure", [10.0, 100.0, 200.0, 200.0]),
                      box(1, 4, "figure_caption", [10.0, 300.005, 200.0, 330.0]),
                      box(2, 3, "figure", [250.0, 100.0, 390.0, 200.0]),
                      box(3, 4, "figure_caption", [250.0, 300.004, 390.0, 330.0]))]
    extra = {"u_cycle": cycle, "u_ties": ties, "u_half_way": half_way}
    pages = build_pages(spark, SF_SMALL).where(
        F.regexp_extract("url", r"([0-9]+)$", 1).cast("long") < n_docs
    ).unionByName(_doc_pages_df(spark, extra))
    cols = ["url", "page_no", "det_idx", "class_name", "confidence",
            "x1", "y1", "x2", "y2", "reading_order_rank", "text"]
    out = run_pipeline(pages, backend_factory=backend)
    got = [tuple(r) for r in out.enriched.select(cols).collect()]
    got_matched = [tuple(r) for r in out.matched.collect()]
    out.unpersist()
    want = _oracle_enriched({**docs, **extra})
    assert [r[9] for r in want if r[0] == "u_cycle"] == [2, 0, 1]
    assert len(set(got)) == len(got)
    assert sorted(got) == sorted(want)

    want_matched = _oracle_matched({**docs, **extra})
    assert [r[12] for r in sorted(want_matched) if r[0] == "u_ties"] == [
        130.0, 120.0, 140.0]
    assert [r[12] for r in sorted(want_matched)
            if r[0] == "u_half_way"] == [None, 300.0]
    assert sum(r[11] is not None for r in want_matched) > 20
    assert len(set(got_matched)) == len(got_matched)
    assert sorted(got_matched, key=repr) == sorted(want_matched, key=repr)


def test_page_tally_semantics(spark):
    """doc_stats.total_pages counts every RENDERED page — a page with zero
    detections and a page quarantined in detect included, a page that
    failed to render excluded — and the tally rows that carry the count
    never leak into any other output."""
    from paper_layout_parser_spark.operators.stats import result_json

    title = _block(0, 0, "title", 0.9, 10.0, "Heading")
    faint = _block(0, 1, "plain_text", DEFAULT_CONF / 2, 60.0, "faint")
    no_class = {"conf": 0.9, "bbox": [10.0, 10.0, 100.0, 50.0]}
    no_size = {"page_no": 2, "blocks": [title]}  # render raises KeyError
    pages = _doc_pages_df(spark, {
        "u_zero_det": [_page(1, title), _page(2, faint)],
        "u_detect_fail": [_page(1, title), _page(2, no_class)],
        "u_render_fail": [_page(1, title), no_size],
    })
    out = run_pipeline(pages)
    stats = {r["url"]: r for r in out.doc_stats.collect()}
    assert {u: r["total_pages"] for u, r in stats.items()} == {
        "u_zero_det": 2, "u_detect_fail": 2, "u_render_fail": 1}
    assert stats["u_zero_det"]["average_detections_per_page"] == 0.5
    assert stats["u_detect_fail"]["total_detections"] == 1

    q = {(r["url"], r["page_no"]): r["stage"] for r in out.quarantine.collect()}
    assert q == {("u_detect_fail", 2): "detect", ("u_render_fail", 2): "rasterize"}

    enriched = out.enriched.collect()
    assert len(enriched) == 3
    assert all(r["det_idx"] >= 0 and r["class_name"] == "Title" for r in enriched)
    assert "stage" not in out.enriched.columns
    assert out.matched.count() == 0
    assert {r["url"]: r["doc_text"] for r in out.doc_text.collect()} == {
        u: "Heading" for u in ("u_zero_det", "u_detect_fail", "u_render_fail")}
    results = [json.loads(r["result_json"])
               for r in result_json(out.enriched).collect()]
    assert len(results) == 3
    for res in results:
        assert res["statistics"]["total_detections"] == 1
        assert [pg["page_number"] for pg in res["pages"]] == [1]
    out.unpersist()


def test_each_page_renders_once(spark):
    """One run_pipeline feeds doc_text, matched, crops, doc_stats and
    quarantine from one cached fused pass: every page reaches the
    detector exactly once, the crop codec runs once per extracted item,
    and out.unpersist() releases the cache."""
    acc = spark.sparkContext.accumulator(0)
    crops_acc = spark.sparkContext.accumulator(0)

    class CountingBackend(StubDetectorBackend):
        # a subclass skips the stub's dict fast path, so every page goes
        # through detect_batch
        def detect_batch(self, payloads):
            acc.add(len(payloads))
            return StubDetectorBackend.detect_batch(self, payloads)

    class CountingCodec(StubCropCodec):
        def render(self, page_payload, px_rect):
            crops_acc.add(1)
            return StubCropCodec.render(self, page_payload, px_rect)

    n_docs = 12
    pages = build_pages(spark, SF_SMALL).where(
        F.regexp_extract("url", r"([0-9]+)$", 1).cast("long") < n_docs)
    jsc = spark.sparkContext._jsc.sc()
    cached_before = jsc.getPersistentRDDs().size()
    out = run_pipeline(pages, backend_factory=CountingBackend,
                       crop_codec_factory=CountingCodec)
    for df in (out.doc_text, out.matched, out.crops, out.doc_stats,
               out.quarantine):
        df.write.format("noop").mode("overwrite").save()
    assert acc.value == sum(sd.n_pages(d) for d in range(n_docs))
    n_items = out.matched.count()
    assert n_items > 0 and crops_acc.value == n_items
    assert sum(r["total_pages"] for r in out.doc_stats.collect()) == acc.value
    assert jsc.getPersistentRDDs().size() == cached_before + 1
    out.unpersist()
    assert jsc.getPersistentRDDs().size() == cached_before


def test_determinism_under_repartitioning(spark):
    """Shuffle-robustness: identical outputs regardless of partition counts
    and chunk sizes (the determinism class that breaks silently at scale)."""
    pages = build_pages(spark, SF_SMALL).where(
        F.regexp_extract("url", r"([0-9]+)$", 1).cast("long") < 25
    ).persist()

    def run(chunk, nparts):
        out = run_pipeline(pages, chunk_pages=chunk, num_partitions=nparts)
        text = {r["url"]: r["doc_text"] for r in out.doc_text.collect()}
        items = {(r["url"], r["item_id"]): (r["cap_y1"], r["caption_text"])
                 for r in out.matched.collect()}
        out.unpersist()
        return text, items

    t1, i1 = run(16, 8)
    t2, i2 = run(4, 3)     # giant doc split into many more chunks
    t3, i3 = run(64, 17)   # single chunk per doc, odd partition count
    assert t1 == t2 == t3
    assert i1 == i2 == i3
