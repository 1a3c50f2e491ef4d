"""Tests for the remaining SURVEY §2 operators: JSON result round-trip
(K1/S4), quarantine (C6), streaming incremental ingest, batch rollup
(A11 lossy approximation), Label-Studio export (K7), json repair (P11)."""

import json

import pytest
from pyspark.sql import functions as F

from paper_layout_parser_spark import synthdata as sd
from paper_layout_parser_spark.corpus import build_pages
from paper_layout_parser_spark.operators.stats import document_result, result_json
from paper_layout_parser_spark.plans.pipeline import run_pipeline

from .conftest import CORRUPT_HTML, SF_SMALL


def pages_of(spark, rows):
    """A pages table from (url, html) pairs."""
    return spark.createDataFrame(rows, "url string, html binary").select(
        "url",
        F.lit("2020-01-01").cast("timestamp").alias("warc_ts"),
        "html",
        F.lit("").alias("text"),
        F.lit("en").alias("lang"),
    )


def import_run_job():
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    from run_extraction_job import run_job

    return run_job


@pytest.fixture(scope="module")
def small_pages(spark):
    return build_pages(spark, SF_SMALL).where(
        F.regexp_extract("url", r"([0-9]+)$", 1).cast("long") < 20
    ).persist()


@pytest.fixture(scope="module")
def out(small_pages):
    return run_pipeline(small_pages)


class TestDocumentResult:
    def test_nested_shape_matches_reference(self, out):
        rows = {r["url"]: r for r in document_result(out.enriched).collect()}
        url = sd.url_of(1)
        r = rows[url]
        assert r["total_pages"] == sd.n_pages(1)
        assert r["model"] == "doclayout-yolo"
        pages = r["pages"]
        assert [p["page_number"] for p in pages] == list(range(1, sd.n_pages(1) + 1))
        p1 = pages[0]
        spec = sd.page_blocks(1, 1)
        assert p1["num_detections"] == len(spec)
        assert [d["class_name"] for d in p1["detections"]] == [b["class_name"] for b in spec]
        # image_size is per page (the corpus mixes page sizes)
        assert p1["image_size"]["width"] == sd.page_dims(1, 1)[0]
        assert p1["image_size"]["height"] == sd.page_dims(1, 1)[1]
        stats = r["statistics"]
        n_total = sum(len(sd.page_blocks(1, p)) for p in range(1, sd.n_pages(1) + 1))
        assert stats["total_detections"] == n_total
        assert stats["by_page"]["1"] == len(spec)
        assert set(stats["by_class"]) == {b["class_name"] for p in range(1, sd.n_pages(1) + 1)
                                          for b in sd.page_blocks(1, p)}

    def test_json_roundtrip(self, spark, out):
        """K1 sink then S4 load: to_json -> from_json recovers the struct."""
        doc = document_result(out.enriched)
        js = result_json(out.enriched)
        schema = doc.drop("url").schema
        parsed = js.select(
            "url", F.from_json("result_json", schema).alias("r")
        ).select("url", "r.total_pages", "r.statistics.total_detections")
        a = {r["url"]: (r["total_pages"], r["total_detections"]) for r in parsed.collect()}
        b = {r["url"]: (r["total_pages"], r["statistics"]["total_detections"])
             for r in doc.collect()}
        assert a == b

    def test_json_is_valid_and_deterministic_timestamp(self, out):
        row = result_json(out.enriched, processed_at="2026-01-01T00:00:00").first()
        payload = json.loads(row["result_json"])
        assert payload["processed_at"] == "2026-01-01T00:00:00"
        assert payload["model"] == "doclayout-yolo"


class TestQuarantine:
    def test_corrupt_page_goes_to_quarantine(self, spark):
        good = sd.doc_html(1)
        rows = [
            ("u_good", good),
            ("u_bad", sd.HTML_MAGIC + b"\x00\x00\x00\x01" + b"NOT JSON"),
            # header claims 64 pages -> takes the multi-chunk SLICING path
            # in plan_splits; the corrupt body must still end in quarantine,
            # never a failed plan stage
            ("u_bad_giant", sd.HTML_MAGIC + b"\x00\x00\x00\x40" + b"NOT JSON"),
        ]
        pages = spark.createDataFrame(rows, "url string, html binary").select(
            "url",
            F.lit("2020-01-01").cast("timestamp").alias("warc_ts"),
            "html",
            F.lit("").alias("text"),
            F.lit("en").alias("lang"),
        )
        out = run_pipeline(pages)
        q = {r["url"]: r for r in out.quarantine.collect()}
        assert set(q) == {"u_bad", "u_bad_giant"}
        assert q["u_bad"]["error"]
        # the good doc is unaffected
        assert out.doc_text.where("url = 'u_good'").count() == 1
        assert out.enriched.where("url LIKE 'u_bad%'").count() == 0

    def test_valid_json_malformed_pages_quarantines(self, spark):
        """C6 containment for the subtler corruption: the body IS valid JSON
        but the page entries aren't page dicts. The multi-chunk slicing path
        in plan_splits must fall back to ship-as-is and the rasterize stage
        must quarantine the doc — never a TypeError failing the task."""
        bad_body = json.dumps({"v": 1, "pages": [1, 2, 3]}).encode()
        rows = [
            ("u_good", sd.doc_html(2)),
            # header claims 64 pages -> multi-chunk SLICING path
            ("u_bad_entries_giant", sd.HTML_MAGIC + b"\x00\x00\x00\x40" + bad_body),
            # header claims 1 page -> single-chunk fast path; rasterize must
            # contain it instead
            ("u_bad_entries_small", sd.HTML_MAGIC + b"\x00\x00\x00\x01" + bad_body),
        ]
        pages = spark.createDataFrame(rows, "url string, html binary").select(
            "url",
            F.lit("2020-01-01").cast("timestamp").alias("warc_ts"),
            "html",
            F.lit("").alias("text"),
            F.lit("en").alias("lang"),
        )
        out = run_pipeline(pages)
        q = {r["url"]: r for r in out.quarantine.collect()}
        assert set(q) == {"u_bad_entries_giant", "u_bad_entries_small"}
        assert all(r["stage"] == "rasterize" for r in q.values())
        assert out.doc_text.where("url = 'u_good'").count() == 1

    def test_malformed_block_quarantines_not_job_failure(self, spark):
        """r9 review finding: a page whose block RENDERS fine (bbox +
        conf present) but is malformed for detection (no 'class_id'/
        'name' keys) must become a detect-stage quarantine row through
        the fused stub fast path — never a failed job (the per-page
        containment the serialized path's whole-batch-then-per-page
        fallback gives)."""
        bad_page = {"page_no": 1, "width": 400, "height": 400, "blocks": [
            {"conf": 0.9, "bbox": [10.0, 10.0, 100.0, 50.0]},  # no class_id
        ]}
        body = json.dumps({"v": 1, "pages": [bad_page]}).encode()
        rows = [
            ("u_good", sd.doc_html(4)),
            ("u_bad_block", sd.HTML_MAGIC + b"\x00\x00\x00\x01" + body),
        ]
        pages = spark.createDataFrame(rows, "url string, html binary").select(
            "url",
            F.lit("2020-01-01").cast("timestamp").alias("warc_ts"),
            "html",
            F.lit("").alias("text"),
            F.lit("en").alias("lang"),
        )
        out = run_pipeline(pages)
        q = {r["url"]: r for r in out.quarantine.collect()}
        assert set(q) == {"u_bad_block"}
        assert q["u_bad_block"]["stage"] == "detect"
        assert "KeyError" in q["u_bad_block"]["error"]
        assert out.doc_text.where("url = 'u_good'").count() == 1

    def test_enrich_failure_carries_detect_stage_label(self, spark):
        """r9 fused-stage parity: a page that RENDERS fine (bbox/conf
        present) but whose blocks break text enrichment (no 'text' key
        -> clip_text raises) must quarantine with stage='detect' (render
        errors are 'rasterize', inference/enrichment errors are
        'detect')."""
        bad_page = {"page_no": 1, "width": 400, "height": 400, "blocks": [
            {"b": 0, "class_id": 0, "name": "Title", "conf": 0.9,
             "bbox": [10.0, 10.0, 100.0, 50.0]},  # no 'text' key
        ]}
        body = json.dumps({"v": 1, "pages": [bad_page]}).encode()
        rows = [
            ("u_good", sd.doc_html(3)),
            ("u_bad_enrich", sd.HTML_MAGIC + b"\x00\x00\x00\x01" + body),
        ]
        pages = spark.createDataFrame(rows, "url string, html binary").select(
            "url",
            F.lit("2020-01-01").cast("timestamp").alias("warc_ts"),
            "html",
            F.lit("").alias("text"),
            F.lit("en").alias("lang"),
        )
        out = run_pipeline(pages)
        q = {r["url"]: r for r in out.quarantine.collect()}
        assert set(q) == {"u_bad_enrich"}
        assert q["u_bad_enrich"]["stage"] == "detect"
        assert out.doc_text.where("url = 'u_good'").count() == 1
        assert out.enriched.where("url = 'u_bad_enrich'").count() == 0


class TestStreamingIngest:
    def test_available_now_drain_and_exactly_once(self, spark, tmp_path, small_pages):
        from paper_layout_parser_spark.sources.catalog import Catalog
        from paper_layout_parser_spark.streaming.ingest import run_incremental_extraction

        pages_dir = str(tmp_path / "pages_in")
        small_pages.limit(10).write.mode("overwrite").parquet(pages_dir)
        cat = Catalog(spark, str(tmp_path / "wh"))
        ckpt = str(tmp_path / "ckpt")

        run_incremental_extraction(spark, pages_dir, cat, ckpt)
        n1 = cat.read("doc_text").count()
        assert n1 == 10

        # new files arrive -> only the new urls are processed
        small_pages.write.mode("append").parquet(pages_dir)
        run_incremental_extraction(spark, pages_dir, cat, ckpt)
        committed = cat.read("doc_text")
        assert committed.select("url").distinct().count() == 20
        # exactly-once per url despite the first 10 being re-delivered
        dupes = committed.groupBy("url").count().where("count > 1").count()
        assert dupes == 0

    def test_committed_key_cache_keeps_batch_reads_flat(
        self, spark, tmp_path, small_pages, monkeypatch
    ):
        """Per-batch bookkeeping must read only the compact key tables,
        never re-scan the growing stage tables (the old gate intersected
        EVERY stage table's urls each micro-batch)."""
        from paper_layout_parser_spark.sources.catalog import Catalog
        from paper_layout_parser_spark.streaming.ingest import (
            run_incremental_extraction,
        )

        pages_dir = str(tmp_path / "pages_in")
        cat = Catalog(spark, str(tmp_path / "wh"))
        reads: list[str] = []
        orig_read = Catalog.read
        for name in ("read", "read_keys"):
            monkeypatch.setattr(
                Catalog, name,
                lambda self, table, orig=getattr(Catalog, name):
                    (reads.append(table), orig(self, table))[1],
            )
        stage = [("doc_text", "doc_text", None), ("matched", "matched", None)]

        def slice_docs(lo, hi):
            return small_pages.where(
                F.regexp_extract("url", r"([0-9]+)$", 1).cast("long")
                .between(lo, hi)
            ).coalesce(1)  # one file -> one micro-batch

        # batch 1: fresh warehouse — steady state from the start
        slice_docs(0, 5).write.mode("overwrite").parquet(pages_dir)
        run_incremental_extraction(spark, pages_dir, cat,
                                   str(tmp_path / "ck1"), tables=stage)
        # steady state: no stage table is read, neither for gating nor
        # for anti-joins nor after the write
        assert reads.count("doc_text") == 0 and reads.count("matched") == 0

        # many more batches, corpus growing: stage-table reads per batch
        # stay at 0 regardless of committed size
        for lo in (6, 10, 14):
            reads.clear()
            slice_docs(lo, lo + 3).write.mode("append").parquet(pages_dir)
            run_incremental_extraction(spark, pages_dir, cat,
                                       str(tmp_path / f"ck_{lo}"), tables=stage)
            assert reads.count("doc_text") == 0, reads
            assert reads.count("matched") == 0, reads

        # all-committed re-delivery (fresh stream checkpoint, same files):
        # the gate consults ONLY the committed key table — zero stage reads
        reads.clear()
        run_incremental_extraction(spark, pages_dir, cat,
                                   str(tmp_path / "ck_redeliver"), tables=stage)
        assert reads.count("doc_text") == 0 and reads.count("matched") == 0
        assert any("committed_urls" in t for t in reads)

        # and exactly-once held throughout
        committed = orig_read(cat, "doc_text")
        assert committed.groupBy("url").count().where("count > 1").count() == 0
        assert committed.select("url").distinct().count() == 18

    def test_crash_between_stage_and_committed_append_dedupes(
        self, spark, tmp_path, small_pages, monkeypatch
    ):
        """Kill the job AFTER the stage tables commit but BEFORE the
        committed-key append: the re-delivered batch is flagged by its
        inflight mark and the per-table anti-join safety net dedupes."""
        from paper_layout_parser_spark.sources.catalog import Catalog
        from paper_layout_parser_spark.streaming.ingest import (
            run_incremental_extraction,
        )

        pages_dir = str(tmp_path / "pages_in")
        small_pages.limit(8).coalesce(1).write.mode("overwrite").parquet(pages_dir)
        cat = Catalog(spark, str(tmp_path / "wh"))
        ckpt = str(tmp_path / "ckpt")

        orig_append_keys = Catalog.append_keys

        def crashing_append_keys(self, keys, table):
            if table == "committed_urls":
                raise RuntimeError("simulated crash before committed append")
            return orig_append_keys(self, keys, table)

        monkeypatch.setattr(Catalog, "append_keys", crashing_append_keys)
        with pytest.raises(Exception, match="simulated crash"):
            run_incremental_extraction(spark, pages_dir, cat, ckpt)
        monkeypatch.setattr(Catalog, "append_keys", orig_append_keys)

        # stage data landed, committed mark didn't -> crash window
        assert cat.exists("doc_text") and not cat.exists("committed_urls")
        # resume with the same stream checkpoint: batch re-delivers,
        # inflight flags it, anti-join dedupes
        run_incremental_extraction(spark, pages_dir, cat, ckpt)
        committed = cat.read("doc_text")
        assert committed.select("url").distinct().count() == 8
        assert committed.groupBy("url").count().where("count > 1").count() == 0
        assert cat.has_keys("committed_urls", "doc_text")

    def test_streaming_multi_table_exactly_once(self, spark, tmp_path, small_pages):
        """The streaming ingest honors the same multi-table resume contract
        as the batch job: both tables commit per micro-batch, and
        re-delivered files are no-ops for BOTH."""
        from paper_layout_parser_spark.sources.catalog import Catalog
        from paper_layout_parser_spark.streaming.ingest import (
            run_incremental_extraction,
        )

        pages_dir = str(tmp_path / "pages_in")
        small_pages.limit(8).write.mode("overwrite").parquet(pages_dir)
        cat = Catalog(spark, str(tmp_path / "wh"))
        tables = [("doc_text", "doc_text", None),
                  ("extracted_items", "matched", "page_number")]
        run_incremental_extraction(spark, pages_dir, cat,
                                   str(tmp_path / "ckpt"), tables=tables)
        assert cat.read("doc_text").count() == 8
        n_items = cat.read("extracted_items").count()
        assert n_items > 0
        # re-deliver the same rows as new files -> no duplicates anywhere
        small_pages.limit(8).write.mode("append").parquet(pages_dir)
        run_incremental_extraction(spark, pages_dir, cat,
                                   str(tmp_path / "ckpt"), tables=tables)
        assert cat.read("doc_text").count() == 8
        assert cat.read("extracted_items").count() == n_items

    def test_multi_table_resume_fills_gaps_without_duplicates(
        self, spark, tmp_path, small_pages
    ):
        """A crash between per-table checkpoints must not leave permanent
        gaps: a url committed to doc_text but not to extracted_items /
        doc_stats is reprocessed on the next run, and the already-committed
        table gets no duplicate rows."""
        from paper_layout_parser_spark.sources.catalog import Catalog

        run_job = import_run_job()
        cat = Catalog(spark, str(tmp_path / "wh"))
        pages10 = small_pages.limit(10).persist()

        # simulate a run that died after the doc_text checkpoint
        partial = run_pipeline(pages10)
        cat.checkpoint_stage(partial.doc_text, "doc_text", page_col=None)
        partial.unpersist()
        assert not cat.exists("doc_stats")

        n = run_job(spark, pages10, cat)
        assert n == 10  # all urls still pending (doc_stats missing)
        for t in ("doc_text", "extracted_items", "doc_stats"):
            assert cat.read(t).select("url").distinct().count() == 10
        # the pre-committed table must not have duplicate rows
        assert cat.read("doc_text").groupBy("url").count().where("count > 1").count() == 0

        # fully committed -> second run is a no-op
        assert run_job(spark, pages10, cat) == 0

        # --full: the result.json + crop sinks are still pending, so the
        # urls are reprocessed into the two new tables WITHOUT duplicating
        # the core tables
        assert run_job(spark, pages10, cat, full=True) == 10
        assert cat.read("doc_results").count() == 10
        assert cat.read("crops").select("url").distinct().count() == 10
        assert cat.read("doc_text").groupBy("url").count().where("count > 1").count() == 0
        assert run_job(spark, pages10, cat, full=True) == 0

    def test_second_run_job_is_a_no_op(self, spark, tmp_path):
        """A url counts as committed once its batch commits, whether or not
        it has rows in every table: a second run over a corrupt document
        (a quarantine row only) and a document without a figure or table
        (no extracted item) processes nothing and adds no row and no
        lineage run to any table."""
        import os

        from paper_layout_parser_spark.sources.catalog import Catalog

        run_job = import_run_job()
        no_items = 40   # Title and Text blocks only
        assert not {b["class_name"] for p in sd.doc_pages(no_items)
                    for b in p["blocks"]} & {"Figure", "Table"}
        pages = pages_of(spark, [
            (sd.url_of(1), sd.doc_html(1)),
            (sd.url_of(no_items), sd.doc_html(no_items)),
            ("u_corrupt", CORRUPT_HTML),
        ])
        wh = tmp_path / "wh"
        cat = Catalog(spark, str(wh))
        assert run_job(spark, pages, cat) == 3
        items = {r["url"] for r in cat.read("extracted_items").collect()}
        assert items == {sd.url_of(1)}
        assert [r["url"] for r in cat.read("quarantine").collect()] == ["u_corrupt"]

        def snapshot():
            tables = sorted(os.listdir(wh))
            return (
                {t: cat.read(t).count() for t in tables},
                {t: {r["run_id"] for r in cat.read(t).collect()}
                 for t in tables if t.endswith("__lineage")},
            )

        before = snapshot()
        assert run_job(spark, pages, cat) == 0
        assert snapshot() == before

    def test_ingest_commits_quarantine_once(self, spark, tmp_path, monkeypatch):
        """A corrupt page in a drained file becomes exactly one quarantine
        row, across a crash before the committed-key append and across
        re-delivery of the file."""
        import glob
        import shutil

        from paper_layout_parser_spark.sources.catalog import Catalog
        from paper_layout_parser_spark.streaming.ingest import (
            run_incremental_extraction,
        )

        pages_dir = tmp_path / "pages_in"
        pages_of(spark, [(sd.url_of(1), sd.doc_html(1)),
                         ("u_corrupt", CORRUPT_HTML)]
                 ).coalesce(1).write.parquet(str(pages_dir))
        cat = Catalog(spark, str(tmp_path / "wh"))
        ckpt = str(tmp_path / "ckpt")

        orig_append_keys = Catalog.append_keys

        def crashing_append_keys(self, keys, table):
            if table == "committed_urls":
                raise RuntimeError("simulated crash before committed append")
            return orig_append_keys(self, keys, table)

        monkeypatch.setattr(Catalog, "append_keys", crashing_append_keys)
        with pytest.raises(Exception, match="simulated crash"):
            run_incremental_extraction(spark, str(pages_dir), cat, ckpt)
        monkeypatch.setattr(Catalog, "append_keys", orig_append_keys)
        assert cat.read("quarantine").count() == 1

        run_incremental_extraction(spark, str(pages_dir), cat, ckpt)
        q = cat.read("quarantine").collect()
        assert [(r["url"], r["stage"]) for r in q] == [("u_corrupt", "rasterize")]

        (part,) = glob.glob(str(pages_dir / "*.parquet"))
        shutil.copyfile(part, pages_dir / "redelivered.parquet")
        run_incremental_extraction(spark, str(pages_dir), cat, ckpt)
        assert cat.read("quarantine").count() == 1
        assert cat.read("doc_text").count() == 1

    def test_table_sets_share_one_committed_state(self, spark, tmp_path):
        """Callers with different table sets share one warehouse: run_job
        over A, then --full over A+B, then run_job over A+B. The last
        call finds everything committed, and no table holds a duplicate
        row."""
        from paper_layout_parser_spark.sources.catalog import Catalog

        run_job = import_run_job()
        a = [(sd.url_of(1), sd.doc_html(1)), ("u_corrupt_a", CORRUPT_HTML)]
        b = [(sd.url_of(2), sd.doc_html(2)), ("u_corrupt_b", CORRUPT_HTML)]
        cat = Catalog(spark, str(tmp_path / "wh"))
        assert run_job(spark, pages_of(spark, a), cat) == 2
        assert run_job(spark, pages_of(spark, a + b), cat, full=True) == 4
        assert run_job(spark, pages_of(spark, a + b), cat) == 0
        assert run_job(spark, pages_of(spark, a + b), cat, full=True) == 0

        good = {sd.url_of(1), sd.url_of(2)}
        for t in ("doc_text", "extracted_items", "doc_stats", "doc_results",
                  "crops", "quarantine"):
            df = cat.read(t)
            assert df.count() == df.distinct().count(), t
            want = {"u_corrupt_a", "u_corrupt_b"} if t == "quarantine" else good
            assert {r["url"] for r in df.select("url").collect()} == want, t
        assert cat.read("doc_text").count() == 2
        assert cat.read("quarantine").count() == 2

    def test_ingest_and_run_job_share_one_committed_state(self, spark, tmp_path):
        """The default ingest (doc_text and quarantine) and run_job on one
        warehouse: run_job over A, the ingest over A+B, run_job over A+B.
        The ingest commits only B, run_job then fills only the tables the
        ingest did not write, and a re-delivered ingest adds nothing."""
        from paper_layout_parser_spark.sources.catalog import Catalog
        from paper_layout_parser_spark.streaming.ingest import (
            run_incremental_extraction,
        )

        run_job = import_run_job()
        pages_dir = tmp_path / "pages_in"
        a = [(sd.url_of(1), sd.doc_html(1)), ("u_corrupt_a", CORRUPT_HTML)]
        b = [(sd.url_of(2), sd.doc_html(2)), ("u_corrupt_b", CORRUPT_HTML)]
        pages_of(spark, a).coalesce(1).write.parquet(str(pages_dir / "a"))
        cat = Catalog(spark, str(tmp_path / "wh"))
        assert run_job(spark, spark.read.parquet(str(pages_dir / "a")), cat) == 2
        pages_of(spark, b).coalesce(1).write.parquet(str(pages_dir / "b"))
        for f in ("a", "b"):
            (part,) = (pages_dir / f).glob("*.parquet")
            part.rename(pages_dir / f"{f}.parquet")
        run_incremental_extraction(spark, str(pages_dir), cat,
                                   str(tmp_path / "ck1"))
        assert cat.read("doc_text").count() == 2
        everything = spark.read.parquet(*(str(pages_dir / f"{f}.parquet")
                                          for f in ("a", "b")))
        assert run_job(spark, everything, cat) == 2
        assert run_job(spark, everything, cat) == 0
        run_incremental_extraction(spark, str(pages_dir), cat,
                                   str(tmp_path / "ck2"))

        for t in ("doc_text", "extracted_items", "doc_stats", "quarantine"):
            df = cat.read(t)
            assert df.count() == df.distinct().count(), t
        assert cat.read("doc_text").count() == 2
        assert cat.read("doc_stats").count() == 2
        assert sorted(r["url"] for r in cat.read("quarantine").collect()) == [
            "u_corrupt_a", "u_corrupt_b"]

    def test_run_job_then_corpus_build_quarantine_once(self, spark, tmp_path):
        """run_job and the corpus build on one warehouse commit a corrupt
        page's quarantine row once between them."""
        from paper_layout_parser_spark.plans.corpus_build import (
            build_training_corpus,
        )
        from paper_layout_parser_spark.sources.catalog import Catalog

        run_job = import_run_job()
        pages = pages_of(spark, [(sd.url_of(1), sd.doc_html(1)),
                                 ("u_corrupt", CORRUPT_HTML)])
        cat = Catalog(spark, str(tmp_path / "wh"))
        assert run_job(spark, pages, cat) == 2
        build_training_corpus(pages, lang="und", min_quality=0.0, catalog=cat)
        assert [r["url"] for r in cat.read("quarantine").collect()] == ["u_corrupt"]
        assert cat.read("corpus_extracted").count() == 1
        assert run_job(spark, pages, cat) == 0

    def test_windowed_counts_streaming_equals_batch(self, spark, tmp_path):
        from paper_layout_parser_spark.streaming.ingest import windowed_event_counts

        events = spark.read.parquet(f"{SF_SMALL}/events.parquet")
        batch = {(str(r["window_start"]), r["event_type"]): r["n_events"]
                 for r in windowed_event_counts(events).collect()}

        stream = (
            spark.readStream.schema(events.schema)
            .parquet(f"{SF_SMALL}")
        )
        # restrict to the events file via schema match: instead just stream
        # the one file through a temp dir
        import shutil
        d = str(tmp_path / "ev")
        import os
        os.makedirs(d, exist_ok=True)
        shutil.copy(f"{SF_SMALL}/events.parquet", d)
        stream = spark.readStream.schema(events.schema).parquet(d)
        q = (
            windowed_event_counts(stream)
            .writeStream.outputMode("complete")
            .format("memory").queryName("winout")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {(str(r["window_start"]), r["event_type"]): r["n_events"]
               for r in spark.sql("SELECT * FROM winout").collect()}
        assert got == batch


class TestBatchRollup:
    def test_lossy_per_type_approximation(self, spark):
        from paper_layout_parser_spark.operators.evaluate import batch_per_type_rollup

        # two docs: accuracies 0.6667 (2/3) and 0.5 (1/2) ->
        # reference approx: floor(3*0.6667) + floor(2*0.5) = 2 + 1 = 3
        per_doc = spark.createDataFrame(
            [("u1", "figure", 3, 0.6667), ("u2", "figure", 2, 0.5)],
            "url string, figure_type string, total long, accuracy double",
        )
        got = batch_per_type_rollup(per_doc).collect()[0]
        assert got["total"] == 5
        assert got["approx_correct"] == 3
        assert got["approx_accuracy"] == 0.6

    def test_rollup_sums_match_global(self, spark, out):
        from paper_layout_parser_spark.corpus import build_ground_truth
        from paper_layout_parser_spark.operators.evaluate import (
            batch_rollup,
            compare_matches,
            evaluation_summary,
        )

        matched = out.matched.persist()
        cmp = compare_matches(build_ground_truth(matched), matched).persist()
        global_row = evaluation_summary(cmp).collect()[0]
        rolled = batch_rollup(evaluation_summary(cmp, per_url=True)).collect()[0]
        for k in ("tp", "fp", "fn", "correct_no_caption", "precision", "recall", "f1"):
            assert rolled[k] == global_row[k], k
