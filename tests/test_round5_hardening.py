"""Round-5 hardening: the IVF centroid ceiling lift (broadcast centroid
table, O(1) expression size in C), bit-deterministic training
(scaled-integer means), and the catalog-checkpoint durability contract as
executed code (operators.materialize)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from paper_layout_parser_spark.operators import dedup as dd
from paper_layout_parser_spark.operators import similarity as sim
from paper_layout_parser_spark.operators.temporal import interval_join
from paper_layout_parser_spark.sources.catalog import Catalog

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _ts(s):
    return dt.datetime(2020, 1, 1) + dt.timedelta(seconds=s)


class TestIvfCentroidScale:
    """assign_cluster inlined every centroid as expression literals — C x
    dim tree nodes, which chokes Catalyst at the nlist ~ sqrt(N) a real
    100 TB IVF needs. assign_clusters ships the table as a one-row
    broadcast frame instead: these tests pin (a) parity with the legacy
    expression at C=16, (b) correctness at C=256 vs an independent numpy
    argmax, (c) plan size independent of C."""

    def test_parity_with_legacy_expression_c16(self, emb):
        cents = sim.train_ivf_centroids(emb, 16, max_iter=2, init_hash="md5")
        legacy = {
            r["vec_id"]: r["c"] for r in emb.select(
                "vec_id",
                sim.assign_cluster(F.col("embedding"), cents).alias("c"),
            ).collect()
        }
        new = {
            r["vec_id"]: r["cluster"] for r in sim.assign_clusters(
                emb.select("vec_id", "embedding"), cents
            ).select("vec_id", "cluster").collect()
        }
        assert legacy == new

    def test_c256_matches_numpy_argmax(self, emb):
        import numpy as np

        cents = [[((i * 31 + j * 7) % 13 - 6) / 3.0 for j in range(64)]
                 for i in range(256)]
        got = {
            r["vec_id"]: r["cluster"] for r in sim.assign_clusters(
                emb.select("vec_id", "embedding"), cents
            ).collect()
        }
        C = np.array(cents)
        cn = np.sqrt((C * C).sum(axis=1))
        cn[cn == 0] = 1.0
        rows = emb.select("vec_id", "embedding").collect()
        for r in rows:
            v = np.array(r["embedding"], dtype=np.float64)
            cos = (C @ v) / (np.linalg.norm(v) * cn)
            assert got[r["vec_id"]] == int(np.argmax(cos)), r["vec_id"]

    def test_plan_size_independent_of_c(self, emb):
        """The centroid table must live in the broadcast relation, not the
        expression tree: the optimized plan at C=256 may not be
        meaningfully larger than at C=16 (the legacy literal expression
        grows 16x)."""
        def plan_len(n):
            cents = [[float((i + j) % 5) for j in range(64)] for i in range(n)]
            df = sim.assign_clusters(emb.select("vec_id", "embedding"), cents)
            return len(df._jdf.queryExecution().optimizedPlan().toString())

        small, large = plan_len(16), plan_len(256)
        assert large < small * 1.5, (small, large)

    def test_training_invariant_to_partitioning(self, emb):
        """THE determinism claim behind the ann_ivf oracle: mean updates
        aggregate integer element sums, so repartitioning (= a different
        reduction order) cannot perturb a single bit. A double avg() fails
        this on real data."""
        a = sim.train_ivf_centroids(emb.repartition(1), 8, max_iter=3,
                                    init_hash="md5")
        b = sim.train_ivf_centroids(emb.repartition(13), 8, max_iter=3,
                                    init_hash="md5")
        assert a == b


class TestCatalogMaterializationContract:
    """Every LSH-table/left-join materialization documented 'on a
    cluster, checkpoint to the catalog instead' — this is that contract
    as executed code: checkpoint=Catalog must produce identical results
    to the localCheckpoint fast path, with the intermediates committed as
    real catalog tables."""

    def test_minhash_lsh_pairs_via_catalog(self, spark, tmp_path):
        docs = spark.read.parquet(f"{SF}/documents.parquet").select(
            "doc_id", "text")
        cat = Catalog(spark, str(tmp_path))
        base = {(r["id_a"], r["id_b"], r["jaccard"]) for r in
                dd.minhash_lsh_pairs(docs, threshold=0.5,
                                     hash_family="md5").collect()}
        via = {(r["id_a"], r["id_b"], r["jaccard"]) for r in
               dd.minhash_lsh_pairs(docs, threshold=0.5, hash_family="md5",
                                    checkpoint=cat).collect()}
        assert base == via
        mats = [p.name for p in tmp_path.iterdir() if p.name.startswith("__mat_")]
        assert any("minhash_sigs" in m for m in mats), mats
        assert any("shingle_sets" in m for m in mats), mats

    def test_interval_join_left_via_catalog(self, spark, tmp_path):
        points = spark.createDataFrame(
            [(i, "u" if i % 3 else "v", _ts(i * 7)) for i in range(60)],
            "event_id long, user_id string, ts timestamp",
        )
        intervals = spark.createDataFrame(
            [("u", _ts(0), _ts(50), 1), ("u", _ts(100), _ts(200), 2),
             ("v", _ts(40), _ts(400), 3)],
            "user_id string, start timestamp, end timestamp, iv_id long",
        )
        cat = Catalog(spark, str(tmp_path))
        base = {(r["event_id"], r["iv_id"]) for r in
                interval_join(points, intervals, on=["user_id"],
                              bucket_seconds=60, how="left").collect()}
        via = {(r["event_id"], r["iv_id"]) for r in
               interval_join(points, intervals, on=["user_id"],
                             bucket_seconds=60, how="left",
                             checkpoint=cat).collect()}
        assert base == via
        mats = [p.name for p in tmp_path.iterdir() if p.name.startswith("__mat_")]
        assert any("interval_points" in m for m in mats), mats
        assert any("interval_joined" in m for m in mats), mats

    def test_interval_join_left_caller_id_skips_checkpoint(self, spark):
        """A caller-supplied unique id makes the left path fully lazy —
        no synthetic id, no eager job at call time (ADVICE r4) — with
        identical results and no internal column leaking out."""
        points = spark.createDataFrame(
            [(i, "u", _ts(i * 30)) for i in range(20)],
            "event_id long, user_id string, ts timestamp",
        )
        intervals = spark.createDataFrame(
            [("u", _ts(0), _ts(100), 1), ("u", _ts(90), _ts(240), 2)],
            "user_id string, start timestamp, end timestamp, iv_id long",
        )
        base = {(r["event_id"], r["iv_id"]) for r in
                interval_join(points, intervals, on=["user_id"],
                              bucket_seconds=60, how="left").collect()}
        out = interval_join(points, intervals, on=["user_id"],
                            bucket_seconds=60, how="left",
                            id_col="event_id")
        assert "__pid" not in out.columns
        assert {(r["event_id"], r["iv_id"]) for r in out.collect()} == base

    def test_srp_topk_via_catalog(self, spark, emb, tmp_path):
        cat = Catalog(spark, str(tmp_path))
        queries = emb.where(F.col("vec_id") % 50 == 0)
        base = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in
                sim.lsh_topk(emb, queries, k=5).collect()}
        via = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in
               sim.lsh_topk(emb, queries, k=5, checkpoint=cat).collect()}
        assert base == via


class TestAsofHotKeyRanges:
    """hot_key_ranges=N splits each key's timeline into N window
    partitions with boundary carry-over seed rows — results must be
    IDENTICAL to the unsplit window in both directions, under NULL
    keys/timestamps, equal-timestamp boundary collisions, and ranges with
    no right rows (gap carry)."""

    @pytest.fixture(scope="class")
    def frames(self, spark):
        import random

        random.seed(1234)
        left = spark.createDataFrame(
            [(i, "h" if i % 2 else f"u{i % 5}",
              _ts(random.randint(0, 5000))) for i in range(600)]
            + [(9001, None, _ts(10)), (9002, "h", None)],
            "event_id long, user_id string, ts timestamp",
        )
        right = spark.createDataFrame(
            [("h" if i % 3 else f"u{i % 5}",
              _ts(random.randint(0, 5000)), float(i)) for i in range(250)]
            + [(None, _ts(5), -1.0), ("h", None, -2.0)],
            "user_id string, ts timestamp, payload double",
        ).groupBy("user_id", "ts").agg(F.max("payload").alias("payload"))
        return left, right

    @pytest.mark.parametrize("direction", ["backward", "forward"])
    def test_parity_with_unsplit(self, frames, direction):
        from paper_layout_parser_spark.operators.temporal import asof_join

        left, right = frames
        base = {(r["event_id"], r["payload_r"]) for r in
                asof_join(left, right, on=["user_id"],
                          direction=direction).collect()}
        for n in (2, 8, 50):
            split = {(r["event_id"], r["payload_r"]) for r in
                     asof_join(left, right, on=["user_id"],
                               direction=direction,
                               hot_key_ranges=n).collect()}
            assert split == base, (direction, n)

    def test_window_partitioned_by_range(self, frames):
        """The split must actually reach the physical plan: the window's
        partition spec carries __rng next to the join keys."""
        from paper_layout_parser_spark.operators.temporal import asof_join

        left, right = frames
        plan = asof_join(left, right, on=["user_id"], hot_key_ranges=4) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "__rng" in plan.split("Window")[1][:400]


class TestGlyphText:
    """Round 5 closes the last reference-output gap: label/legend TEXT is
    now painted (5x7 bitmap font) instead of gated behind the cv2 seam.
    These tests decode the PNGs and read the glyph pixels back."""

    def _expect_region(self, img, x, y, text, ink, bg):
        """Assert img[y:y+7, x:...] equals the font rasterization of
        ``text`` in color ``ink`` over background ``bg``."""
        import numpy as np

        from paper_layout_parser_spark.operators.bitmapfont import (
            ADVANCE,
            FONT_H,
            FONT_W,
            glyph_mask,
        )

        for i, ch in enumerate(text):
            gx = x + i * ADVANCE
            region = img[y:y + FONT_H, gx:gx + FONT_W]
            mask = glyph_mask(ch)
            want = np.where(mask[..., None], np.array(ink, np.uint8),
                            np.array(bg, np.uint8))
            assert (region == want).all(), (ch, i)

    def test_overlay_label_glyphs(self, spark):
        from paper_layout_parser_spark.operators.visualization import (
            draw_spec,
            paint_overlays,
        )

        from .helpers import decode_png_rgb

        det = spark.createDataFrame(
            [("u", 1, 0, "Figure", 0.95, 100., 200., 300., 400.)],
            "url string, page_no int, det_idx int, class_name string, "
            "confidence double, x1 double, y1 double, x2 double, y2 double",
        )
        row = paint_overlays(draw_spec(det), page_w=1224, page_h=1584,
                             scale=0.25).collect()[0]
        img = decode_png_rgb(bytes(row["overlay_png"]))
        # box top at y=50; label bar rows 39..50 in Figure green, white
        # glyph text "Figure 0.95" inset by pad=2 (renderer.py geometry)
        green, white = (0, 255, 0), (255, 255, 255)
        assert tuple(img[40, 26]) == green          # bar background
        self._expect_region(img, 27, 42, "Figure 0.95", white, green)

    def test_unknown_glyph_is_visible_box(self):
        import numpy as np

        from paper_layout_parser_spark.operators.bitmapfont import (
            draw_text,
            glyph_mask,
        )

        assert glyph_mask("é").all(axis=1)[0]  # hollow box: full top row
        img = np.zeros((7, 5, 3), np.uint8)
        draw_text(img, 0, 0, "é", (9, 9, 9))
        assert (img[0] == 9).all() and (img[3, 1:4] == 0).all()

    def test_draw_text_clips_at_edges(self):
        import numpy as np

        from paper_layout_parser_spark.operators.bitmapfont import draw_text

        img = np.zeros((10, 10, 3), np.uint8)
        draw_text(img, -3, -2, "XX", (1, 1, 1))   # off top-left
        draw_text(img, 8, 8, "XX", (1, 1, 1))     # off bottom-right
        # no exception, and SOME ink landed from each partially-visible run
        assert img.any()


class TestReviewHardening:
    """Round-5 code-review fixes: contracts that silently corrupted
    results now fail fast or propagate NULL."""

    def test_interval_join_null_id_raises_in_plan(self, spark):
        from paper_layout_parser_spark.operators.temporal import interval_join

        points = spark.createDataFrame(
            [(1, "u", _ts(10)), (None, "u", _ts(20))],
            "pk long, user_id string, ts timestamp",
        )
        intervals = spark.createDataFrame(
            [("u", _ts(0), _ts(100), 7)],
            "user_id string, start timestamp, end timestamp, iv_id long",
        )
        # the left path materializes the bucketed join at call time, so
        # the in-plan guard may fire at construction OR at collect
        with pytest.raises(Exception, match="contains NULLs"):
            interval_join(points, intervals, on=["user_id"],
                          bucket_seconds=60, how="left",
                          id_col="pk").collect()

    def test_asof_hot_key_ranges_rejects_string_ts(self, spark):
        from paper_layout_parser_spark.operators.temporal import asof_join

        left = spark.createDataFrame(
            [(1, "u", "2026-01-01T00:00:05")],
            "event_id long, user_id string, ts string")
        right = spark.createDataFrame(
            [("u", "2026-01-01T00:00:01", 1.0)],
            "user_id string, ts string, v double")
        with pytest.raises(TypeError, match="string"):
            asof_join(left, right, on=["user_id"], hot_key_ranges=4)

    def test_asof_hot_key_bounds_skips_probe_and_matches(self, spark):
        """Caller-supplied bounds: identical results (any affine grid is
        correct), even deliberately wrong/narrow bounds."""
        from paper_layout_parser_spark.operators.temporal import asof_join

        left = spark.createDataFrame(
            [(i, "u", _ts(i * 13)) for i in range(120)],
            "event_id long, user_id string, ts timestamp")
        right = spark.createDataFrame(
            [("u", _ts(i * 29), float(i)) for i in range(60)],
            "user_id string, ts timestamp, v double")
        base = {(r["event_id"], r["v_r"]) for r in
                asof_join(left, right, on=["user_id"]).collect()}
        epoch0 = int(_ts(0).timestamp())
        for lo, hi in [(epoch0, epoch0 + 120 * 13),
                       (epoch0 + 500, epoch0 + 600)]:   # wrong on purpose
            got = {(r["event_id"], r["v_r"]) for r in
                   asof_join(left, right, on=["user_id"], hot_key_ranges=8,
                             hot_key_bounds=(lo, hi)).collect()}
            assert got == base, (lo, hi)

    def test_host_sql_twin_shared_and_userinfo_correct(self, spark):
        """ONE host regex twin: canonical_url_sql and cap_per_host_sql
        must both strip credentials exactly like Spark's parse_url."""
        import duckdb

        from paper_layout_parser_spark.functions.url import (
            canonical_url,
            canonical_url_sql,
            url_host,
            url_host_sql,
        )
        urls = ["http://user:pw@Host.COM:80/Path/?utm_a=1&b=2",
                "https://plain.example.org/x"]
        sdf = spark.createDataFrame([(u,) for u in urls], "url string").select(
            url_host(F.col("url")).alias("h"),
            canonical_url(F.col("url")).alias("c"))
        srows = {r["h"]: r["c"] for r in sdf.collect()}
        con = duckdb.connect()
        for u in urls:
            h, c = con.sql(
                f"SELECT {url_host_sql('url')}, {canonical_url_sql('url')} "
                f"FROM (SELECT '{u}' AS url)").fetchone()
            assert h in srows and srows[h] == c, (u, h, c, srows)
