"""Round-8 hardening: brute_force_topk's zero-norm and NULL-query
degenerate-cosine contract, and the catalog-materialized span-coverage
twin (r7 verdict item 3)."""

from __future__ import annotations

from pyspark.sql import functions as F

SF_SMALL = "/root/testdata/sf0.001"


class TestZeroNormContract:
    def test_zero_norm_candidate_ranks_last(self, spark):
        """A zero-norm candidate's cosine is 0/0 -> NULL ->
        _sanitize_cos -> -inf: it ranks last, even below a finite
        negative-cosine candidate (a score of 0 would outrank that one)."""
        from paper_layout_parser_spark.operators.similarity import (
            brute_force_topk,
        )

        emb = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.9, 0.1]),
             (2, [-1.0, 0.0]),          # finite negative cosine
             (3, [0.0, 0.0])],          # zero-norm candidate
            "vec_id long, embedding array<double>")
        q = emb.where("vec_id = 0")
        got = [(r["rank"], r["neighbor_id"], r["cos"])
                  for r in brute_force_topk(emb, q, k=3)
                  .orderBy("rank").collect()]
        assert [t[1] for t in got] == [1, 2, 3]
        assert got[-1][2] == float("-inf")

    def test_zero_norm_query_scores_every_candidate_neg_inf(self, spark):
        """A zero-norm QUERY degenerates every cosine to -inf: the full
        candidate set comes back at -inf in id order."""
        from paper_layout_parser_spark.operators.similarity import (
            brute_force_topk,
        )

        emb = spark.createDataFrame(
            [(0, [0.0, 0.0]), (1, [0.9, 0.1]), (2, [-1.0, 0.0]),
             (3, [0.3, 0.7])],
            "vec_id long, embedding array<double>")
        q = emb.where("vec_id = 0")
        got = [(r["rank"], r["neighbor_id"], r["cos"])
                  for r in brute_force_topk(emb, q, k=3)
                  .orderBy("rank").collect()]
        assert [t[1] for t in got] == [1, 2, 3]     # id tie-break
        assert all(t[2] == float("-inf") for t in got)

    def test_null_query_contracts_pinned(self, spark):
        """A NULL-embedding QUERY gets all-(-inf)-cos rows in candidate
        id order: degenerate but well-formed output."""
        from paper_layout_parser_spark.operators.similarity import (
            brute_force_topk,
        )

        emb = spark.createDataFrame(
            [(1, [0.9, 0.1]), (2, [-1.0, 0.0]), (3, [0.3, 0.7])],
            "vec_id long, embedding array<double>")
        null_q = spark.createDataFrame(
            [(9, None)], "vec_id long, embedding array<double>")
        rows = (brute_force_topk(emb, null_q, k=3)
                .orderBy("rank").collect())
        assert [r["neighbor_id"] for r in rows] == [1, 2, 3]
        assert all(r["cos"] == float("-inf") for r in rows)


class TestSpanDedupCatalogTwin:
    def test_checkpoint_catalog_matches_default(self, spark, tmp_path):
        """remove_duplicate_spans(checkpoint=<Catalog>) swaps the
        coverage set's localCheckpoint for a durable catalog table
        (the materialize both-ways contract, twin-tested for
        minhash_lsh_pairs and interval_join since r5 but never executed
        for span dedup — r7 verdict item 3). Same planted corpus both
        ways, outputs compared row-for-row."""
        from paper_layout_parser_spark.operators.dedup import (
            remove_duplicate_spans,
        )
        from paper_layout_parser_spark.sources.catalog import Catalog

        plant = ("please subscribe to our newsletter today for free "
                 "updates and exclusive member only offers")
        docs = (spark.read.parquet(f"{SF_SMALL}/documents.parquet")
                .select("doc_id", F.expr(
                    "CASE WHEN doc_id % 3 = 0 AND text IS NOT NULL "
                    f"THEN concat(text, ' ', '{plant}') "
                    "ELSE text END").alias("text")))

        def rows(checkpoint):
            out = remove_duplicate_spans(docs, n=5, checkpoint=checkpoint)
            return {r["doc_id"]: (r["deduped_text"], r["n_tokens_removed"])
                    for r in out.collect()}

        default = rows(None)
        catalog = rows(Catalog(spark, str(tmp_path / "wh")))
        assert default == catalog
        # the plant actually bound: some doc lost tokens both ways
        assert any(n > 0 for _, n in default.values())
        # and the catalog run left a durable __mat_span_coverage table
        import glob
        mats = glob.glob(str(tmp_path / "wh" / "__mat_span_coverage_*"))
        assert mats, "coverage set was not materialized through the catalog"
