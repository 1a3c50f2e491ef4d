"""Round-4 hardening: IVF training sample knob, engine-portable (md5)
hash families for MinHash/SimHash, exact_dedup(verify) cache hygiene,
dedup_lines NULL-text contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from paper_layout_parser_spark.operators import dedup as dd
from paper_layout_parser_spark.operators import similarity as sim

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")


class TestIvfSampling:
    def test_training_scans_only_the_sample(self, emb):
        from paper_layout_parser_spark.operators.curation import (
            hex_bound,
            salted_h8,
        )

        frac = 0.4
        h8 = salted_h8("plp-ivf", "vec_id")
        expected = emb.where(h8 < F.lit(hex_bound(frac))).count()
        total = emb.count()
        assert 0 < expected < total  # the knob actually excludes rows
        # the training sample is exactly the deterministic hex-threshold
        # subset — train on it directly and via the knob; identical result
        direct = sim.train_ivf_centroids(
            emb.where(h8 < F.lit(hex_bound(frac))), num_centroids=8,
            max_iter=2,
        )
        via_knob = sim.train_ivf_centroids(
            emb, num_centroids=8, max_iter=2, sample_fraction=frac,
        )
        assert direct == via_knob

    def test_recall_with_sampled_training(self, spark):
        """Training on HALF the corpus (deterministic hex-threshold sample)
        keeps the nprobe-3/8 recall within noise of full-corpus training —
        the knob changes WHERE the centroids come from, not the recall
        regime. (Near-uniform random embeddings are IVF's hardest case, so
        the absolute recall here is inherently modest; the invariant that
        matters is the full-vs-sampled delta.)"""
        emb = spark.read.parquet(
            "/root/testdata/sf0.1/embeddings.parquet"
        ).persist()
        queries = emb.where(F.col("vec_id") % 100 == 0)
        exact = {
            (r["query_id"], r["neighbor_id"])
            for r in sim.brute_force_topk(emb, queries, k=5).collect()
        }

        def recall(frac: float) -> float:
            got = {
                (r["query_id"], r["neighbor_id"])
                for r in sim.ivf_topk(emb, queries, k=5, num_centroids=8,
                                      nprobe=3, sample_fraction=frac).collect()
            }
            return len(exact & got) / len(exact)

        full, sampled = recall(1.0), recall(0.5)
        emb.unpersist()
        assert sampled >= 0.5
        assert sampled >= full - 0.15

    def test_full_probe_with_sampled_training_is_exact(self, emb):
        """Probing every list recovers the exact result REGARDLESS of how
        the centroids were trained — the sharp proof that sample_fraction
        touches only training, never assignment coverage."""
        queries = emb.where(F.col("vec_id") % 50 == 0)
        exact = {
            (r["query_id"], r["neighbor_id"])
            for r in sim.brute_force_topk(emb, queries, k=5).collect()
        }
        full_probe = {
            (r["query_id"], r["neighbor_id"])
            for r in sim.ivf_topk(emb, queries, k=5, num_centroids=8,
                                  nprobe=8, sample_fraction=0.5).collect()
        }
        assert full_probe == exact


class TestPortableHashFamilies:
    def test_minhash_md5_recall_vs_exact_jaccard(self, docs):
        true_pairs = {
            (r["id_a"], r["id_b"])
            for r in dd.jaccard_pairs(docs, threshold=0.5).collect()
        }
        got = {
            (r["id_a"], r["id_b"])
            for r in dd.minhash_lsh_pairs(docs, threshold=0.5,
                                          hash_family="md5").collect()
        }
        # precision 1.0 (candidates are exact-verified) and high recall
        assert got <= true_pairs
        if true_pairs:
            assert len(got) / len(true_pairs) >= 0.8

    def test_simhash_families_agree_on_identical_texts(self, spark):
        df = spark.createDataFrame(
            [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
             (3, "zeta eta theta iota")],
            "doc_id long, text string",
        )
        for fam in ("xxhash64", "md5"):
            pairs = {(r["id_a"], r["id_b"]): r["hamming"]
                     for r in dd.simhash_pairs(df, max_hamming=0,
                                               hash_family=fam).collect()}
            assert pairs == {(1, 2): 0}, fam

    def test_simhash_band_values_reconstruct_simhash64(self, docs):
        """The banded v0..v3 representation carries the same bits as the
        64-bit word (sign-safe decomposition, no information loss)."""
        sample = docs.limit(20)
        sims = {r["doc_id"]: r["simhash"]
                for r in dd.simhash64(sample).collect()}
        sums = dd._simhash_bit_sums(sample, "doc_id", "text", "xxhash64")
        import functools

        def band_value(b):
            return functools.reduce(
                lambda a, c: a + c,
                [F.when(F.col(f"b{16 * b + j}") > 0, F.lit(1 << j))
                 .otherwise(0) for j in range(16)],
            )

        bands = {r["doc_id"]: [r[f"v{b}"] for b in range(4)]
                 for r in sums.select(
                     "doc_id",
                     *[band_value(b).alias(f"v{b}") for b in range(4)]
                 ).collect()}
        for doc_id, word in sims.items():
            rebuilt = 0
            for b, v in enumerate(bands[doc_id]):
                rebuilt |= v << (16 * b)
            # compare as unsigned 64-bit
            assert rebuilt == word & 0xFFFFFFFFFFFFFFFF

    def test_unknown_family_raises(self, spark):
        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        with pytest.raises(ValueError):
            dd.minhash_lsh_pairs(df, hash_family="fnv")
        with pytest.raises(ValueError):
            dd.simhash64(df, hash_family="fnv")


class TestDedupHygiene:
    def test_exact_dedup_verify_releases_cache(self, spark, docs):
        before = spark._jsparkSession.sharedState().cacheManager().isEmpty()
        out = dd.exact_dedup(docs, verify=True)
        assert out.count() == docs.select("text").distinct().count()
        after = spark._jsparkSession.sharedState().cacheManager().isEmpty()
        # nothing newly pinned by the verify path
        assert after == before

    def test_dedup_lines_null_text_keeps_row(self, spark):
        df = spark.createDataFrame(
            [(1, "keep\nme"), (2, None), (3, "")],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in
                dd.dedup_lines(df, max_occurrences=5).collect()}
        assert set(rows) == {1, 2, 3}  # one row per input document
        assert rows[2]["clean_text"] == ""
        assert rows[2]["n_lines_kept"] == 1  # the single empty line


class TestRegistryContract:
    """The driver's correctness gate records at most 50 queries in dict
    order (round 3 silently dropped the 51st) — the registry must stay at
    exactly 50 entries with every oracle-checked query ahead of the
    rows-only tail."""

    def test_exactly_50_queries_oracle_first(self):
        import __spark_entry__ as e

        qs = list(e.queries())
        oracles = set(e.oracle_sql())
        assert len(qs) == 50
        assert oracles <= set(qs)
        # no oracle-checked query may sit behind a rows-only one
        seen_rows_only = False
        for name in qs:
            if name in oracles:
                assert not seen_rows_only, (
                    f"{name} is oracle-checked but ordered after a "
                    "rows-only query — a driver cap would drop it first"
                )
            else:
                seen_rows_only = True
        # r6 rotation: sketch_stats_approx retired, token_count merged
        # into quality, host_cap + registrable_domain seated — every
        # registry query now has an oracle
        assert len(oracles) == 50
        assert "host_cap" in oracles and "registrable_domain" in oracles
        # r7 rotation: split + sample (both md5-hex-threshold projections
        # of one scan) merged into split_sample, seating span_dedup
        assert "span_dedup" in oracles and "split_sample" in oracles
