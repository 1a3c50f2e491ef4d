"""Training-data operator tests: dedup strategies, similarity search,
text analysis, catalog resume — correctness vs numpy/python oracles
plus recall of the approximate paths against their exact twins."""

import glob
import os
import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from paper_layout_parser_spark.operators import dedup as dd
from paper_layout_parser_spark.operators import similarity as sim

from .conftest import SF_SMALL


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_SMALL}/documents.parquet").persist()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").persist()


class TestDedup:
    def test_exact_dedup_counts(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c"), (2, "a b c"), (3, "x y z")], "doc_id long, text string"
        )
        got = {r["keep_id"]: r["n_copies"] for r in dd.exact_dedup(df).collect()}
        assert got == {1: 2, 3: 1}
        # verified path: same answer, collision audit passes
        got_v = {r["keep_id"]: r["n_copies"]
                 for r in dd.exact_dedup(df, verify=True).collect()}
        assert got_v == got

    def test_exact_dedup_and_clean_corpus_sha2_knob(self, spark):
        """The paranoid-path hash substitution produces identical results
        (sha2 key, same plan shape) in both exact_dedup and the curation
        funnel's duplicate rule."""
        from paper_layout_parser_spark.operators.curation import clean_corpus

        df = spark.createDataFrame(
            [(1, "same same"), (2, "same same"), (3, "other text")],
            "doc_id long, text string",
        )
        sha = lambda c: F.sha2(c, 256)  # noqa: E731
        base = {r["keep_id"]: r["n_copies"] for r in dd.exact_dedup(df).collect()}
        got = {r["keep_id"]: r["n_copies"]
               for r in dd.exact_dedup(df, hash_fn=sha).collect()}
        assert got == base == {1: 2, 3: 1}
        a = {r["doc_id"]: r["drop_reason"]
             for r in clean_corpus(df, min_quality=0.0, lang="und").collect()}
        b = {r["doc_id"]: r["drop_reason"]
             for r in clean_corpus(df, min_quality=0.0, lang="und",
                                   dup_hash=sha).collect()}
        assert a == b and b[2] == "duplicate"

    def test_jaccard_pairs_vs_python(self, spark, docs):
        got = {(r.id_a, r.id_b): r.jaccard
               for r in dd.jaccard_pairs(docs, threshold=0.2).collect()}
        rows = docs.select("doc_id", "text").collect()
        shing = {}
        for r in rows:
            w = r["text"].split()
            shing[r["doc_id"]] = {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}
        import math
        expected = {}
        ids = sorted(shing)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                sa, sb = shing[a], shing[b]
                if not sa or not sb:
                    continue
                j = len(sa & sb) / len(sa | sb)
                if j >= 0.2:
                    expected[(a, b)] = math.floor(j * 1e6 + 0.5) / 1e6
        assert got == expected
        assert len(got) > 0  # corpus does contain near-dupes

    def test_minhash_lsh_recall(self, spark, docs):
        exact = {(r.id_a, r.id_b)
                 for r in dd.jaccard_pairs(docs, threshold=0.5).collect()}
        lsh = {(r.id_a, r.id_b)
               for r in dd.minhash_lsh_pairs(docs, threshold=0.5).collect()}
        assert lsh <= exact            # precision 1.0 (verified candidates)
        assert len(lsh) >= 0.9 * len(exact)  # recall at J>=0.5

    def test_lsh_cluster_recall_vs_exact(self, spark, docs):
        """Production composition (minhash_lsh_pairs -> duplicate_clusters)
        recovers the exact-Jaccard clustering: co-clustered pairs at J>=0.5
        are found with high recall, and LSH never merges docs the exact
        clustering keeps apart (verified candidates -> precision 1.0)."""
        from itertools import combinations

        ids = docs.select("doc_id")
        exact_pairs = dd.jaccard_pairs(docs, threshold=0.5).select("id_a", "id_b")
        lsh_pairs = dd.minhash_lsh_pairs(docs, threshold=0.5).select("id_a", "id_b")

        def co_clustered(pairs):
            rows = dd.duplicate_clusters(pairs, docs=ids).collect()
            by_cluster = {}
            for r in rows:
                by_cluster.setdefault(r["cluster_id"], []).append(r["doc_id"])
            return {frozenset(p) for members in by_cluster.values()
                    for p in combinations(sorted(members), 2)}

        exact_cc = co_clustered(exact_pairs)
        lsh_cc = co_clustered(lsh_pairs)
        assert exact_cc, "corpus must contain duplicate clusters"
        assert lsh_cc <= exact_cc                    # never over-merges
        recall = len(lsh_cc & exact_cc) / len(exact_cc)
        assert recall >= 0.9, f"cluster recall {recall:.3f}"

    def test_duplicate_clusters_transitive(self, spark):
        """Connected components: transitive chains collapse to the minimum
        id even for pairs never emitted directly; singletons keep their own
        id. A 10-node chain converges via pointer jumping."""
        chain = [(i, i + 1) for i in range(1, 10)]          # 1-2-...-10
        extra = [(20, 21), (21, 22), (40, 41)]
        pairs = spark.createDataFrame(chain + extra, "id_a long, id_b long")
        docs = spark.createDataFrame([(i,) for i in
                                      list(range(1, 11)) + [20, 21, 22, 30, 40, 41]],
                                     "doc_id long")
        got = {r["doc_id"]: r["cluster_id"] for r in
               dd.duplicate_clusters(pairs, docs=docs).collect()}
        assert all(got[i] == 1 for i in range(1, 11))
        assert got[20] == got[21] == got[22] == 20
        assert got[40] == got[41] == 40
        assert got[30] == 30  # singleton

    def test_dedup_lines_corpus_boilerplate(self, spark):
        """Lines repeated across the corpus beyond the cap are dropped from
        EVERY doc; order of surviving lines is preserved; a fully-
        boilerplate doc keeps its row with empty text."""
        rows = [
            (1, "unique alpha\nSHARE\ncontent one\nSHARE"),
            (2, "SHARE\ncontent two"),
            (3, "content three\nSHARE"),
            (4, "SHARE"),                      # nothing survives
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in
               dd.dedup_lines(df, max_occurrences=2).collect()}
        assert got[1]["clean_text"] == "unique alpha\ncontent one"
        assert got[1]["n_lines_kept"] == 2 and got[1]["n_lines_dropped"] == 2
        assert got[2]["clean_text"] == "content two"
        assert got[3]["clean_text"] == "content three"
        assert got[4]["clean_text"] == ""
        assert got[4]["n_lines_kept"] == 0 and got[4]["n_lines_dropped"] == 1
        # under the cap nothing is touched
        loose = {r["doc_id"]: r["clean_text"] for r in
                 dd.dedup_lines(df, max_occurrences=10).collect()}
        assert loose == {r[0]: r[1] for r in rows}

    def test_dedup_lines_preserves_blank_lines(self, spark):
        """Blank lines are corpus-wide 'duplicates' by count but must be
        EXEMPT (min_line_chars) — otherwise every paragraph break in the
        corpus collapses."""
        df = spark.createDataFrame(
            [(1, "para one\n\npara two"), (2, "intro\n\noutro")],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in
               dd.dedup_lines(df, max_occurrences=1).collect()}
        assert got[1]["clean_text"] == "para one\n\npara two"
        assert got[2]["clean_text"] == "intro\n\noutro"
        assert all(r["n_lines_dropped"] == 0 for r in got.values())
        # the exemption is by LENGTH, not emptiness: short separators too
        df2 = spark.createDataFrame(
            [(1, "a\n--\nb"), (2, "c\n--\nd")], "doc_id long, text string"
        )
        kept = {r["doc_id"]: r["clean_text"] for r in
                dd.dedup_lines(df2, max_occurrences=1,
                               min_line_chars=3).collect()}
        assert kept == {1: "a\n--\nb", 2: "c\n--\nd"}

    def test_top_ngram_char_fraction_vs_python(self, spark):
        from collections import Counter

        from paper_layout_parser_spark.operators.curation import (
            top_ngram_char_fraction,
        )

        rows = [(1, "buy now buy now buy now limited offer"),
                (2, "a b c d e f")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in top_ngram_char_fraction(df, 2).collect()}
        for doc_id, text in rows:
            w = text.split()
            grams = Counter(" ".join(w[i:i + 2]) for i in range(len(w) - 1))
            best_cnt = max(grams.values())
            best = min(g for g, c in grams.items() if c == best_cnt)
            r = got[doc_id]
            assert r["top_ngram"] == best and r["top_ngram_count"] == best_cnt
            import math
            exp = math.floor(best_cnt * len(best) / len(text) * 1e6 + 0.5) / 1e6
            assert r["top_ngram_char_fraction"] == exp
        assert got[1]["top_ngram"] == "buy now" and got[1]["top_ngram_count"] == 3

    def test_assign_split_deterministic_and_stable(self, spark, docs):
        """Reproducible splits: proportions roughly honor the weights,
        assignment is identical across runs, changing the salt re-rolls,
        and adding documents never moves existing assignments."""
        import hashlib

        from paper_layout_parser_spark.operators.curation import assign_split

        ids = docs.select("doc_id")
        a = {r["doc_id"]: r["split"] for r in assign_split(ids).collect()}
        b = {r["doc_id"]: r["split"] for r in assign_split(ids).collect()}
        assert a == b
        n = len(a)
        frac_train = sum(1 for v in a.values() if v == "train") / n
        assert 0.8 < frac_train < 0.97
        assert set(a.values()) <= {"train", "val", "test"}
        # python twin: the assignment IS md5-threshold comparison
        for doc_id, split in list(a.items())[:20]:
            h8 = hashlib.md5(f"plp:{doc_id}".encode()).hexdigest()[:8]
            exp = ("train" if h8 < format(int(0.9 * 16 ** 8), "08x")
                   else "val" if h8 < format(int(0.95 * 16 ** 8), "08x")
                   else "test")
            assert split == exp, (doc_id, h8)
        # salt re-rolls
        c = {r["doc_id"]: r["split"]
             for r in assign_split(ids, salt="other").collect()}
        assert c != a
        # subset stability: assignments on half the corpus are unchanged
        half = {r["doc_id"]: r["split"]
                for r in assign_split(ids.where("doc_id % 2 = 0")).collect()}
        assert all(a[k] == v for k, v in half.items())

    def test_stratified_sample_fractions_and_stability(self, spark, docs):
        from paper_layout_parser_spark.operators.curation import (
            stratified_sample,
        )

        d = docs.select("doc_id", "lang")
        by_lang_total = {r["lang"]: r["n"] for r in
                         d.groupBy("lang").agg(F.count("*").alias("n")).collect()}
        kept = stratified_sample(d, {"en": 0.5}, default_fraction=0.1)
        by_lang_kept = {r["lang"]: r["n"] for r in
                        kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
        en_frac = by_lang_kept.get("en", 0) / by_lang_total["en"]
        assert 0.35 < en_frac < 0.65
        for lang, total in by_lang_total.items():
            if lang != "en" and total >= 20:
                assert by_lang_kept.get(lang, 0) / total < 0.3
        # deterministic + subset-stable: the kept set is a fixed function
        # of (salt, id), so re-running and subsetting agree
        ids1 = {r["doc_id"] for r in kept.select("doc_id").collect()}
        ids2 = {r["doc_id"] for r in
                stratified_sample(d, {"en": 0.5}, default_fraction=0.1)
                .select("doc_id").collect()}
        assert ids1 == ids2
        # pure codegen filter: no exchange in the plan
        plan = kept._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan

    def test_pack_sequences_layout_invariants(self, spark, docs):
        """Concat-and-chunk packing: per bucket, documents tile the token
        stream contiguously with no gaps/overlaps, and window arithmetic is
        consistent."""
        from paper_layout_parser_spark.operators.packing import pack_sequences

        L = 128
        packed = pack_sequences(docs, max_tokens=L, num_buckets=4)
        rows = sorted((r["bucket"], r["doc_id"], r) for r in packed.collect())
        assert rows
        by_bucket: dict[int, list] = {}
        for b, _, r in rows:
            by_bucket.setdefault(b, []).append(r)
        assert len(by_bucket) == 4
        for b, rs in by_bucket.items():
            expect_start = 0
            for r in rs:                      # id order within bucket
                assert r["start_token"] == expect_start      # contiguous
                assert r["start_seq"] == r["start_token"] // L
                assert r["start_offset"] == r["start_token"] % L
                assert r["end_seq"] == (r["start_token"] + r["n_tokens"] - 1) // L
                expect_start += r["n_tokens"]

    def test_pack_sequences_drops_empty_docs(self, spark):
        """split('') yields [''] — empty/whitespace docs must contribute
        ZERO tokens, not a phantom one that shifts later offsets."""
        from paper_layout_parser_spark.operators.packing import pack_sequences

        df = spark.createDataFrame(
            # incl. newline/tab-only docs: Spark's trim strips only ASCII
            # spaces, so the zeroing must be regex-based
            [(1, "three token doc"), (2, ""), (3, "   "), (4, "two tokens"),
             (5, "\n"), (6, "\t \n ")],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in
                pack_sequences(df, max_tokens=8, num_buckets=1).collect()}
        assert set(rows) == {1, 4}
        total = sum(r["n_tokens"] for r in rows.values())
        assert total == 5                        # 3 + 2, no phantoms
        starts = sorted(r["start_token"] for r in rows.values())
        assert starts[0] == 0 and starts[1] in (2, 3)  # contiguous

    def test_decontaminate_flag_and_drop(self, spark):
        train = spark.createDataFrame(
            [(1, "a b c d"), (2, "x y z w"), (3, "q a b c")],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame([(9, "a b c")], "doc_id long, text string")
        flagged = {r["doc_id"]: r["contaminated"]
                   for r in dd.decontaminate(train, bench, n=3).collect()}
        assert flagged == {1: True, 2: False, 3: True}
        kept = [r["doc_id"] for r in
                dd.decontaminate(train, bench, n=3, mode="drop").collect()]
        assert kept == [2]
        # plan: the benchmark shingle set must be broadcast (corpus never
        # shuffles for the semi-join)
        plan = dd.decontaminate(train, bench, n=3)._jdf.queryExecution() \
            .explainString(spark._jvm.org.apache.spark.sql.execution
                           .ExplainMode.fromString("simple"))
        assert "BroadcastHashJoin" in plan and "LeftSemi" in plan

    def test_clean_corpus_funnel(self, spark):
        """Every drop reason fires, in rule order (first failure wins), and
        the funnel counts add up."""
        from paper_layout_parser_spark.operators.curation import (
            clean_corpus,
            curation_funnel,
        )

        good = ("the quick brown fox jumps over the lazy dog and runs to "
                "the old mill by the river in the morning light again")
        rows = [
            (1, good),                               # kept
            (2, "le chat et le chien dans la maison avec une grande porte"),  # lang
            (3, "the !!!!!!!!!! the ??????????"),  # english but junk -> quality
            (4, good),                               # duplicate of 1
            (5, good + " secret benchmark passage"),  # contaminated
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        bench = spark.createDataFrame(
            [(99, "secret benchmark passage")], "doc_id long, text string"
        )
        got = {r["doc_id"]: r for r in
               clean_corpus(docs, benchmark=bench, lang="en",
                            min_quality=0.5).collect()}
        assert got[1]["keep"] and got[1]["drop_reason"] is None
        assert got[2]["drop_reason"] == "lang"
        assert got[3]["drop_reason"] == "quality"
        assert got[4]["drop_reason"] == "duplicate"
        assert got[5]["drop_reason"] == "contaminated"
        funnel = {r["stage"]: r["n_docs"] for r in
                  curation_funnel(clean_corpus(docs, benchmark=bench)).collect()}
        assert funnel["kept"] == 1 and sum(funnel.values()) == 5

    def test_redact_pii(self, spark):
        from paper_layout_parser_spark.functions import text as tfn

        df = spark.createDataFrame(
            [("mail a.b@c.org from 192.168.1.1 call +15551234567 ok",),
             ("clean text, no pii at all",)],
            "t string",
        )
        counts = tfn.pii_counts(F.col("t"))
        rows = df.select(
            tfn.redact_pii(F.col("t")).alias("r"),
            *[v.alias(k) for k, v in counts.items()],
        ).collect()
        assert rows[0]["r"] == "mail [EMAIL] from [IPV4] call [PHONE] ok"
        assert (rows[0]["n_email"], rows[0]["n_ipv4"], rows[0]["n_phone"]) == (1, 1, 1)
        assert rows[1]["r"] == "clean text, no pii at all"
        assert rows[1]["n_email"] == 0

    def test_canonical_url(self, spark):
        from paper_layout_parser_spark.functions.url import canonical_url

        df = spark.createDataFrame(
            [("HTTP://H3.Example.org:80/Path/42/?utm_source=x&id=42&utm_medium=y#frag",),
             ("https://a.b/",),
             ("http://x.y/p?utm_campaign=z",)],
            "u string",
        )
        got = [r["c"] for r in df.select(canonical_url(F.col("u")).alias("c")).collect()]
        assert got == [
            "http://h3.example.org/Path/42?id=42",
            "https://a.b",
            "http://x.y/p",
        ]

    def test_viral_duplicate_bucket_guard(self, spark, docs):
        """10,000 copies of one page must NOT send the in-bucket join
        quadratic (10k² x 8 bands candidates). With cap_buckets the job
        completes in O(bands x cap²) and recall on the NON-viral pairs is
        unchanged (low ids win the cap, and base ids are lowest)."""
        base = docs.select("doc_id", "text").where(F.col("doc_id") < 60).persist()
        viral_text = base.where(F.col("doc_id") == 1).first()["text"]
        viral = spark.range(10_000_000, 10_010_000).select(
            F.col("id").alias("doc_id"), F.lit(viral_text).alias("text")
        )
        merged = base.unionByName(viral)

        capped = dd.minhash_lsh_pairs(merged, threshold=0.5, max_bucket=32)
        got = [(r["id_a"], r["id_b"]) for r in capped.collect()]  # completes
        # non-viral pairs identical to the uncapped run on the base corpus
        base_pairs = {(r["id_a"], r["id_b"]) for r in
                      dd.minhash_lsh_pairs(base, threshold=0.5,
                                           max_bucket=None).collect()}
        got_base = {(a, b) for a, b in got if a < 10_000_000 and b < 10_000_000}
        assert got_base == base_pairs
        # viral-viral pairs bounded by the cap, not the copy count
        viral_pairs = [(a, b) for a, b in got if a >= 10_000_000 and b >= 10_000_000]
        assert 0 < len(viral_pairs) <= 32 * 31 // 2
        # the viral source doc (low id) survives the cap and still matches
        assert any(a == 1 and b >= 10_000_000 for a, b in got)
        base.unpersist()

    def test_viral_embedding_bucket_guard(self, spark, emb):
        """Same guard on the SRP embedding path: thousands of copies of one
        vector stay O(cap²) per bucket."""
        base = emb.where(F.col("vec_id") < 60).persist()
        v = base.where(F.col("vec_id") == 1).first()["embedding"]
        viral = spark.range(10_000_000, 10_002_000).select(
            F.col("id").alias("vec_id"),
            F.array(*[F.lit(float(x)) for x in v]).alias("embedding"),
        )
        merged = base.select("vec_id", "embedding").unionByName(viral)
        capped = sim.cosine_neardup_lsh(merged, threshold=0.4, max_bucket=16)
        got = [(r["id_a"], r["id_b"]) for r in capped.collect()]
        base_pairs = {(r["id_a"], r["id_b"]) for r in
                      sim.cosine_neardup_lsh(base, threshold=0.4,
                                             max_bucket=None).collect()}
        got_base = {(a, b) for a, b in got if a < 10_000_000 and b < 10_000_000}
        assert got_base == base_pairs
        viral_pairs = [(a, b) for a, b in got if a >= 10_000_000 and b >= 10_000_000]
        assert 0 < len(viral_pairs) <= 16 * 15 // 2
        base.unpersist()

    def test_simhash_identical_texts_distance_zero(self, spark):
        df = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "the quick brown fox jumps over the lazy dog"),
             (3, "completely different words entirely unrelated content here")],
            "doc_id long, text string",
        )
        pairs = {(r.id_a, r.id_b): r.hamming
                 for r in dd.simhash_pairs(df, max_hamming=64).collect()}
        assert pairs.get((1, 2)) == 0
        sims = {r.doc_id: r.simhash for r in dd.simhash64(df).collect()}
        assert sims[1] == sims[2] != sims[3]

    def test_simhash_near_texts_close(self, spark, docs):
        # near-dup docs (high jaccard) should have small hamming distance
        exact = dd.jaccard_pairs(docs, threshold=0.8).collect()
        assert exact
        pairs = {(r.id_a, r.id_b): r.hamming
                 for r in dd.simhash_pairs(docs, max_hamming=10).collect()}
        hit = sum(1 for r in exact if (r.id_a, r.id_b) in pairs)
        assert hit >= len(exact) * 0.8


class TestSimilarity:
    def test_brute_force_matches_numpy(self, spark, emb):
        rows = emb.collect()
        vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
        qids = [v for v in vecs if v % 50 == 0]
        queries = emb.where(F.col("vec_id") % 50 == 0)
        got = {}
        for r in sim.brute_force_topk(emb, queries, k=5).collect():
            got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
        for q in qids:
            qv = vecs[q]
            scored = sorted(
                ((-(qv @ v) / (np.linalg.norm(qv) * np.linalg.norm(v)), i)
                 for i, v in vecs.items() if i != q)
            )
            expected = [i for _, i in scored[:5]]
            assert [n for _, n in sorted(got[q])] == expected

    def test_neardup_symmetric_threshold(self, spark, emb):
        pairs = sim.cosine_neardup_pairs(emb, threshold=0.4).collect()
        for r in pairs:
            assert r.id_a < r.id_b
            assert r.cos >= 0.4

    def test_lsh_topk_subset_semantics(self, spark, emb):
        queries = emb.where(F.col("vec_id") % 50 == 0)
        got = sim.lsh_topk(emb, queries, k=5).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r.query_id, []).append(r)
        for q, rows in by_q.items():
            ranks = sorted(r.rank for r in rows)
            assert ranks == list(range(1, len(ranks) + 1))

    def test_ivf_topk_recall_and_determinism(self, spark, emb):
        """IVF coarse quantizer path: probing nprobe/num_centroids of the
        corpus recovers most exact top-k neighbors, deterministically, and
        nprobe = num_centroids degenerates to the exact result."""
        queries = emb.where(F.col("vec_id") % 50 == 0)
        exact = {(r.query_id, r.neighbor_id)
                 for r in sim.brute_force_topk(emb, queries, k=5).collect()}
        ivf = sim.ivf_topk(emb, queries, k=5, num_centroids=8, nprobe=3)
        got = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
        recall = len(got & exact) / len(exact)
        assert recall >= 0.7, f"IVF recall {recall:.3f}"   # probing 3/8 lists
        # deterministic across runs
        assert {(r.query_id, r.neighbor_id) for r in ivf.collect()} == got
        # full probe == exact
        full = {(r.query_id, r.neighbor_id)
                for r in sim.ivf_topk(emb, queries, k=5, num_centroids=8,
                                      nprobe=8).collect()}
        assert full == exact


class TestCatalogResume:
    @staticmethod
    def _pages(spark, n, tag="a"):
        return spark.createDataFrame(
            [(f"u{i % 7}", i, tag * (i + 1)) for i in range(n)],
            "url string, page_no int, text string")

    def test_lineage_row_is_true(self, spark, tmp_path):
        """Each write's lineage row holds the rows it added to the table and
        the on-disk size of the parquet files it added."""
        from paper_layout_parser_spark.sources.catalog import Catalog

        cat = Catalog(spark, str(tmp_path / "wh"))
        files, want = set(), []
        for n in (3, 40):
            cat.checkpoint_stage(self._pages(spark, n), "stage1")
            added = set(glob.glob(str(tmp_path / "wh/stage1/*.parquet"))) - files
            files |= added
            assert added
            want.append((n, sum(os.path.getsize(f) for f in added)))
        assert cat.read("stage1").count() == 43
        lineage = cat.read("stage1__lineage").orderBy("committed_ms").collect()
        assert [(r["rows_out"], r["bytes_out"]) for r in lineage] == want
        assert len({r["run_id"] for r in lineage}) == 2

    def test_checkpoint_stage_runs_two_jobs(self, spark, tmp_path):
        """One data write and one single-row lineage append: the stage
        frame is computed once, never persisted or aggregated again."""
        from paper_layout_parser_spark.sources.catalog import Catalog

        cat = Catalog(spark, str(tmp_path / "wh"))
        sc = spark.sparkContext
        group = f"checkpoint-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            cat.checkpoint_stage(self._pages(spark, 30), "stage1")
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2

    def test_repeat_checkpoint_compiles_nothing(self, spark, tmp_path):
        """Commits of frames of one shape reuse the generated code: the
        lineage row carries its values as data, not as literals."""
        from paper_layout_parser_spark.sources.catalog import Catalog

        metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
        compiles = metrics.CodegenMetrics.METRIC_COMPILATION_TIME().getCount
        cat = Catalog(spark, str(tmp_path / "wh"))
        for tag in ("a", "b"):
            cat.checkpoint_stage(self._pages(spark, 20, tag), "stage1")
        before = compiles()
        cat.checkpoint_stage(self._pages(spark, 20, "c"), "stage1")
        assert compiles() - before == 0

    def test_checkpoint_lineage_and_resume(self, spark, tmp_path):
        from paper_layout_parser_spark.sources.catalog import Catalog, commit_pending

        cat = Catalog(spark, str(tmp_path / "wh"))
        df1 = spark.createDataFrame(
            [("u1", 1, "a"), ("u1", 2, "b"), ("u2", 1, "c")],
            "url string, page_no int, text string",
        )
        cat.checkpoint_stage(df1, "stage1")
        committed = cat.read("stage1")
        assert committed.count() == 3

        # resume: only the new url is processed (the committed keys are
        # bootstrapped from the table checkpointed above)
        inputs = spark.createDataFrame(
            [("u1",), ("u2",), ("u3",)], "url string"
        )
        calls = []

        def stage(todo):
            calls.append(todo.count())
            return [("stage1", todo.withColumn("page_no", F.lit(1))
                     .withColumn("text", F.lit("z")))], None

        assert commit_pending(cat, inputs, ["stage1"], stage) == 1
        assert calls == [1]           # only u3 was pending
        out = cat.read("stage1")
        assert out.select("url").distinct().count() == 3
        # second run: nothing pending, no new work
        assert commit_pending(cat, inputs, ["stage1"], stage) == 0
        assert calls == [1]
        assert cat.read("stage1").count() == out.count()

    @staticmethod
    def _ansi_inputs(spark):
        # the caller's predicate raises under ANSI mode on a url with no
        # trailing digits, such as the committed "u_corrupt"
        assert spark.conf.get("spark.sql.ansi.enabled") == "true"
        return spark.createDataFrame([("u1",), ("u2",)], "url string").where(
            F.regexp_extract("url", "([0-9]+)$", 1).cast("bigint") < 3)

    def test_gate_never_runs_caller_predicate_on_key_rows(self, spark, tmp_path):
        from paper_layout_parser_spark.sources.catalog import Catalog, commit_pending

        cat = Catalog(spark, str(tmp_path / "wh"))

        def stage(todo):
            return [("t", todo.withColumn("page_no", F.lit(1)))], None

        first = spark.createDataFrame([("u_corrupt",), ("u1",)], "url string")
        assert commit_pending(cat, first, ["t"], stage) == 2
        assert commit_pending(cat, self._ansi_inputs(spark), ["t"], stage) == 1
        assert sorted(r["url"] for r in cat.read("t").collect()) == [
            "u1", "u2", "u_corrupt"]

    def test_pending_inputs_never_runs_caller_predicate_on_table(self, spark,
                                                                 tmp_path):
        from paper_layout_parser_spark.sources.catalog import Catalog

        cat = Catalog(spark, str(tmp_path / "wh"))
        cat.append(spark.createDataFrame([("u_corrupt",), ("u1",)], "url string"),
                   "t")
        pending = cat.pending_inputs(self._ansi_inputs(spark), "t")
        assert [r["url"] for r in pending.collect()] == ["u2"]


class TestVisualization:
    def test_draw_spec_colors_and_labels(self, spark):
        from paper_layout_parser_spark.operators.visualization import draw_spec

        det = spark.createDataFrame(
            [("u", 1, 0, "Figure", 0.95, 100., 200., 300., 400.),
             ("u", 1, 1, "Figure-Caption", 0.9, 100., 420., 300., 460.),
             ("u", 1, 2, "Unknown-Class", 0.5, 0., 0., 10., 10.)],
            "url string, page_no int, det_idx int, class_name string, "
            "confidence double, x1 double, y1 double, x2 double, y2 double",
        )
        got = {r.det_idx: r for r in draw_spec(det).collect()}
        assert got[0]["label"] == "Figure 0.95"
        assert got[0]["color_bgr"] == (0 << 16) | (255 << 8) | 0      # green
        assert got[2]["color_bgr"] == (0 << 16) | (255 << 8) | 0      # default
        assert got[1]["color_bgr"] == (0 << 16) | (200 << 8) | 255    # light orange
        assert got[0]["label_y"] == 195.0 and got[2]["label_y"] == 15.0

    def test_numbered_labels(self, spark):
        from paper_layout_parser_spark.operators.visualization import draw_spec

        det = spark.createDataFrame(
            [("u", 1, 0, "Figure", .9, 0., 0., 1., 1.),
             ("u", 1, 1, "Figure", .9, 0., 2., 1., 3.),
             ("u", 1, 2, "Table", .9, 0., 4., 1., 5.),
             ("u", 1, 3, "Title", .9, 0., 6., 1., 7.)],
            "url string, page_no int, det_idx int, class_name string, "
            "confidence double, x1 double, y1 double, x2 double, y2 double",
        )
        got = sorted(r.label for r in draw_spec(det, "numbered").collect())
        assert got == ["F1", "F2", "T1"]  # Title dropped (no annotation kind)

    def test_paint_overlays_real_png(self, spark):
        """P13/K3 pixel paint is real: the sink emits decodable PNGs with
        the palette-colored borders at the right pixels."""
        from paper_layout_parser_spark.operators.visualization import (
            draw_spec,
            paint_overlays,
        )

        from .helpers import decode_png_rgb

        det = spark.createDataFrame(
            [("u", 1, 0, "Figure", 0.95, 100., 200., 300., 400.),
             ("u", 2, 0, "Table", 0.9, 50., 500., 400., 700.)],
            "url string, page_no int, det_idx int, class_name string, "
            "confidence double, x1 double, y1 double, x2 double, y2 double",
        )
        spec = draw_spec(det)
        out = paint_overlays(spec, page_w=1224, page_h=1584, scale=0.25)
        rows = {r["page_no"]: r for r in out.collect()}
        assert set(rows) == {1, 2} and rows[1]["n_boxes"] == 1
        img = decode_png_rgb(bytes(rows[1]["overlay_png"]))
        assert img.shape == (396, 306, 3)
        # Figure border (BGR 0,255,0 -> RGB green) at the scaled top edge
        assert tuple(img[50, 40]) == (0, 255, 0)   # (200*0.25, 160/4..) top line
        assert tuple(img[75, 60]) == (255, 255, 255)  # interior stays blank
        # Table page: BGR (255,0,0) -> RGB blue border
        img2 = decode_png_rgb(bytes(rows[2]["overlay_png"]))
        assert tuple(img2[125, 30]) == (0, 0, 255)
        # deterministic bytes
        again = {r["page_no"]: bytes(r["overlay_png"]) for r in out.collect()}
        assert again[1] == bytes(rows[1]["overlay_png"])

    def test_paint_overlays_per_page_canvas(self, spark):
        """Default (no scalar dims): each page's canvas is sized from its OWN
        width/height columns — mixed-size corpora must not share one rect."""
        from paper_layout_parser_spark.operators.visualization import (
            draw_spec,
            paint_overlays,
        )

        from .helpers import decode_png_rgb

        det = spark.createDataFrame(
            [("u", 1, 1224, 1584, 0, "Figure", 0.95, 100., 200., 300., 400.),
             ("u", 2, 1654, 2339, 0, "Table", 0.9, 50., 500., 400., 700.)],
            "url string, page_no int, width int, height int, det_idx int, "
            "class_name string, confidence double, "
            "x1 double, y1 double, x2 double, y2 double",
        )
        out = paint_overlays(draw_spec(det), scale=0.25)
        rows = {r["page_no"]: r for r in out.collect()}
        assert decode_png_rgb(bytes(rows[1]["overlay_png"])).shape == (396, 306, 3)
        assert decode_png_rgb(bytes(rows[2]["overlay_png"])).shape == (584, 413, 3)


class TestNeardupLsh:
    def test_precision_one_and_reasonable_recall(self, spark, emb):
        exact = {(r.id_a, r.id_b): r.cos
                 for r in sim.cosine_neardup_pairs(emb, threshold=0.35).collect()}
        lsh = {(r.id_a, r.id_b): r.cos
               for r in sim.cosine_neardup_lsh(emb, threshold=0.35).collect()}
        assert set(lsh) <= set(exact)          # precision 1.0
        for k, v in lsh.items():
            assert v == exact[k]               # identical verified cosines
        if exact:
            assert len(lsh) >= 0.5 * len(exact)  # SRP recall on uniform data
