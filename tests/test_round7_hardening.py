"""Round-7 hardening: IVF index reuse (centroids= / assigned=) and the
span-dedup touched-docs gate's plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


class TestIvfIndexReuse:
    def test_pretrained_index_matches_default_path(self, spark):
        """ivf_topk(centroids=, assigned=) — the production shape where
        one trained index serves many query batches — must return
        exactly what the train-inside call returns for the same
        (deterministic) training configuration."""
        from paper_layout_parser_spark.operators.similarity import (
            assign_clusters,
            ivf_topk,
            train_ivf_centroids,
        )

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        q = emb.where("vec_id < 4")
        kw = dict(k=5, num_centroids=8, nprobe=3, max_iter=2)
        want = {(r["query_id"], r["rank"], r["neighbor_id"], r["cos"])
                for r in ivf_topk(emb, q, **kw).collect()}
        cents = train_ivf_centroids(emb, num_centroids=8, max_iter=2)
        idx = assign_clusters(emb, cents, "embedding", "cluster")
        got = {(r["query_id"], r["rank"], r["neighbor_id"], r["cos"])
               for r in ivf_topk(emb, q, centroids=cents, assigned=idx,
                                 **kw).collect()}
        assert got == want and got
        # centroids= alone (assignment recomputed) also matches
        got2 = {(r["query_id"], r["rank"], r["neighbor_id"], r["cos"])
                for r in ivf_topk(emb, q, centroids=cents,
                                  **kw).collect()}
        assert got2 == want

    def test_assigned_requires_centroids(self, spark):
        from paper_layout_parser_spark.operators.similarity import (
            ivf_topk,
        )

        emb = spark.createDataFrame(
            [(0, [1.0, 0.0], 0)],
            "vec_id long, embedding array<double>, cluster int")
        with pytest.raises(ValueError, match="centroids"):
            ivf_topk(emb, emb, assigned=emb)


class TestSpanDedupGatePlan:
    def test_untouched_corpus_reassembles_nothing(self, spark):
        """With zero duplicated windows, the gate's semi-join drives
        the reassembly legs to an empty set: output equals input text
        byte-for-byte for every row and nothing is removed."""
        from paper_layout_parser_spark.operators.dedup import (
            remove_duplicate_spans,
        )

        docs = spark.createDataFrame(
            [(i, f"entirely unique text number{i} alpha{i} beta{i} "
                 f"gamma{i} delta{i} epsilon{i} zeta{i} eta{i}")
             for i in range(20)],
            "doc_id long, text string",
        )
        out = remove_duplicate_spans(docs, n=5)
        rows = {r["doc_id"]: r for r in out.collect()}
        src = {r["doc_id"]: r["text"] for r in docs.collect()}
        assert all(rows[i]["deduped_text"] == src[i] for i in src)
        assert all(rows[i]["n_tokens_removed"] == 0 for i in src)


class TestIvfClusteredRecall:
    """Recall floor on a corpus WITH cluster structure. The graded oracle
    pins ivf_topk's mechanics bit-for-bit; nothing until now pinned that
    the index is any GOOD — on the hash-uniform capacity corpus recall
    is ~nprobe/C by construction, so a silently broken quantizer (e.g.
    all centroids collapsing to one list) would look identical to a
    healthy one. A planted-cluster fixture separates those."""

    def _fixture(self, spark):
        from .helpers import clustered_embeddings

        corpus = clustered_embeddings(spark, 2000, dim=32, n_clusters=16)
        queries = clustered_embeddings(spark, 8, dim=32, n_clusters=16,
                                       id_start=2000)
        return corpus.persist(), queries.persist()

    def test_recall_floor_and_monotonicity(self, spark):
        from paper_layout_parser_spark.operators.similarity import (
            assign_clusters,
            brute_force_topk,
            ivf_topk,
            train_ivf_centroids,
        )

        corpus, queries = self._fixture(spark)
        k = 5
        truth = (brute_force_topk(corpus, queries, k=k)
                 .select("query_id", "neighbor_id").persist())
        n_truth = truth.count()
        assert n_truth == 8 * k
        cents = train_ivf_centroids(corpus, num_centroids=16, max_iter=3)
        idx = assign_clusters(corpus, cents, "embedding", "cluster").persist()
        recalls = {}
        for nprobe in (1, 4, 16):
            r = ivf_topk(corpus, queries, k=k, num_centroids=16,
                         nprobe=nprobe, centroids=cents,
                         assigned=idx)
            hits = (r.select("query_id", "neighbor_id")
                    .join(truth, ["query_id", "neighbor_id"], "left_semi")
                    .count())
            recalls[nprobe] = hits / n_truth
        # held-out queries land in their own planted cluster's list: a
        # healthy quantizer recovers most of the top-k at nprobe=1
        assert recalls[1] >= 0.5, recalls
        assert recalls[4] >= 0.8, recalls
        # nprobe = C degenerates to exact search (modulo sub-ulp cosine
        # ties, absent on this separated fixture)
        assert recalls[16] == 1.0, recalls
        # more probed lists can only add candidates
        assert recalls[1] <= recalls[4] <= recalls[16], recalls
        truth.unpersist()
        idx.unpersist()
        corpus.unpersist()
        queries.unpersist()

    def test_clustered_generator_separation(self, spark):
        """The generator's contract: within-cluster cosine far above
        cross-cluster (this is what makes the recall floor meaningful)."""
        from .helpers import clustered_embeddings

        df = clustered_embeddings(spark, 64, dim=32, n_clusters=4)
        rows = df.collect()
        import math

        def cos(a, b):
            dot = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            return dot / (na * nb)

        by_cluster = {}
        for r in rows:
            by_cluster.setdefault(r["cluster_true"], []).append(r["embedding"])
        within = [cos(vs[0], vs[1]) for vs in by_cluster.values()]
        cross = [cos(by_cluster[a][0], by_cluster[b][0])
                 for a in by_cluster for b in by_cluster if a < b]
        assert min(within) > 0.9, min(within)
        assert max(cross) < 0.5, max(cross)

    def test_lsh_topk_recall_floor_on_clustered(self, spark):
        """Same gap the IVF floor closed, for the SRP-LSH path: nothing
        pinned that banding actually retrieves true neighbors (the
        subset-semantics test only checks rank well-formedness). On the
        planted-cluster fixture same-cluster vectors agree on most SRP
        bits, so band collisions are near-certain and recall must be
        high; a broken signature/banding would drop it to ~0."""
        from paper_layout_parser_spark.operators.similarity import (
            brute_force_topk,
            lsh_topk,
        )

        corpus, heldout = self._fixture(spark)
        heldout.unpersist()   # this test queries corpus members instead
        queries = corpus.where(F.col("vec_id") % 250 == 0)   # 8 members
        k = 5
        # exact truth EXCLUDING the self-match (lsh_topk's contract
        # filters q_id != c_id): top-(k+1) minus self, trimmed to k
        bf = (brute_force_topk(corpus, queries, k=k + 1)
              .where(F.col("query_id") != F.col("neighbor_id"))
              .collect())
        by_q = {}
        for r in sorted(bf, key=lambda r: (r["query_id"], r["rank"])):
            by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
        truth = {(q, n) for q, ns in by_q.items() for n in ns[:k]}
        got = {(r["query_id"], r["neighbor_id"])
               for r in lsh_topk(corpus, queries, k=k, dim=32).collect()}
        recall = len(got & truth) / len(truth)
        assert recall >= 0.8, f"LSH recall {recall:.3f}"
        corpus.unpersist()


class TestSpanDedupCoverageCut:
    def test_window_lineage_appears_exactly_twice(self, spark):
        """r8 plan-shape contract for the array reassembly. The r7
        localCheckpoint cut is retired (the coverage set has ONE
        consumer now, so the three-consumer recompute trap it existed
        for — docs/PLANS.md — is structurally gone), which means the
        window-count lineage is back inline in the output plan. The
        invariant that replaces 'zero xxhash64 nodes': the lineage
        appears EXACTLY twice — the inherent count/probe self-join
        (one side builds the duplicated-key set, one side probes it).
        A third occurrence means someone hung a second consumer off
        the coverage set without re-adding a cut, which is the exact
        regression r7 measured at ~1.7x end-to-end."""
        from paper_layout_parser_spark.operators.dedup import (
            remove_duplicate_spans,
        )

        df = spark.createDataFrame(
            [(i, f"w{i} a b c d e f g h") for i in range(6)],
            "doc_id long, text string")
        plan = (remove_duplicate_spans(df, n=5)
                ._jdf.queryExecution().optimizedPlan().toString())
        # each side carries two hash layers (per-word transform +
        # window slice-hash); the window-key node is the lineage marker
        assert plan.count("xxhash64(slice(") == 2, plan[:1200]
        assert plan.count("xxhash64") == 4, plan[:1200]
        # and the reassembly itself is array-based: no token-grain
        # posexplode, and the single collect_list regroups coverage
        # POSITIONS (ints), never the documents' words
        assert plan.count("posexplode") == 0, plan[:1200]
        assert plan.count("collect_list") == 1, plan[:1200]
        assert "collect_list(__q" in plan, plan[:1200]
