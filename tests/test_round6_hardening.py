"""Round-6 hardening: the compact key-table exactly-once commit path
under a STEADY processingTime trigger (VERDICT r5 ask #7).

The availableNow tests in test_operators_extra.py exercise catch-up
batches that drain and stop; a production ingest runs on a steady
trigger where batches keep arriving and the boundary of "what this
batch should commit" is decided by the key tables, not by the source
running dry. A rate source whose urls span trigger boundaries forces
genuine cross-batch re-delivery: without the committed-table anti-join
gate, boundary urls would commit twice."""

import time

import pytest
from pyspark.sql import functions as F

from paper_layout_parser_spark.sources.catalog import Catalog, commit_pending


def test_exactly_once_under_processing_time_trigger(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    # one url per 5 consecutive rate values: trigger boundaries split a
    # url's rows across adjacent micro-batches, so the SECOND batch
    # re-delivers the boundary url and the committed-table gate must
    # drop it (the batch still commits its genuinely-new urls)
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 100).load()
        .selectExpr(
            "concat('https://rate.example/doc/', CAST(value DIV 5 AS STRING))"
            " AS url",
            "value",
        )
    )

    def run_stages(todo):
        return [("rate_docs",
                 todo.dropDuplicates(["url"]).select("url", "value"))], None

    q = (
        rate.writeStream
        .foreachBatch(
            lambda batch, _epoch: commit_pending(cat, batch, ["rate_docs"],
                                                 run_stages))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline:
            fed = [p for p in q.recentProgress
                   if p["numInputRows"] and p["numInputRows"] > 0]
            if len(fed) >= 3 and cat.exists("rate_docs__lineage"):
                runs = (cat.read("rate_docs__lineage")
                        .select("run_id").distinct().count())
                if runs >= 2:
                    break
            time.sleep(0.5)
        else:
            raise AssertionError(
                f"steady trigger never reached 3 fed batches + 2 commits; "
                f"progress={[p['numInputRows'] for p in q.recentProgress]}")
    finally:
        q.stop()

    docs = cat.read("rate_docs")
    per_url = docs.groupBy("url").count()
    # exactly-once per url despite urls spanning trigger boundaries: the
    # re-delivered boundary urls were gated, everything else committed once
    assert per_url.agg(F.max("count")).collect()[0][0] == 1
    # the steady stream really committed across multiple distinct batches
    # (not one catch-up batch), each with its own lineage run
    assert (cat.read("rate_docs__lineage")
            .select("run_id").distinct().count()) >= 2
    # key-table consistency, allowing for q.stop() interrupting the
    # in-flight batch anywhere: committed is only appended AFTER the
    # stage writes, so committed <= stage urls always; a url written to
    # the stage table but not committed is exactly the designed crash
    # window and must carry its inflight mark (the next run's
    # pending_inputs safety net keys off it)
    def keys(table):
        return {r["url"] for r in cat.read(table)
                .where(F.col("table") == "rate_docs").select("url").collect()}

    committed = keys("committed_urls")
    doc_urls = {r["url"] for r in docs.select("url").collect()}
    inflight = keys("inflight_urls")
    assert committed <= doc_urls
    assert doc_urls - committed <= inflight
    assert committed <= inflight


def test_assign_clusters_arrow_parity(spark):
    """The numpy-matmul assignment twin must agree with the native HOF
    fold exactly on separated data (the documented seam is sub-ulp
    cosine ties only), including the zero-vector guard."""
    from paper_layout_parser_spark.operators.similarity import (
        assign_clusters,
        assign_clusters_arrow,
    )

    dim, n_clusters = 32, 8
    # cluster c's members sit at 10*e_c plus small deterministic noise;
    # one all-zero vector pins the norm guard (all cosines 0 -> both
    # paths tie-break to centroid 0)
    base = spark.range(400).selectExpr(
        "id AS vec_id",
        f"CAST(id % {n_clusters} AS INT) AS want",
        f"""transform(sequence(0, {dim - 1}), j ->
              CASE WHEN id = 0 THEN CAST(0.0 AS DOUBLE)
                   ELSE CAST(10.0 * CAST(j = CAST(id % {n_clusters} AS INT) AS INT)
                        + pmod(xxhash64(id, j), 100) / 1000.0 AS DOUBLE)
              END) AS embedding""",
    )
    centroids = [[10.0 if j == c else 0.0 for j in range(dim)]
                 for c in range(n_clusters)]
    native = assign_clusters(base, centroids)
    arrow = assign_clusters_arrow(base, centroids)
    rows_n = {r["vec_id"]: r["cluster"] for r in native.collect()}
    rows_a = {r["vec_id"]: r["cluster"] for r in arrow.collect()}
    assert rows_a == rows_n
    # ground truth: noisy members land on their own centroid; the zero
    # vector tie-breaks to 0 on both paths
    want = {r["vec_id"]: r["want"] for r in base.collect()}
    want[0] = 0
    assert rows_n == want


def test_ivf_topk_arrow_matches_native(spark):
    """End-to-end ivf_topk with assign_impl='arrow' (arrow training +
    arrow corpus assignment) returns the same neighbor sets as the
    native path on separated data."""
    from paper_layout_parser_spark.operators.similarity import ivf_topk

    dim = 16
    emb = spark.range(120).selectExpr(
        "id AS vec_id",
        f"""transform(sequence(0, {dim - 1}), j ->
              CAST(5.0 * CAST(j = CAST(id % 4 AS INT) AS INT)
                   + pmod(xxhash64(id, j), 100) / 500.0 AS DOUBLE)
            ) AS embedding""",
    )
    queries = emb.where("vec_id < 8")
    kw = dict(k=5, num_centroids=4, nprobe=2, max_iter=3, dim=dim)
    got_n = {(r["query_id"], r["rank"], r["neighbor_id"])
             for r in ivf_topk(emb, queries, **kw).collect()}
    got_a = {(r["query_id"], r["rank"], r["neighbor_id"])
             for r in ivf_topk(emb, queries, assign_impl="arrow",
                               **kw).collect()}
    assert got_a == got_n and got_n


def test_assign_clusters_arrow_null_embedding(spark):
    """A NULL embedding row must not crash the Arrow path (np.stack on
    a ragged object array): both paths resolve NULL — like the all-zero
    vector — to centroid 0."""
    from paper_layout_parser_spark.operators.similarity import (
        assign_clusters,
        assign_clusters_arrow,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    cents = [[1.0, 0.0], [0.0, 1.0]]
    got_a = {r["vec_id"]: r["cluster"]
             for r in assign_clusters_arrow(df, cents).collect()}
    got_n = {r["vec_id"]: r["cluster"]
             for r in assign_clusters(df, cents).collect()}
    assert got_a == got_n == {0: 0, 1: 0, 2: 1}


def test_unknown_assign_impl_raises(spark):
    from paper_layout_parser_spark.operators.similarity import (
        train_ivf_centroids,
    )

    df = spark.createDataFrame([(0, [1.0, 0.0])],
                               "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="assign_impl"):
        train_ivf_centroids(df, num_centroids=1, dim=2,
                            assign_impl="numpy")


def test_brute_force_topk_arrow_parity(spark):
    """The matmul exact-top-k twin must return the same (query, rank,
    neighbor, cos) rows as the native fold on the driver's embeddings
    table — including the batch-local pruning and self-exclusion."""
    from paper_layout_parser_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_arrow,
    )

    emb = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
           .repartition(7))   # several batches so local pruning engages
    queries = emb.where("vec_id < 6")
    want = {(r["query_id"], r["rank"], r["neighbor_id"], r["cos"])
            for r in brute_force_topk(emb, queries, k=5).collect()}
    got = {(r["query_id"], r["rank"], r["neighbor_id"], r["cos"])
           for r in brute_force_topk_arrow(emb, queries, k=5).collect()}
    assert got == want and got

    # empty query side: empty result, stable schema
    empty = brute_force_topk_arrow(emb, queries.where("vec_id < 0"), k=5)
    assert empty.count() == 0
    assert empty.columns == ["query_id", "neighbor_id", "rank", "cos"]


def test_brute_force_arrow_null_query_and_nan_candidate(spark):
    from paper_layout_parser_spark.operators.similarity import (
        brute_force_topk_arrow,
    )

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.8, 0.2]),
         (3, [float("nan"), 1.0]), (4, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    # NULL query embedding: fail fast with a clear contract error
    with pytest.raises(ValueError, match="NULL"):
        brute_force_topk_arrow(
            emb.unionByName(spark.createDataFrame(
                [(9, None)], "vec_id long, embedding array<double>")),
            spark.createDataFrame([(9, None)],
                                  "vec_id long, embedding array<double>"),
            k=2)
    # NaN-element candidate must rank LAST (the raw NaN score would rank
    # FIRST in Spark's desc window), so the finite candidates win
    got = brute_force_topk_arrow(emb, emb.where("vec_id = 0"), k=3).collect()
    assert [r["neighbor_id"] for r in got] == [1, 2, 4]


def test_brute_force_twins_agree_on_nan_and_null_candidates(spark):
    """The _sanitize_cos degenerate-candidate contract, twin-compared:
    a NaN-element candidate AND a NULL-embedding candidate must produce
    IDENTICAL (rank, neighbor, cos) rows from the native fold and the
    Arrow matmul — cos -inf, ranked last with id tie-break. Pre-fix the
    twins diverged both ways: native ranked the NaN candidate FIRST
    (Spark desc puts NaN above every double) while arrow ranked it
    last, and arrow scored the NULL embedding 0 (mid-ranking, above
    negative-cosine candidates) while native gave it NULL cos."""
    from paper_layout_parser_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_arrow,
    )

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]),
         (2, [-1.0, 0.0]),              # negative cosine, still finite
         (3, [float("nan"), 1.0]),      # NaN element -> cos NaN
         (4, None)],                    # NULL embedding
        "vec_id long, embedding array<double>")
    q = emb.where("vec_id = 0")
    native = [(r["rank"], r["neighbor_id"], r["cos"])
              for r in brute_force_topk(emb, q, k=4)
              .orderBy("rank").collect()]
    arrow = [(r["rank"], r["neighbor_id"], r["cos"])
             for r in brute_force_topk_arrow(emb, q, k=4)
             .orderBy("rank").collect()]
    assert native == arrow
    # finite candidates first (even the negative-cosine one), then the
    # degenerate pair at -inf in id order
    assert [t[1] for t in native] == [1, 2, 3, 4]
    assert native[2][2] == float("-inf") and native[3][2] == float("-inf")
