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


def test_assign_clusters_separated_and_zero_vector(spark):
    """Separated clusters land on their own centroid, and an all-zero
    vector (every cosine 0) tie-breaks to centroid 0."""
    from paper_layout_parser_spark.operators.similarity import (
        assign_clusters,
    )

    dim, n_clusters = 32, 8
    # cluster c's members sit at 10*e_c plus small deterministic noise;
    # one all-zero vector pins the norm guard
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
    got = {r["vec_id"]: r["cluster"]
           for r in assign_clusters(base, centroids).collect()}
    want = {r["vec_id"]: r["want"] for r in base.collect()}
    want[0] = 0
    assert got == want


def test_assign_clusters_null_embedding(spark):
    """A NULL embedding, like the all-zero vector, goes to centroid 0."""
    from paper_layout_parser_spark.operators.similarity import (
        assign_clusters,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    cents = [[1.0, 0.0], [0.0, 1.0]]
    got = {r["vec_id"]: r["cluster"]
           for r in assign_clusters(df, cents).collect()}
    assert got == {0: 0, 1: 0, 2: 1}


def test_brute_force_nan_and_null_candidates_rank_last(spark):
    """The _sanitize_cos degenerate-candidate contract: a NaN-element
    candidate and a NULL-embedding candidate both get cos -inf and rank
    last with id tie-break. Without it Spark's desc window ranks the
    NaN candidate FIRST (NaN sorts above every double)."""
    from paper_layout_parser_spark.operators.similarity import (
        brute_force_topk,
    )

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]),
         (2, [-1.0, 0.0]),              # negative cosine, still finite
         (3, [float("nan"), 1.0]),      # NaN element -> cos NaN
         (4, None)],                    # NULL embedding
        "vec_id long, embedding array<double>")
    q = emb.where("vec_id = 0")
    got = [(r["rank"], r["neighbor_id"], r["cos"])
              for r in brute_force_topk(emb, q, k=4)
              .orderBy("rank").collect()]
    # finite candidates first (even the negative-cosine one), then the
    # degenerate pair at -inf in id order
    assert [t[1] for t in got] == [1, 2, 3, 4]
    assert got[2][2] == float("-inf") and got[3][2] == float("-inf")


@pytest.fixture(scope="module")
def wide_emb(spark):
    """The sf0.001 embeddings concatenated with themselves: 128 elements
    where the operators' default ``dim`` is 64."""
    return spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", F.concat("embedding", "embedding").alias("embedding"))


def test_lsh_topk_rejects_embeddings_of_another_width(wide_emb):
    """zip_with pads the 64-long hyperplane with NULLs, so every dot is
    NULL and every signature would silently come out 0."""
    from paper_layout_parser_spark.operators.similarity import lsh_topk

    with pytest.raises(Exception, match="expected dim=64"):
        lsh_topk(wide_emb, wide_emb.where("vec_id < 4"), k=3).collect()


def test_ivf_training_keeps_the_embedding_width(wide_emb):
    """Training takes the width from the data: 64-long means would make
    every cosine against a 128-long vector NULL (zip_with pads) and send
    every vector to cluster 0."""
    from paper_layout_parser_spark.operators.similarity import (
        assign_clusters,
        train_ivf_centroids,
    )

    cents = train_ivf_centroids(wide_emb, num_centroids=8, max_iter=2)
    assert {len(c) for c in cents} == {128}
    used = assign_clusters(wide_emb, cents).select("cluster").distinct()
    assert used.count() > 1


def test_dot_rejects_vectors_of_different_lengths(spark):
    """zip_with pads the shorter vector with NULLs: a 3-long vector
    against 2-long centroids would go to cluster 0, and as a candidate it
    would rank last at -inf. The shared dot fails the query instead."""
    from paper_layout_parser_spark.operators.similarity import (
        assign_clusters,
        brute_force_topk,
    )

    df = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="vector lengths differ: 3 vs 2"):
        assign_clusters(df, [[1.0, 0.0], [0.0, 1.0]]).collect()
    with pytest.raises(Exception, match="vector lengths differ"):
        brute_force_topk(df, df.where("vec_id = 0"), k=2).collect()
