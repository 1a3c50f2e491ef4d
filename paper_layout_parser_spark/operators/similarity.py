"""Similarity search over an embedding column (array<float>).

  * brute_force_topk — exact cosine top-k per query vector. The correctness
    baseline; O(Q x N) but fully JVM-side (zip_with + aggregate fold, no
    Python), broadcast the query side.
  * lsh_topk         — random-hyperplane (SRP) LSH-bucketed approximate
    variant: candidates share >= 1 hyperplane-sign band, then exact cosine
    re-rank inside candidates. The 100 TB path: shuffle is O(N x bands).
  * cosine_neardup_pairs — all pairs with cosine >= threshold (embedding
    near-duplicate detection).

Cosine accumulates in float64 in element order (aggregate is a sequential
left fold), matching the DuckDB oracle's list_cosine_similarity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.geometry import round_half_up
from .materialize import materialize


def _dot(a: Column, b: Column) -> Column:
    """Dot product; fails the query when both vectors are non-NULL and
    their lengths differ (zip_with would pad the shorter with NULLs and
    the NULL dot would read as a degenerate vector). A NULL vector still
    gives a NULL dot."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.when(F.array_size(a) != F.array_size(b), F.raise_error(
        F.format_string("vector lengths differ: %d vs %d",
                        F.array_size(a), F.array_size(b)))).otherwise(dot)


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either side has zero norm.

    try_divide, not `/`: Spark 4 runs ANSI mode by default, where plain
    double division raises DIVIDE_BY_ZERO — one all-zero embedding in a
    100 TB corpus would kill the whole job (the try_parse_url argument).
    NULL flows into each consumer's existing degenerate handling:
    brute_force_topk sanitizes it to -inf (_sanitize_cos, ranks last),
    ranking windows sort NULL cos last under DESC, and threshold
    filters (embed_neardup) drop it."""
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def _cosine_hoisted(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """``cosine`` with the norm folds precomputed by the caller (r9):
    the interpreted HOF fold costs ~dim steps per aggregate, and the
    naive per-pair cosine runs THREE of them (dot + both norms) — the
    norms are per-VECTOR quantities recomputed once per candidate pair.
    Hoisting them to the pair sides (one fold per row instead of per
    pair) leaves only the dot fold at pair grain: ~3x less interpreted
    work per pair, bit-identical cos (same _norm expression over the
    same values, same try_divide)."""
    return F.try_divide(_dot(a, b), na * nb)


def _sanitize_cos(raw: Column) -> Column:
    """brute_force_topk's degenerate-cosine contract: a cosine that
    comes out NULL — NULL query or candidate embedding, OR a ZERO-NORM
    vector on either side (``cosine`` divides with try_divide, so 0/0 is
    NULL under Spark 4 ANSI, not IEEE NaN) — or NaN (a NaN element
    riding through the fold) becomes -inf, so degenerate candidates
    rank LAST deterministically (id tie-break) under the (cos DESC,
    id ASC) window. Without it Spark's desc window ranks NaN ABOVE
    every double and NULL cos sorts NULLS-LAST, so the two degenerate
    kinds would land at opposite ends of the ranking."""
    return F.when(raw.isNull() | F.isnan(raw),
                  F.lit(float("-inf"))).otherwise(raw)


def _report_cos(col: Column) -> Column:
    """round_half_up goes through F.floor (long-valued) which cannot
    represent -inf — report the -inf sentinel unrounded."""
    return F.when(col == F.lit(float("-inf")),
                  col).otherwise(round_half_up(col, 6))


def brute_force_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """For each query row, the top-k nearest candidates by cosine
    (excluding self), deterministic tie-break on candidate id.
    Degenerate pairs (NULL embedding on either side, NaN element,
    zero-norm vector on either side) report cos = -inf and rank last —
    see _sanitize_cos. A NULL query embedding therefore returns k rows,
    all at -inf, in candidate id order.

    ``queries`` is expected to be small relative to ``embeddings`` —
    broadcast it so the scan over the big side is shuffle-free."""
    # per-vector norms computed once per side (broadcast row / candidate
    # row), not once per (query, candidate) pair — see _cosine_hoisted
    q = F.broadcast(queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
    ))
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"),
    )
    scored = (
        q.crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", _sanitize_cos(_cosine_hoisted(
            F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"))))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank",
                _report_cos(F.col("cos")).alias("cos"))
    )


def srp_signatures(embeddings: DataFrame, num_planes: int = 16,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   dim: int = 64, seed: int = 7) -> DataFrame:
    """Signed-random-projection bit signature, one bit per hyperplane.

    Hyperplane coefficients are a deterministic +/-1 pattern derived from
    xxhash64-free integer mixing (computed driver-side once, shipped as
    literals — no RNG at runtime, reproducible across runs/engines).

    An embedding whose length is not ``dim`` fails the query: zip_with
    pads the shorter array with NULLs, so every plane's dot would come
    out NULL and every such vector would silently get signature 0."""
    import numpy as np

    rng = np.random.RandomState(seed)
    planes = rng.choice([-1.0, 1.0], size=(num_planes, dim))
    vec = F.col(vec_col)
    checked = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.when(F.array_size(vec) != dim, F.raise_error(F.format_string(
            f"srp_signatures: {vec_col} has %d elements, expected dim={dim}",
            F.array_size(vec)))).otherwise(vec).alias("embedding"),
    )
    sig = F.lit(0).cast("long")
    for p in range(num_planes):
        coeffs = F.array(*[F.lit(float(v)) for v in planes[p]])
        dot = _dot(F.col("embedding"), coeffs)
        sig = sig.bitwiseOR(
            F.when(dot >= 0, F.shiftleft(F.lit(1).cast("long"), p))
            .otherwise(F.lit(0).cast("long"))
        )
    return checked.select("vec_id", "embedding", sig.alias("srp_sig"))


def lsh_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
             num_planes: int = 24, bands: int = 8,
             id_col: str = "vec_id", vec_col: str = "embedding",
             dim: int = 64, max_bucket: int | None = 4096,
             checkpoint=None) -> DataFrame:
    """Approximate top-k: SRP band-bucket candidate join + exact cosine
    re-rank. Recall < 1 by construction; the scale path when Q x N is too
    large to brute-force. Defaults (24 planes / 8 bands of 3 bits) measure
    ~86% top-10 recall on the near-uniform driver embeddings; band
    selectivity should grow with corpus size (more planes per band).

    ``max_bucket`` caps the candidate side per (band, bucket) — a hot
    bucket (mirrored embeddings, zero vectors) otherwise multiplies every
    query hitting it (see dedup.cap_buckets).

    Every embedding must have ``dim`` elements (see srp_signatures)."""
    from .dedup import cap_buckets

    rows = num_planes // bands
    mask = (1 << rows) - 1
    # both the query side and the candidate side derive from sigs —
    # materialized, so neither re-computes every plane dot product over a
    # fresh corpus scan (see dedup.minhash_lsh_pairs); checkpoint= swaps
    # localCheckpoint for a durable catalog table
    sigs = materialize(
        srp_signatures(embeddings, num_planes, id_col, vec_col, dim),
        checkpoint, "srp_sigs")
    # per-vector norm computed once per signature row (pre-explode), not
    # once per candidate pair inside the re-rank — see _cosine_hoisted
    sigs = sigs.withColumn("vnorm", _norm(F.col("embedding")))

    def banded(df: DataFrame, side: str) -> DataFrame:
        return df.select(
            F.col("vec_id").alias(f"{side}_id"),
            F.col("embedding").alias(f"{side}_v"),
            F.col("vnorm").alias(f"{side}_n"),
            F.explode(F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright(F.col("srp_sig"), b * rows)
                    .bitwiseAND(F.lit(mask)).alias("bucket"),
                )
                for b in range(bands)
            ])).alias("bb"),
        ).select(f"{side}_id", f"{side}_v", f"{side}_n",
                 "bb.band", "bb.bucket")

    qs = banded(
        sigs.join(queries.select(F.col(id_col).alias("vec_id")), "vec_id"), "q"
    )
    cs = cap_buckets(banded(sigs, "c"), max_bucket, "c_id")
    cands = (
        F.broadcast(qs).join(cs, ["band", "bucket"])
        .where(F.col("q_id") != F.col("c_id"))
        .select("q_id", "q_v", "q_n", "c_id", "c_v", "c_n")
        .distinct()
    )
    scored = cands.withColumn("cos", _cosine_hoisted(
        F.col("q_v"), F.col("c_v"), F.col("q_n"), F.col("c_n")))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col("q_id").alias("query_id"), F.col("c_id").alias("neighbor_id"),
                "rank", round_half_up(F.col("cos"), 6).alias("cos"))
    )


# Scale for the fixed-point element sums inside k-means mean updates:
# sum(round(v * SCALE)) is an INTEGER aggregate (associative, partition-order
# independent) where a plain avg() over doubles is not — this is what makes
# centroid training bit-deterministic across runs AND reproducible by the
# DuckDB oracle. 2^24 keeps ~7 decimal digits per element and bounds the
# per-cluster sum to |v|max * 2^24 * rows (well inside int64 at any tested
# scale; lower it if a single cluster could exceed 2^53 rows*|v|).
IVF_MEAN_SCALE = float(1 << 24)


def _centroid_rows(centroids: list[list[float]]) -> list[tuple]:
    import math

    return [
        (i, [float(v) for v in c], math.sqrt(sum(v * v for v in c)) or 1.0)
        for i, c in enumerate(centroids)
    ]


def with_centroid_table(df: DataFrame, centroids: list[list[float]],
                        col: str = "__ctab") -> DataFrame:
    """Attach the centroid table as ONE array<struct> column via a one-row
    broadcast cross join. This is the scale-safe replacement for inlining
    every centroid as expression literals (``assign_cluster``): expression
    size is O(1) in the number of centroids — C only grows the broadcast
    relation (C x dim doubles, kilobytes) — so ``num_centroids`` in the
    thousands (real 100 TB IVF: nlist ~ sqrt(N)) never chokes Catalyst
    analysis or codegen. Norms are precomputed driver-side (``or 1.0``
    guard for zero vectors, mirrored by the oracle's CASE)."""
    one = df.sparkSession.createDataFrame(
        [(_centroid_rows(centroids),)],
        f"{col} array<struct<cid:int,cvec:array<double>,cnorm:double>>",
    )
    return df.crossJoin(F.broadcast(one))


def cluster_scores(vec: Column, ctab: Column) -> Column:
    """array<struct<s,negc>> of cosine scores against every centroid in the
    attached table. negc = -cid so array_max / descending sorts tie-break
    toward the LOWEST centroid id (same contract as assign_cluster and the
    oracle's ORDER BY cos DESC, cid ASC). Zero vectors score 0 against
    every centroid (norm guarded to 1, mirroring the centroid-side
    ``or 1.0`` guard) and tie-break to the lowest cid instead of
    raising DIVIDE_BY_ZERO under ANSI mode — a 100 TB embedding corpus
    will contain the occasional all-zero row."""
    vnorm = _norm(vec)
    vnorm = F.when(vnorm == 0.0, F.lit(1.0)).otherwise(vnorm)
    return F.transform(
        ctab,
        lambda cc: F.struct(
            (_dot(vec, cc["cvec"]) / (vnorm * cc["cnorm"])).alias("s"),
            (-cc["cid"]).alias("negc"),
        ),
    )


def assign_clusters(df: DataFrame, centroids: list[list[float]],
                    vec_col: str = "embedding",
                    out_col: str = "cluster") -> DataFrame:
    """Adds ``out_col`` = argmax-cosine centroid id (ties -> lowest cid).
    One broadcast cross join + one O(1)-size projection regardless of C —
    see with_centroid_table."""
    df2 = with_centroid_table(df, centroids)
    best = F.array_max(cluster_scores(F.col(vec_col), F.col("__ctab")))
    return df2.withColumn(out_col, (-best["negc"]).cast("int")).drop("__ctab")


def train_ivf_centroids(embeddings: DataFrame, num_centroids: int = 16,
                        max_iter: int = 5, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        sample_fraction: float = 1.0,
                        sample_salt: str = "plp-ivf",
                        init_hash: str = "xxhash64") -> list[list[float]]:
    """Deterministic spherical k-means coarse quantizer (the IVF index's
    centroid table). Classic Spark k-means shape: centroids live on the
    DRIVER (C x dim doubles — tiny) and ship via a one-row broadcast table
    (with_centroid_table — expression size O(1) in C); each Lloyd iteration
    is one scan (assign = argmax cosine) + one groupBy computing
    element-wise means. Means aggregate SCALED-INTEGER element sums
    (sum(floor(v * 2^24 + 0.5)) as long — associative, so the result is
    bit-identical across runs, partition counts, AND engines; double
    avg() is partition-order dependent) and divide driver-side. No RNG at
    runtime: init picks the hash-ordered top-C vectors, so runs agree;
    ``init_hash='md5'`` swaps xxhash64 for md5 ordering so an independent
    engine (the DuckDB oracle) can re-derive the identical init set and
    replay the whole training bit-for-bit (same pattern as the md5
    MinHash/SimHash families).

    ``sample_fraction`` < 1 trains on a deterministic md5 hex-threshold
    sample (curation.hex_bound — the same engine-portable mechanism as
    assign_split; no RNG, a pure codegen filter Catalyst pushes into the
    scan). At 100 TB this is the difference between ``max_iter``+1 full
    corpus scans and scans of a centroid-training sample that fits a few
    executors; centroid quality needs only a representative sample, and
    the ASSIGNMENT plan (the part that must see every row) is unchanged.

    The vector width comes from the first init vector; every embedding
    must have that many elements."""
    train = embeddings
    if sample_fraction < 1.0:
        from .curation import hex_bound, salted_h8

        train = embeddings.where(
            salted_h8(sample_salt, id_col) < F.lit(hex_bound(sample_fraction))
        )
    # init: a deterministic pseudo-random sample via hash-ordered top-N —
    # orderBy+limit plans as TakeOrderedAndProject (distributed top-N),
    # never a global sort; no RNG, so runs/engines agree. The limit also
    # clamps num_centroids to the corpus size for free (no count() scan).
    order = (F.md5(F.col(id_col).cast("string")) if init_hash == "md5"
             else F.xxhash64(F.col(id_col).cast("string")))
    init = (
        train.orderBy(order, id_col)
        .limit(max(1, num_centroids))
        .select(vec_col)
        .collect()
    )
    centroids = [[float(v) for v in r[0]] for r in init]
    if not centroids:
        raise ValueError(
            "train_ivf_centroids: the training input is empty "
            f"(sample_fraction={sample_fraction}); raise sample_fraction — "
            "an empty centroid table would silently return zero neighbors "
            "for every query"
        )
    dim = len(centroids[0])
    S = IVF_MEAN_SCALE
    for _ in range(max_iter):
        assigned = assign_clusters(train, centroids, vec_col, "__c")
        means = assigned.groupBy("__c").agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(
                F.floor(F.col(vec_col)[i].cast("double") * S + F.lit(0.5))
                .cast("long")
            ).alias(f"s{i}") for i in range(dim)]
        ).collect()
        new = list(centroids)
        for r in means:
            n = float(r["n"])
            new[r["__c"]] = [float(r[f"s{i}"]) / n / S for i in range(dim)]
        if new == centroids:
            break
        centroids = new
    return centroids


def assign_cluster(vec: Column, centroids: list[list[float]]) -> Column:
    """LEGACY small-C column-expression variant of assign_clusters: inlines
    every centroid as literals, so the expression tree is C x dim nodes —
    fine at C=16, but a real IVF wants nlist in the thousands where this
    chokes Catalyst. Kept as the independent parity twin for
    assign_clusters (tested equal at C=16); new code should use
    assign_clusters (broadcast centroid table, O(1) expression size).
    Ties -> lowest centroid index, same contract as assign_clusters
    (including the zero-vector norm guard)."""
    import math

    vnorm = _norm(vec)
    vnorm = F.when(vnorm == 0.0, F.lit(1.0)).otherwise(vnorm)
    scores = F.array(*[
        F.struct(
            (_dot(vec, F.array(*[F.lit(v) for v in c]))
             / (vnorm * F.lit(math.sqrt(sum(v * v for v in c)) or 1.0))
             ).alias("s"),
            F.lit(-i).alias("negc"),   # struct order: max s, then MIN index
        )
        for i, c in enumerate(centroids)
    ])
    return -F.array_max(scores)["negc"]


def ivf_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
             num_centroids: int = 16, nprobe: int = 4, max_iter: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             sample_fraction: float = 1.0,
             init_hash: str = "xxhash64",
             centroids: list | None = None,
             assigned: DataFrame | None = None) -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus into
    ``num_centroids`` inverted lists, probe each query against its
    ``nprobe`` nearest lists only, exact cosine re-rank inside the probed
    lists. The second scale path next to lsh_topk (the brief's "IVF or
    LSH-bucketed variant"): candidate volume is ~N * nprobe/num_centroids
    per query instead of N, and the big side shuffles once on the cluster
    id. Recall < 1 by construction; raise nprobe to trade compute back for
    recall (nprobe = num_centroids degenerates to exact).
    ``sample_fraction`` bounds centroid TRAINING to a deterministic sample
    (see train_ivf_centroids); assignment still covers every row.
    ``init_hash='md5'`` makes the whole surface (training included)
    reproducible by the DuckDB oracle — see train_ivf_centroids.
    ``centroids=`` (a pre-trained list of centroid vectors, e.g. from
    train_ivf_centroids) skips training — the production shape, where
    one trained index serves many query batches; ``assigned=`` (the
    embeddings frame with a ``cluster`` column, e.g. a persisted
    assign_clusters output) additionally skips corpus assignment, so
    nprobe varies per call against one materialized inverted index
    (BENCH/ANN_CAPACITY.md's query-leg probe)."""
    if assigned is not None and centroids is None:
        raise ValueError("assigned= requires centroids= (probe "
                         "selection scores queries against the same "
                         "centroid table the index was built with)")
    if centroids is None:
        centroids = train_ivf_centroids(
            embeddings, num_centroids, max_iter, id_col, vec_col,
            sample_fraction=sample_fraction, init_hash=init_hash,
        )
    if assigned is not None:
        assigned = assigned.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cv"), F.col("cluster"),
        )
    else:
        assigned = assign_clusters(
            embeddings.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("cv")
            ),
            centroids, "cv", "cluster",
        )
    # per query: nprobe nearest centroids -> explode to (query, cluster).
    # array_sort ascending on (s, negc) then reverse = s DESC, cid ASC on
    # ties — identical to the oracle's ORDER BY cos DESC, cid ASC.
    q = with_centroid_table(
        queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qv")),
        centroids,
    )
    scores = cluster_scores(F.col("qv"), F.col("__ctab"))
    probes = (
        q.withColumn("__probe",
                     F.slice(F.reverse(F.array_sort(scores)), 1, nprobe))
        .select("query_id", "qv",
                F.explode(F.transform(
                    "__probe", lambda x: (-x["negc"]).cast("int")
                )).alias("cluster"))
    )
    # per-vector norms once per probe row / corpus row, not per candidate
    # pair inside the probed-list re-rank — see _cosine_hoisted
    scored = (
        F.broadcast(probes.withColumn("qn", _norm(F.col("qv"))))
        .join(assigned.withColumn("cn", _norm(F.col("cv"))), "cluster")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", _cosine_hoisted(
            F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank",
                round_half_up(F.col("cos"), 6).alias("cos"))
    )


def cosine_neardup_lsh(embeddings: DataFrame, threshold: float = 0.4,
                       num_planes: int = 24, bands: int = 8,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       dim: int = 64, max_bucket: int | None = 256,
                       checkpoint=None) -> DataFrame:
    """Embedding near-dup pairs at scale: SRP band-bucket candidates
    (O(N x bands) shuffle, never O(N^2)) verified with exact cosine.
    Precision 1.0 vs cosine_neardup_pairs; recall < 1 by construction.
    ``max_bucket`` bounds the in-bucket join against viral duplicates
    (see dedup.cap_buckets). Every embedding must have ``dim`` elements
    (see srp_signatures)."""
    from .dedup import cap_buckets

    rows = num_planes // bands
    mask = (1 << rows) - 1
    # materialized: the banded self-join would otherwise re-compute every
    # plane dot product on both sides (see dedup.minhash_lsh_pairs);
    # checkpoint= swaps localCheckpoint for a durable catalog table
    sigs = materialize(
        srp_signatures(embeddings, num_planes, id_col, vec_col, dim),
        checkpoint, "srp_neardup_sigs")
    # per-vector norm once per signature row (pre-explode), not per
    # verified candidate pair — see _cosine_hoisted
    banded = sigs.withColumn("vnorm", _norm(F.col("embedding"))).select(
        "vec_id", "embedding", "vnorm",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("srp_sig"), b * rows)
                .bitwiseAND(F.lit(mask)).alias("bucket"),
            )
            for b in range(bands)
        ])).alias("bb"),
    ).select("vec_id", "embedding", "vnorm", "bb.band", "bb.bucket")
    banded = cap_buckets(banded, max_bucket, "vec_id")
    a = banded.alias("a")
    b = banded.alias("b")
    cands = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("id_a"), F.col("a.embedding").alias("va"),
                F.col("a.vnorm").alias("na"),
                F.col("b.vec_id").alias("id_b"), F.col("b.embedding").alias("vb"),
                F.col("b.vnorm").alias("nb"))
        .distinct()
    )
    cos = _cosine_hoisted(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
    return (
        cands.withColumn("cos", cos)
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", round_half_up(F.col("cos"), 6).alias("cos"))
    )


def cosine_neardup_pairs(embeddings: DataFrame, threshold: float = 0.4,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """All (a < b) pairs with cosine >= threshold. Exact; at scale, use
    cosine_neardup_lsh (SRP candidates) instead of the pairwise join."""
    # per-vector norms once per side row, not per pair — _cosine_hoisted
    a = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
                          _norm(F.col(vec_col)).alias("na"))
    b = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
                          _norm(F.col(vec_col)).alias("nb"))
    cos = _cosine_hoisted(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cos)
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", round_half_up(F.col("cos"), 6).alias("cos"))
    )
