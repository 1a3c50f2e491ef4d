"""Deduplication operators for web-scale corpora.

Four strategies, each a standalone DataFrame operator:

  * exact_dedup          — hash-groupBy on the raw text (map-side combine;
                           one shuffle keyed on the text hash).
  * jaccard_pairs        — EXACT n-gram Jaccard via a shingle self-join.
                           The correctness oracle for the approximate paths;
                           quadratic in the worst case, so at 100 TB it runs
                           only inside LSH candidate buckets.
  * minhash_lsh_pairs    — MinHash signatures + banded LSH: candidates from
                           band-bucket joins, verified with exact Jaccard.
                           The production-scale path: shuffle volume is
                           O(docs x bands), never O(docs^2).
  * simhash64            — 64-bit SimHash (xxhash64 token hashes, native
                           bit aggregation) + banded Hamming-distance pairs.

Embedding-cosine near-dup lives in operators.similarity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.geometry import round_half_up
from ..functions.text import WS_SPLIT, shingles, words
from .materialize import materialize

DEFAULT_SHINGLE_K = 3


def exact_dedup(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", verify: bool = False,
                hash_fn=None) -> DataFrame:
    """One row per distinct text: the kept (minimum) id and the copy count.

    The grouping key is (hash_fn(text), length(text)), NOT the raw text —
    at 100 TB, shuffling full document bodies as the exchange key is the
    dominant cost; the narrow composite key shuffles only ids + counts
    after the map-side combine. Default hash_fn is xxhash64 (16-byte key):
    collision odds qualified by exact length are ~n²/2⁶⁵ (≈10⁻⁸ even at
    10⁹ distinct docs); where that is not acceptable, pass
    ``hash_fn=lambda c: F.sha2(c, 256)`` — same plan shape, 40-byte key
    (same knob as curation.clean_corpus's dup_hash).

    ``verify=True`` additionally carries a second independent 128-bit
    fingerprint (md5) through the aggregation and RAISES if any hash group
    mixes fingerprints — an O(rows) audit for the paranoid path, still
    never shuffling the text itself. The aggregate is persisted across the
    audit count and the result projection, which is materialized (eager
    local checkpoint, computed straight from the cache) so the cache can
    be dropped before returning — nothing stays pinned in the cache
    manager after the call."""
    hash_fn = hash_fn or F.xxhash64
    grouped = docs.groupBy(
        hash_fn(F.col(text_col)).alias("__h"),
        F.length(F.col(text_col)).alias("__len"),
    )
    if not verify:
        return grouped.agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        ).select("keep_id", "n_copies")
    agg = grouped.agg(
        F.min(id_col).alias("keep_id"),
        F.count("*").alias("n_copies"),
        F.countDistinct(F.md5(F.col(text_col))).alias("__n_md5"),
    ).persist()
    try:
        collisions = agg.where(F.col("__n_md5") > 1).count()
        if collisions:
            raise ValueError(
                f"exact_dedup: {collisions} xxhash64+length group(s) mix md5 "
                "fingerprints — rerun keyed on sha2(text, 256)"
            )
        return agg.select("keep_id", "n_copies").localCheckpoint(eager=True)
    finally:
        agg.unpersist()


def cap_buckets(banded: DataFrame, max_bucket: int | None, order_col: str,
                keys: tuple[str, str] = ("band", "bucket")) -> DataFrame:
    """Hot-bucket guard for banded LSH joins: keep at most ``max_bucket``
    members per (band, bucket), deterministically (lowest ids win).

    Why: a viral duplicate (the same page mirrored across millions of urls)
    puts all its copies in the SAME bucket of EVERY band — the in-bucket
    join goes quadratic exactly where the corpus is most skewed. Capping
    bounds per-bucket work at max_bucket² while leaving normal buckets
    (≤ cap) untouched, so recall on non-viral pairs is unchanged. Run
    ``exact_dedup`` FIRST so byte-identical copies are collapsed by the
    cheap hash path; the cap then only guards near-duplicate floods.

    The window shuffles on the same (band, bucket) key as the downstream
    join, so AQE coalesces the two exchanges; per-bucket cost is the sort,
    O(n log n), never the n² join."""
    if not max_bucket:
        return banded
    w = Window.partitionBy(*keys).orderBy(order_col)
    return (
        banded.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= max_bucket)
        .drop("__rn")
    )


def _shingle_sets(docs: DataFrame, id_col: str, text_col: str,
                  k: int) -> DataFrame:
    """(doc_id, sh): each document's distinct k-word shingle array — the
    one shingling every operator here runs (see functions.text.ngrams)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        shingles(words(F.col(text_col)), k).alias("sh"),
    )


def jaccard_pairs(docs: DataFrame, threshold: float = 0.3,
                  id_col: str = "doc_id", text_col: str = "text",
                  k: int = DEFAULT_SHINGLE_K,
                  checkpoint=None) -> DataFrame:
    """Exact pairwise n-gram Jaccard >= threshold (a < b).

    Jaccard is computed from integer intersection/union counts, so the
    double division is bit-identical across engines.

    The shingle set is referenced three times (counts + both join sides),
    so it is materialized once — as the per-doc ARRAY (r9), not the
    exploded table: the per-doc shingle count is then
    ``size(sh)`` (a projection — the former count(*) aggregation stage
    and its exchange disappear; identical values, since explode drops
    exactly the zero-shingle docs that contribute no count row and an
    inner join ignores their extra n=0 rows) and both self-join sides
    explode the same materialized arrays. ``checkpoint=`` a Catalog
    swaps the localCheckpoint for a durable catalog table on clusters
    (operators.materialize).

    Precondition: ``id_col`` values must be unique (one row per
    document), as for remove_duplicate_spans. Rows that share an id are
    never compared with each other (a < b), and each pair they are in
    comes out once per such row with the shingle matches of all of them
    summed — a Jaccard above 1 is possible. Dedup the ids upstream.
    """
    sets = materialize(_shingle_sets(docs, id_col, text_col, k),
                       checkpoint, "jaccard_shingles")
    sh = sets.select("doc_id", F.explode("sh").alias("s"))
    cnt = sets.select("doc_id", F.size("sh").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("m"))
    )
    ca = cnt.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    cb = cnt.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    jacc = F.col("m") / (F.col("na") + F.col("nb") - F.col("m"))
    return (
        inter.join(ca, "id_a").join(cb, "id_b")
        .withColumn("jaccard", round_half_up(jacc, 6))
        .where(jacc >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(shingle_sets: DataFrame, num_hashes: int = 32,
                       hash_family: str = "xxhash64") -> DataFrame:
    """doc_id + sig_0..sig_{n-1} MinHash signature columns over a
    (doc_id, sh) frame of per-document shingle arrays — the one that
    minhash_lsh_pairs materializes and also verifies candidates against.

    Hash families (``hash_family``):
      * 'xxhash64' (default) — xxhash64(seed_i, shingle), JVM-side, the
        fast production family; signatures are 64-bit longs.
      * 'md5' — the first 16 hex chars of md5(i || ':' || shingle),
        compared as STRINGS (lexicographic min over ASCII hex == numeric
        min over the 64-bit prefix). ~2-3x slower, but any engine with an
        md5 function reproduces every signature bit-for-bit — this is the
        family the driver-graded DuckDB oracle checks. Same plan shape.

    The min-aggregation is map-side combinable, so the exchange carries
    one 32-column row per (task, doc), not the shingle blow-up.

    Why explode + groupBy and NOT a per-row
    ``array_min(transform(shingles, ...))``: the HOF variant computes
    bit-identical values with no shuffle, but measured 1.4-2x SLOWER end to
    end in ``minhash_lsh_pairs`` at sf0.1 — without an exchange the
    computation inherits the scan's partitioning (a single-row-group
    parquet file = ONE task doing every hash), and the downstream
    band-bucket SELF-join loses the exchange reuse that lets both sides
    read one computed copy. The aggregation's shuffle is the cheap,
    reusable cut point."""
    sh = shingle_sets.select("doc_id", F.explode("sh").alias("s"))
    if hash_family == "xxhash64":
        aggs = [
            F.min(F.xxhash64(F.lit(i), F.col("s"))).alias(f"sig_{i}")
            for i in range(num_hashes)
        ]
    elif hash_family == "md5":
        aggs = [
            F.min(F.substring(
                F.md5(F.concat(F.lit(f"{i}:"), F.col("s"))), 1, 16
            )).alias(f"sig_{i}")
            for i in range(num_hashes)
        ]
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(docs: DataFrame, threshold: float = 0.5,
                      num_hashes: int = 32, bands: int = 8,
                      id_col: str = "doc_id", text_col: str = "text",
                      k: int = DEFAULT_SHINGLE_K,
                      max_bucket: int | None = 256,
                      hash_family: str = "xxhash64",
                      checkpoint=None) -> DataFrame:
    """LSH candidate generation + exact-Jaccard verification.

    bands x rows layout (rows = num_hashes // bands). With 8 bands of 4
    rows, recall at J=0.8 is ~0.985 and at J=0.9 ~1.0 — the regime that
    matters for near-duplicate removal. Candidates are verified with exact
    Jaccard so precision is 1.0 relative to `jaccard_pairs`.

    ``max_bucket`` is the viral-duplicate guard (see ``cap_buckets``):
    per-bucket join work is bounded at max_bucket² instead of going
    quadratic in the number of copies of the hottest page. Pass None to
    disable (exact twin behavior on corpora known to be dedup'd).

    ``hash_family``: 'xxhash64' (fast, production default) or 'md5'
    (engine-portable — the DuckDB oracle recomputes signatures, buckets,
    capped candidates, and verified pairs bit-for-bit; see
    minhash_signatures). Identical plan either way.

    The signature table and the verification shingle-set table are
    materialized once: the banded SELF-join would otherwise duplicate the
    whole signature subplan (both x and y re-scan and re-hash the corpus)
    and the verification join scan it twice more — 4 corpus scans
    instead of 2 tiny-table reads. ``checkpoint`` picks the
    materialization medium (see operators.materialize): None =
    localCheckpoint (sandbox fast path, non-replicated); a
    sources.catalog.Catalog = committed catalog tables that survive
    executor loss on a cluster. Identical results either way
    (twin-tested).

    Precondition: ``id_col`` values must be unique (one row per
    document), as for jaccard_pairs. Rows that share an id get one merged
    signature, are never compared with each other (a < b), and each pair
    they are in comes out once per such row. Dedup the ids upstream.
    """
    rows = num_hashes // bands
    # shingle the corpus ONCE: the per-doc shingle arrays feed both the
    # signature aggregation (via explode) and the verification join
    shingle_sets = materialize(_shingle_sets(docs, id_col, text_col, k),
                               checkpoint, "shingle_sets")
    sigs = materialize(minhash_signatures(shingle_sets, num_hashes, hash_family),
                       checkpoint, "minhash_sigs")

    def band_bucket(b: int):
        cols = [F.col(f"sig_{b * rows + r}") for r in range(rows)]
        if hash_family == "md5":
            # string signatures: re-hash the '|'-joined band slice (md5 —
            # still engine-portable); xxhash64 longs re-hash natively
            return F.md5(F.concat_ws("|", *cols))
        return F.xxhash64(*cols)

    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            band_bucket(b).alias("bucket"),
        )
        for b in range(bands)
    ])
    banded = sigs.select("doc_id", F.explode(band_structs).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    banded = cap_buckets(banded, max_bucket, "doc_id")
    x = banded.alias("x")
    y = banded.alias("y")
    candidates = (
        x.join(y, (F.col("x.band") == F.col("y.band"))
               & (F.col("x.bucket") == F.col("y.bucket"))
               & (F.col("x.doc_id") < F.col("y.doc_id")))
        .select(F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b"))
        .distinct()
    )
    # verify ONLY candidates: attach each side's distinct shingle set and
    # compute exact Jaccard natively (array_intersect) — O(candidates), so
    # the full pairwise join never happens (this is the whole point of LSH)
    sa = shingle_sets.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = shingle_sets.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    m = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    jacc = m / (F.size("sh_a") + F.size("sh_b") - m)
    return (
        candidates.join(sa, "id_a").join(sb, "id_b")
        .withColumn("jaccard", round_half_up(jacc, 6))
        .where(jacc >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def duplicate_clusters(pairs: DataFrame, docs: DataFrame | None = None,
                       id_col: str = "doc_id", max_iter: int = 25) -> DataFrame:
    """Connected components over near-duplicate pairs -> (doc_id,
    cluster_id), cluster_id = the minimum doc id of the component (the
    kept representative). The step AFTER pair generation in a real dedup
    pipeline: transitive duplicates (a~b, b~c) must collapse to ONE
    representative even when (a, c) was never emitted as a pair.

    Algorithm: iterative min-label propagation with POINTER JUMPING
    (label <- label-of-label each round), so convergence is O(log diameter)
    rounds, not O(diameter) — the distinction that matters when a viral
    near-dup chain spans millions of docs. Each round is two equi-joins +
    a groupBy; ``localCheckpoint`` cuts the iterative lineage so the plan
    doesn't grow (on a cluster, checkpoint to the catalog instead). The
    loop exits early when no label changes.

    ``docs`` (optional) adds singleton rows (cluster_id = own id) for
    documents that appear in no pair.
    """
    e = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    edges = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().localCheckpoint(eager=False)
    labels = (
        edges.select(F.col("a").alias("id")).distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges["b"] == labels["id"])
            .groupBy("a").agg(F.min("label").alias("nlabel"))
        )
        stepped = (
            labels.join(nbr, labels["id"] == nbr["a"], "left")
            .select(
                "id",
                F.least(F.col("label"),
                        F.coalesce("nlabel", F.col("label"))).alias("label"),
            )
        )
        # pointer jumping: follow label -> label(label)
        l2 = stepped.select(F.col("id").alias("lid"), F.col("label").alias("llabel"))
        jumped = (
            stepped.join(l2, stepped["label"] == l2["lid"], "left")
            .select("id", F.coalesce("llabel", "label").alias("label"))
            .localCheckpoint()
        )
        changed = (
            jumped.alias("n").join(labels.alias("o"), "id")
            .where(F.col("n.label") != F.col("o.label")).count()
        )
        labels = jumped
        if changed == 0:
            break
    out = labels.select(F.col("id").alias(id_col), F.col("label").alias("cluster_id"))
    if docs is not None:
        return (
            docs.select(id_col).join(out, id_col, "left")
            .select(id_col,
                    F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"))
        )
    return out


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  n: int = 13, id_col: str = "doc_id", text_col: str = "text",
                  bench_text_col: str = "text", mode: str = "flag") -> DataFrame:
    """Train/test decontamination: mark (or drop) training documents that
    share ANY n-gram with a benchmark/eval corpus — the n-gram-overlap
    rule LM data pipelines apply before training (13-gram is the common
    published choice).

    Scale shape: the benchmark side is small (eval sets), so its DISTINCT
    shingle set is broadcast; the corpus side streams through a broadcast
    semi-join — the 100 TB training table is never shuffled. Both sides
    are shingled by ``_shingle_sets`` (n-word shingles, as the other
    operators here). ``mode``:
      * 'flag' — docs + boolean ``contaminated`` column (audit surface);
      * 'drop' — contaminated docs removed (the production filter).
    """
    # the benchmark has no id column: its text stands in, and is pruned
    bench_sh = _shingle_sets(benchmark, bench_text_col, bench_text_col, n) \
        .select(F.explode("sh").alias("s")).distinct()
    doc_sh = _shingle_sets(docs, id_col, text_col, n).select(
        F.col("doc_id").alias(id_col), F.explode("sh").alias("s"))
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "s", "left_semi")
        .select(id_col).distinct()
    )
    if mode == "drop":
        return docs.join(hits, id_col, "left_anti")
    if mode != "flag":
        raise ValueError(f"unknown mode {mode!r}")
    return docs.join(
        hits.withColumn("contaminated", F.lit(True)), id_col, "left"
    ).withColumn("contaminated", F.coalesce(F.col("contaminated"), F.lit(False)))


def dedup_lines(docs: DataFrame, max_occurrences: int = 1,
                id_col: str = "doc_id", text_col: str = "text",
                min_line_chars: int = 1) -> DataFrame:
    """CORPUS-level line deduplication — the classic web-corpus boilerplate
    filter (C4 / CCNet / RefinedWeb all apply a variant): any line whose
    verbatim occurrence count ACROSS THE CORPUS exceeds ``max_occurrences``
    is dropped from every document ("Share on Facebook", cookie notices,
    nav menus), and each document's text is reassembled from its surviving
    lines in original order.

    Lines shorter than ``min_line_chars`` are EXEMPT from the rule and
    always kept — with the default (1), blank lines survive, so paragraph
    breaks are preserved (a corpus-wide count would classify the empty
    string itself as viral boilerplate and silently collapse every
    document's paragraph structure). Raise it to also exempt trivially
    short separator lines.

    Returns (id, clean_text, n_lines_kept, n_lines_dropped) — one row per
    input document (a fully-boilerplate doc keeps the row with empty text).

    Scale shape: the global count groups on (xxhash64(line), length(line))
    — the 16-byte key discipline of exact_dedup, so the corpus-wide count
    exchange never carries line bodies; the flag join is equi on the same
    narrow key; reassembly is one groupBy(id) with an array_sort fold over
    (line_no, line, keep) structs (bounded by a single document's lines).
    All occurrences of an over-limit line are dropped (not first-kept):
    keeping "the first" needs a global order over 10¹² rows and the
    boilerplate-removal semantics want the line gone everywhere anyway.

    A NULL text column is treated as the empty string (posexplode of
    split(NULL) would otherwise yield no rows and silently drop the
    document, breaking the one-row-per-input contract)."""
    lines = docs.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("line_no", "line"),
    ).withColumn("__h", F.xxhash64("line")).withColumn("__len", F.length("line"))
    counts = lines.groupBy("__h", "__len").agg(F.count("*").alias("__cnt"))
    flagged = lines.join(counts, ["__h", "__len"]).withColumn(
        "__keep",
        (F.col("__cnt") <= max_occurrences)
        | (F.col("__len") < min_line_chars),
    )
    folded = flagged.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct("line_no", "line", "__keep"))
        ).alias("ls")
    )
    kept = F.filter(F.col("ls"), lambda s: s["__keep"])
    return folded.select(
        id_col,
        F.array_join(F.transform(kept, lambda s: s["line"]), "\n")
        .alias("clean_text"),
        F.size(kept).alias("n_lines_kept"),
        (F.size("ls") - F.size(kept)).alias("n_lines_dropped"),
    )


def remove_duplicate_spans(docs: DataFrame, n: int = 8,
                           min_count: int = 2,
                           id_col: str = "doc_id",
                           text_col: str = "text",
                           out_col: str = "deduped_text",
                           checkpoint=None) -> DataFrame:
    """CORPUS-level duplicate-SPAN removal — the Spark-relational analog
    of exact-substring deduplication (Lee et al., "Deduplicating
    Training Data Makes Language Models Better": cut any span that
    occurs verbatim elsewhere in the corpus). Word-level approximation:
    every token covered by an ``n``-word window whose window occurs
    ``min_count``-or-more times ACROSS THE CORPUS (including repeats
    inside one document) is removed, and each TOUCHED document's text
    is reassembled from its surviving tokens in original order,
    single-space joined (whitespace runs in touched documents are
    normalized — the operator is about token content, not layout; run
    it before, not after, layout-sensitive steps). Documents with NO
    covered position — at production dup rates the vast majority —
    pass through BYTE-IDENTICAL (``out_col`` is the original
    ``text_col`` value, NULL stays NULL) with ``n_tokens_removed`` 0,
    and never enter the tokenize / anti-join / reassembly legs.
    Complements dedup_lines (verbatim LINES) and MinHash (whole
    near-dup DOCUMENTS): this catches boilerplate paragraphs pasted
    mid-text that neither of those sees.

    Returns the input columns plus ``out_col`` and
    ``n_tokens_removed``; one row per input document (a fully-
    duplicated document keeps its row with empty text). Documents
    shorter than ``n`` words contribute no windows and come back
    untouched. Precondition: ``id_col`` values must be unique (one row
    per document — the dedup_lines contract). A duplicated id would
    multiply rows in the final meta join (2 doc rows x 2 meta rows =
    4 output rows) and double-count that document's windows in the
    corpus tally; dedup upstream (dedup_exact) first.

    Scale shape: windows explode to (len - n + 1) rows per document —
    linear in corpus tokens, and inherently so (every token must be
    counted to KNOW a document is untouched); the corpus-wide count
    groups on xxhash64(window) (16-byte keys, partial aggregation
    combines the viral boilerplate window map-side); the flag join is
    a LEFT SEMI against one row per duplicated key; coverage explodes
    n positions per duplicated window (bounded by n x hits) onto
    narrow (id, pos) ints. Reassembly (r8) is ARRAY-based: the
    coverage set folds to one sorted position array per touched doc
    (rows proportional to DUPLICATED positions only, never the
    corpus), inner-joins the tokenized doc (the join IS the
    untouched-doc gate), and the text rebuilds per-row via
    array_except + transform — no token-grain shuffle anywhere in the
    reassembly (the r6-r7 posexplode / anti-join / collect_list shape
    shuffled every touched document's words twice; measured 1.5x
    slower at local[4] and 1.9x at local[16] on a 48k-doc
    every-doc-touched worst case). With a single coverage
    consumer the lazy localCheckpoint cut is gone too;
    ``checkpoint=`` a Catalog still materializes the coverage table
    durably for clusters (the minhash_lsh_pairs contract,
    twin-tested). Collision note: the window key is
    xxhash64 over the window's per-word xxhash64 values (words hashed
    once per document, windows hash n-slices of longs — r8, ~21% off
    the window-count leg vs re-hashing an n-word string per window),
    so two DIFFERENT windows colliding (2^-64 per pair, whether two
    words or two hash slices collide) would remove a non-duplicated
    span — the cost of never shuffling window text; swap both hash
    layers for sha2/md5 where that matters."""
    # filter-empties instead of trim: F.trim strips only ASCII spaces,
    # so leading/trailing \n or \t would leave phantom '' tokens at the
    # array ends (split keeps boundary empties) — an (n-1)-word repeat
    # would then trigger an n-window match and reassembly would gain
    # stray tokens. The filter also zeroes empty docs (split('') == [''],
    # the r3 lesson) with no special case.
    w = F.filter(
        # WS_SPLIT spells out Java's \s set so the DuckDB twin can
        # share the pattern verbatim (RE2's \s excludes \x0B)
        F.split(F.coalesce(F.col(text_col), F.lit("")), WS_SPLIT),
        lambda x: x != "",
    )
    d = docs.select(F.col(id_col).alias("__id"), w.alias("__w"))
    starts = F.when(
        F.size("__w") >= n, F.sequence(F.lit(0), F.size("__w") - n)
    ).otherwise(F.array().cast("array<int>"))
    # window keys hash an n-slice of per-word HASHES, not a rebuilt
    # n-word string: each word is hashed once per document (the
    # interpreted transform runs once, pre-explode), so the per-window
    # work is slicing+hashing n LONGS instead of copying ~n words into
    # a concat_ws string and hashing its bytes — measured ~21% off the
    # window-count leg at 48k docs x 350 words, and the operator's
    # count/probe self-join pays the leg twice. Equality classes are
    # unchanged on collision-free words (same words <=> same hash
    # slice); the docstring's collision note covers the 2^-64 word
    # merge this adds.
    grams = (
        d.withColumn("__wh", F.transform("__w", lambda x: F.xxhash64(x)))
        .select("__id", "__wh", F.explode(starts).alias("__p"))
        .select(
            "__id", "__p",
            F.xxhash64(F.slice("__wh", F.col("__p") + 1, n)).alias("__k"),
        )
    )
    dup = (grams.groupBy("__k").agg(F.count("*").alias("__c"))
           .where(F.col("__c") >= min_count).select("__k"))
    cov = (grams.join(dup, "__k", "left_semi")
           .select("__id", F.explode(
               F.sequence(F.col("__p"), F.col("__p") + (n - 1))
           ).alias("__q"))
           .distinct())
    if checkpoint is not None:
        # durable coverage cut for clusters (the catalog contract;
        # twin-tested vs this default path). The r7-era lazy
        # localCheckpoint default is GONE: the array reassembly below
        # consumes the coverage set exactly once, so there is no shared
        # subtree left to cut (the three-consumer recompute trap the
        # cut existed for — docs/PLANS.md — no longer exists).
        cov = materialize(cov, checkpoint, "span_coverage")
    # r8 reassembly: fold the coverage set to ONE row per touched doc
    # (a sorted position array — rows proportional to duplicated
    # positions only), join it to the tokenized doc, and rebuild the
    # text with native array ops. This replaces the r6-r7 shape's two
    # TOKEN-grain shuffles (posexplode + (id,pos) anti-join +
    # collect_list regroup, each carrying word strings for every token
    # of every touched document) with one COVERAGE-grain shuffle of
    # ints; the per-row rebuild is order-preserving because
    # array_except keeps the first array's element order. The inner
    # join IS the touched gate — untouched documents never enter.
    # NULL-safe id join as everywhere in this operator: NULL ids form
    # one ordinary group (groupBy agrees), and a plain equi-join would
    # silently un-touch them.
    cov_arr = cov.groupBy("__id").agg(
        F.array_sort(F.collect_list("__q")).alias("__cov"))
    dt = d.join(cov_arr.withColumnRenamed("__id", "__cid"),
                F.col("__id").eqNullSafe(F.col("__cid")), "inner")
    # touched docs always hold >= n tokens (they contain a covered
    # window), but guard the descending-sequence edge anyway:
    # sequence(0, -1) yields [0, -1], not []
    pos_all = F.when(
        F.size("__w") > 0, F.sequence(F.lit(0), F.size("__w") - 1)
    ).otherwise(F.array().cast("array<int>"))
    # array_except is a native collection op (cheap to reference twice);
    # the interpreted transform appears exactly once (docs/PLANS.md r8:
    # interpreted expressions re-evaluate per occurrence)
    kept_pos = F.array_except(pos_all, F.col("__cov"))
    meta = dt.select(
        F.col("__id").alias("__mid"),
        F.array_join(
            F.transform(kept_pos, lambda p: F.element_at("__w", p + 1)),
            " ").alias("__clean"),
        (F.size("__w") - F.size(kept_pos)).alias("__rm"),
        # the explicit flag (not a NULL-check on the join key) marks
        # touched NULL-id docs correctly in the final join below
        F.lit(True).alias("__touched"),
    )
    return (
        docs.join(meta, F.col(id_col).eqNullSafe(F.col("__mid")), "left")
        .withColumn(
            out_col,
            F.when(F.coalesce(F.col("__touched"), F.lit(False)),
                   F.col("__clean")).otherwise(F.col(text_col)),
        )
        .withColumn("n_tokens_removed",
                    F.coalesce(F.col("__rm"), F.lit(0)))
        .drop("__mid", "__clean", "__rm", "__touched")
    )


def _simhash_bit_sums(docs: DataFrame, id_col: str, text_col: str,
                      hash_family: str) -> DataFrame:
    """Per-document +/-1 vote sums for each of the 64 SimHash bits.

    ``hash_family``: 'xxhash64' (one native 64-bit token hash — the fast
    production family) or 'md5' (two 32-bit halves parsed from the md5
    hex digest — any engine reproduces the exact bits, so the driver's
    DuckDB oracle recomputes the whole signature bit-for-bit)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(words(F.col(text_col))).alias("t"),
    )
    if hash_family == "xxhash64":
        toks = toks.withColumn("h", F.xxhash64("t"))

        def bit(i: int):
            return F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1))
    elif hash_family == "md5":
        toks = toks.withColumn(
            "lo", F.conv(F.substring(F.md5("t"), 9, 8), 16, 10).cast("long")
        ).withColumn(
            "hi", F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("long")
        )

        def bit(i: int):
            src, off = ("lo", i) if i < 32 else ("hi", i - 32)
            return F.shiftright(F.col(src), off).bitwiseAND(F.lit(1))
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    return toks.groupBy("doc_id").agg(*[
        F.sum(F.when(bit(i) == 1, 1).otherwise(-1)).alias(f"b{i}")
        for i in range(64)
    ])


def simhash64(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text",
              hash_family: str = "xxhash64") -> DataFrame:
    """64-bit SimHash per document, fully native: explode tokens, hash
    each, aggregate the per-bit +/-1 votes with conditional sums, reassemble
    the sign bits with shiftleft + bitwise OR."""
    bit_sums = _simhash_bit_sums(docs, id_col, text_col, hash_family)
    sim = F.lit(0).cast("long")
    for i in range(64):
        sim = sim.bitwiseOR(
            F.when(F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i))
            .otherwise(F.lit(0).cast("long"))
        )
    return bit_sums.select("doc_id", sim.alias("simhash"))


def simhash_pairs(docs: DataFrame, max_hamming: int = 3,
                  id_col: str = "doc_id", text_col: str = "text",
                  max_bucket: int | None = 256,
                  hash_family: str = "xxhash64",
                  checkpoint=None) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Banding: 4 x 16-bit bands — any pair within Hamming 3 shares at least
    one exact band (pigeonhole), so the join is equi on (band, value),
    never quadratic across the corpus; ``max_bucket`` (see ``cap_buckets``)
    additionally bounds the in-bucket blowup from viral duplicates.

    The signature rides as four 16-bit band values (v0..v3) rather than
    one signed 64-bit word: the banded join needs the band values anyway,
    Hamming distance is the sum of the four per-band popcounts of XOR, and
    every value stays in non-negative 16-bit range — exactly reproducible
    by the DuckDB oracle with the 'md5' family (no signed-shift edge
    cases). ``hash_family``: see ``_simhash_bit_sums``."""
    sums = _simhash_bit_sums(docs, id_col, text_col, hash_family)
    import functools

    def band_value(b: int):
        return functools.reduce(
            lambda a, c: a + c,
            [F.when(F.col(f"b{16 * b + j}") > 0, F.lit(1 << j)).otherwise(0)
             for j in range(16)],
        ).cast("int")

    # materialized: the banded self-join would otherwise duplicate the
    # whole signature subtree (scan + 64 conditional sums) on both sides;
    # the table is 5 small columns per doc. checkpoint= swaps
    # localCheckpoint for a durable catalog table on clusters (see
    # operators.materialize / minhash_lsh_pairs)
    sigs = materialize(sums.select(
        "doc_id", *[band_value(b).alias(f"v{b}") for b in range(4)]
    ), checkpoint, "simhash_sigs")
    bands = sigs.select(
        "doc_id", "v0", "v1", "v2", "v3",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"), F.col(f"v{b}").alias("v"))
            for b in range(4)
        ])).alias("bb"),
    ).select("doc_id", "v0", "v1", "v2", "v3", "bb.band", "bb.v")
    bands = cap_buckets(bands, max_bucket, "doc_id", keys=("band", "v"))
    x = bands.alias("x")
    y = bands.alias("y")
    hamming = functools.reduce(
        lambda a, c: a + c,
        [F.bit_count(F.col(f"x.v{b}").bitwiseXOR(F.col(f"y.v{b}")))
         for b in range(4)],
    )
    return (
        x.join(y, (F.col("x.band") == F.col("y.band"))
               & (F.col("x.v") == F.col("y.v"))
               & (F.col("x.doc_id") < F.col("y.doc_id")))
        .select(
            F.col("x.doc_id").alias("id_a"),
            F.col("y.doc_id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )
