"""Corpus curation pipeline: the composed cleaning pass a training-data
build runs over raw web documents (the C4/RefinedWeb-style recipe) —
language filter, quality filter, exact-duplicate removal, and train/test
decontamination, in one relational plan with per-document drop reasons.

Rule order (first failure wins, matching how published pipelines report
their funnel): lang -> quality -> duplicate -> contaminated. Everything is
native Spark SQL: lang/quality are codegen column expressions
(functions.text), duplicate representatives come from a window over the
narrow (xxhash64, length) key (never the raw text — see
dedup.exact_dedup), and contamination is a broadcast n-gram semi-join
(dedup.decontaminate), so the corpus side is scanned once and never
shuffled by value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import (
    predicted_lang,
    quality_features,
    score_from_features,
    words,
)
from .dedup import decontaminate

DEFAULT_MIN_QUALITY = 0.5


def clean_corpus(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    lang: str = "en",
    min_quality: float = DEFAULT_MIN_QUALITY,
    id_col: str = "doc_id",
    text_col: str = "text",
    dup_hash=None,
) -> DataFrame:
    """docs -> (id, keep boolean, drop_reason string nullable).

    drop_reason ∈ {'lang', 'quality', 'duplicate', 'contaminated'} — the
    FIRST failing rule; NULL means the document survives the funnel.
    ``benchmark`` enables the decontamination rule (skipped when None):
    dedup.decontaminate with 3-word shingles, the benchmark's text read
    from the same ``text_col``.
    Apply with ``.where("keep")`` or keep the audit columns for funnel
    reporting.

    The 'duplicate' rule keys on (dup_hash(text), length(text)) — default
    xxhash64, same tradeoff as dedup.exact_dedup: a 64-bit collision
    qualified by exact length (~n²/2⁶⁵) would silently drop one distinct
    document as 'duplicate'. For the paranoid path pass
    ``dup_hash=lambda c: F.sha2(c, 256)`` (identical plan shape; the window
    key widens from 16 to 40 bytes), or run exact_dedup(verify=True) first
    as a collision audit."""
    text = F.col(text_col)
    w = words(text)
    feats = quality_features(text)
    quality = score_from_features(
        feats["stopword_ratio"], feats["alpha_ratio"], feats["punct_ratio"]
    )
    # duplicate representative: lowest id per identical text, windowed over
    # the narrow hash key (the window shuffles the hash + id, not the text)
    hash_fn = dup_hash or F.xxhash64
    dup_w = Window.partitionBy(
        hash_fn(text), F.length(text)
    ).orderBy(id_col)
    flagged = docs.select(
        F.col(id_col),
        text.alias("__text"),
        (predicted_lang(w) == lang).alias("__lang_ok"),
        (quality >= min_quality).alias("__quality_ok"),
        (F.row_number().over(dup_w) == 1).alias("__is_rep"),
    )
    if benchmark is not None:
        flagged = decontaminate(flagged, benchmark, n=3, id_col=id_col,
                                text_col="__text", bench_text_col=text_col,
                                mode="flag")
    else:
        flagged = flagged.withColumn("contaminated", F.lit(False))

    reason = (
        F.when(~F.col("__lang_ok"), "lang")
        .when(~F.col("__quality_ok"), "quality")
        .when(~F.col("__is_rep"), "duplicate")
        .when(F.col("contaminated"), "contaminated")
    )
    return flagged.select(
        id_col,
        reason.isNull().alias("keep"),
        reason.alias("drop_reason"),
    )


def curation_funnel(cleaned: DataFrame) -> DataFrame:
    """Per-reason drop counts + the kept count — the funnel report every
    cleaning run publishes (one tiny aggregate)."""
    return cleaned.groupBy(
        F.coalesce("drop_reason", F.lit("kept")).alias("stage")
    ).agg(F.count("*").alias("n_docs"))


def top_ngram_char_fraction(
    docs: DataFrame,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style repetition signal: the fraction of a document's
    characters covered by its MOST FREQUENT word n-gram
    (occurrences x n-gram length / doc length). High values mark
    keyword-stuffed / machine-generated pages; published pipelines drop
    e.g. top-2-gram fraction > 0.20.

    Returns (id, top_ngram, top_ngram_count, top_ngram_char_fraction).
    Relational shape: explode n-grams -> count per (doc, gram) (map-side
    combinable) -> per-doc argmax via a WindowGroupLimit-eligible
    row_number (ties: highest count, then lexicographically first gram).
    The shuffle is keyed on (doc, gram) — never wider than the tokenized
    corpus itself."""
    from ..functions.geometry import round_half_up
    from ..functions.text import ngrams, words

    grams = docs.select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("__chars"),
        # ngrams, NOT shingles: the signal is frequency, so multiplicity
        # must survive (shingles are a distinct set for Jaccard)
        F.explode(ngrams(words(F.col(text_col)), n)).alias("gram"),
    )
    counts = grams.groupBy(id_col, "__chars", "gram").agg(
        F.count("*").alias("cnt")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("cnt"), F.asc("gram"))
    top = counts.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1)
    frac = F.col("cnt") * F.length("gram") / F.col("__chars")
    return top.select(
        id_col,
        F.col("gram").alias("top_ngram"),
        F.col("cnt").alias("top_ngram_count"),
        round_half_up(frac, 6).alias("top_ngram_char_fraction"),
    )


def hex_bound(f: float) -> str:
    """The md5-prefix threshold for cumulative fraction ``f`` — the ONE
    shared implementation every hex-threshold operator (assign_split,
    stratified_sample, packing.bucket_bounds) and its DuckDB twin use, so
    the engine-portability-critical literal cannot drift between copies.

    f >= 1.0 returns 'g' — lexicographically greater than every hex
    string, so a strict ``<`` keeps EVERYTHING (an 'ffffffff' cap with
    strict < would drop each row with probability 2^-32: real documents
    at 10^9+ scale)."""
    f = max(0.0, min(1.0, f))
    if f >= 1.0:
        return "g"
    return format(int(f * 16 ** 8), "08x")


def salted_h8(salt: str, id_col: str):
    """The salted md5 hex prefix every hex-threshold operator keys on —
    ``substring(md5(salt || ':' || id), 1, 8)`` — as a Column. ONE shared
    implementation (next to ``hex_bound``, for the same reason): the
    prefix length and separator are engine-portability-critical literals;
    a drift in any private copy silently breaks cross-engine
    reproducibility for just that operator."""
    return F.substring(
        F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))),
        1, 8,
    )


def salted_h8_sql(salt: str, id_expr: str) -> str:
    """DuckDB twin of ``salted_h8`` (same literals)."""
    return f"substr(md5('{salt}:' || {id_expr}), 1, 8)"


def split_bounds(weights: dict[str, float]) -> list[tuple[str, str]]:
    """(name, inclusive-exclusive upper bound as a hex-threshold string)
    per split, partitioning [0, 16^8) proportionally to the weights.
    Shared by the Spark expression and the DuckDB oracle so both engines
    compare the SAME literals."""
    total = sum(weights.values())
    acc = 0.0
    bounds = []
    for name, wt in weights.items():
        acc += wt / total
        bounds.append((name, hex_bound(acc)))
    # float accumulation can leave the final cumulative at 0.999...;
    # the last split must always carry the keep-everything sentinel
    bounds[-1] = (bounds[-1][0], hex_bound(1.0))
    return bounds


DEFAULT_SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}


def assign_split(
    docs: DataFrame,
    weights: dict[str, float] | None = None,
    salt: str = "plp",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic train/val/test assignment — reproducible corpus
    splits with NO RNG, no shuffle, and no engine-specific hash: the key
    is md5(salt || ':' || id), a uniform hex string, and the unit interval
    is partitioned by hex-string thresholds, so assignment is a pure
    string comparison any engine reproduces bit-identically. Changing
    ``salt`` re-rolls every assignment; adding documents never moves
    existing ones (the property replicated experiments need).

    Returns docs + a ``split`` column. Pure codegen projection — at 100 TB
    this is a free map over the scan."""
    weights = weights or DEFAULT_SPLIT_WEIGHTS
    bounds = split_bounds(weights)
    h8 = salted_h8(salt, id_col)
    expr = None
    for name, ub in bounds[:-1]:
        cond = h8 < F.lit(ub)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = bounds[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return docs.withColumn("split", expr)


def assign_split_sql(id_expr: str, weights: dict[str, float] | None = None,
                     salt: str = "plp") -> str:
    """DuckDB twin of assign_split's split expression (same literals)."""
    weights = weights or DEFAULT_SPLIT_WEIGHTS
    bounds = split_bounds(weights)
    h8 = salted_h8_sql(salt, id_expr)
    whens = " ".join(
        f"WHEN {h8} < '{ub}' THEN '{name}'" for name, ub in bounds[:-1]
    )
    if not whens:  # single split: a WHEN-less CASE is a DuckDB parse error
        return f"'{bounds[-1][0]}'"
    return f"CASE {whens} ELSE '{bounds[-1][0]}' END"


def stratified_sample(
    docs: DataFrame,
    fractions: dict[str, float],
    by: str = "lang",
    default_fraction: float = 1.0,
    salt: str = "plp-sample",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum downsampling (rebalance overrepresented
    languages/domains before training): keep a row iff
    md5(salt || ':' || id) < the stratum's hex threshold — the same
    engine-independent mechanism as assign_split, so the sample is exactly
    reproducible, subset-stable, and a pure codegen filter (no RNG, no
    shuffle; Catalyst pushes it into the scan). Strata absent from
    ``fractions`` keep ``default_fraction`` of their rows (1.0 keeps them
    ALL — the hex_bound 'g' sentinel, not an 'ffffffff' cap that would
    drop one row in 2^32)."""
    return docs.where(sample_predicate(fractions, by=by,
                                       default_fraction=default_fraction,
                                       salt=salt, id_col=id_col))


def sample_predicate(
    fractions: dict[str, float],
    by: str = "lang",
    default_fraction: float = 1.0,
    salt: str = "plp-sample",
    id_col: str = "doc_id",
):
    """stratified_sample's keep-predicate as a boolean Column — the ONE
    implementation of the threshold literals (hex_bound / salted_h8),
    usable either as a filter (stratified_sample) or projected as a
    survival flag alongside other hex-threshold columns in a single
    scan (the driver's split_sample query)."""
    entries = []
    for k, f in fractions.items():
        entries.extend([F.lit(k), F.lit(hex_bound(f))])
    thresholds = F.create_map(*entries) if entries else None
    h8 = salted_h8(salt, id_col)
    bound = F.lit(hex_bound(default_fraction))
    if thresholds is not None:
        bound = F.coalesce(F.element_at(thresholds, F.col(by)), bound)
    return h8 < bound


def stratified_sample_sql(id_expr: str, by_expr: str,
                          fractions: dict[str, float],
                          default_fraction: float = 1.0,
                          salt: str = "plp-sample") -> str:
    """DuckDB twin of stratified_sample's keep-predicate (same literals)."""
    whens = " ".join(
        f"WHEN {by_expr} = '{k}' THEN '{hex_bound(f)}'"
        for k, f in fractions.items()
    )
    case = (f"CASE {whens} ELSE '{hex_bound(default_fraction)}' END"
            if whens else f"'{hex_bound(default_fraction)}'")
    return f"{salted_h8_sql(salt, id_expr)} < {case}"


def cap_per_host(
    docs: DataFrame,
    cap: int,
    url_col: str = "url",
    salt: str = "plp-hostcap",
    id_col: str = "doc_id",
    host_col: str | None = None,
) -> DataFrame:
    """Keep at most ``cap`` documents per host (the RefinedWeb/FineWeb
    "N pages per domain" guard against template farms and crawler traps
    dominating the corpus). Selection is DETERMINISTIC: within a host,
    documents are ranked by md5(salt || ':' || id) with the id as
    tie-break, so the surviving set is reproducible across runs, engines,
    and partitionings — no RNG, no first-seen order dependence.

    Scale posture: the rank <= cap filter over a row_number window is
    rewritten by Catalyst into WindowGroupLimit (plan-tested), which
    prunes each map task's groups to ``cap`` rows BEFORE the exchange —
    a 10M-page crawler-trap host ships ~cap x map-partitions rows through
    the shuffle, not 10M. NULL hosts (unparseable URLs) group together
    and are capped as one host, matching SQL window partitioning in every
    engine (document or pre-filter them if that is not wanted).

    ``host_col`` names an existing host column to use instead of parsing
    ``url_col`` (parse already done, or a custom notion of "domain" such
    as eTLD+1 from a suffix-list join)."""
    from ..functions.url import url_host

    host = F.col(host_col) if host_col else url_host(F.col(url_col))
    rank = F.row_number().over(
        Window.partitionBy(host)
        .orderBy(salted_h8(salt, id_col), F.col(id_col))
    )
    return (docs.withColumn("__hc_rank", rank)
            .where(F.col("__hc_rank") <= cap)
            .drop("__hc_rank"))


def cap_per_host_sql(cap: int, url_expr: str = "url",
                     salt: str = "plp-hostcap",
                     id_expr: str = "doc_id") -> str:
    """DuckDB twin of cap_per_host's keep-predicate, as a QUALIFY-style
    subquery fragment: same md5 ranking literals, host extracted with the
    ONE shared host-regex twin (functions.url.url_host_sql — private
    copies drift, the salted_h8 lesson)."""
    from ..functions.url import url_host_sql

    return (f"row_number() OVER (PARTITION BY {url_host_sql(url_expr)} "
            f"ORDER BY {salted_h8_sql(salt, id_expr)}, {id_expr}) <= {cap}")


def deterministic_shuffle(
    docs: DataFrame,
    salt: str = "plp-shuffle",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global reorder for training: ORDER BY
    md5(salt || ':' || id), id. The hash order is uniform and
    input-order-independent, so writing the result yields reproducibly
    shuffled shards regardless of upstream partitioning; changing the
    salt yields an independent epoch order.

    Scale posture: a total sort, executed as Spark's range-partitioned
    sort — one sampling pass to pick range bounds, then a single
    exchange; because the sort key is a uniform hash, the range
    partitions are balanced no matter how skewed the source keys are (a
    hot host cannot produce a hot output partition)."""
    return docs.orderBy(salted_h8(salt, id_col), F.col(id_col))


def _classify_rule(rule: str, literals: set, parents: set,
                   wildcards: set, vetoes: set) -> None:
    """Sort one lowercased PSL rule into the loader's four buckets (the
    PSL grammar: literal / '!exception' / '*.wildcard')."""
    if rule.startswith("!"):
        body = rule[1:]
        parent = body.split(".", 1)
        if len(parent) < 2:
            raise ValueError(
                f"exception rule {rule!r} has no parent suffix")
        parents.add(parent[1])
        vetoes.add(body)
    elif "*" in rule:
        if not rule.startswith("*.") or "*" in rule[2:]:
            raise ValueError(
                f"unsupported wildcard position in rule {rule!r} — "
                "only leftmost-label wildcards ('*.tld') occur in "
                "the published list")
        wildcards.add(rule[2:])
    else:
        literals.add(rule)


def load_public_suffixes(
    spark,
    path: str | None = None,
    text: str | None = None,
    observed_hosts: DataFrame | None = None,
    host_col: str = "host",
    on_unexpanded_wildcard: str = "warn",
) -> DataFrame:
    """Parse a Public Suffix List (publicsuffix.org format) into the
    LITERAL ``(suffix, self_match)`` table with_registrable_domain
    consumes, pre-expanding the grammar's wildcard and exception rules
    so longest-literal-match reproduces the PSL algorithm on the hosts
    the caller actually has:

    - comment (``//``) and blank lines are skipped; each rule is the
      first whitespace-delimited token of its line, lowercased;
    - the published list carries rules in UNICODE — every non-ASCII
      rule also emits its IDNA/punycode ASCII twin (公司.cn ->
      xn--55qx5d.cn), so hosts in either form match (r8; the punycoded
      half of the published checkPublicSuffix vectors);
    - literal rules pass through;
    - exception rules (``!www.ck``) emit the rule minus its leftmost
      label (``ck``) — per the PSL algorithm the prevailing exception
      makes that PARENT the public suffix — and additionally VETO the
      exception body (``www.ck``) from wildcard expansion, which is
      what makes www.ck a registrable domain rather than a suffix.
      The parent is emitted with ``self_match=false``: it is synthetic
      (not a rule of the list), so a host EQUAL to it must fall through
      to the next-longest real rule (``kobe.jp`` under
      ``{jp, !city.kobe.jp}`` is the registrable domain ``kobe.jp``,
      not a public suffix — the r7 review's bare-parent case);
    - wildcard rules (``*.ck``; ``*`` must be the leftmost label, as in
      every rule the real list has ever shipped — anything else raises)
      are expanded against ``observed_hosts``: each DISTINCT observed
      host whose trailing labels match the rule tail contributes its
      concrete instance (host ``a.b.test.ck`` -> suffix ``test.ck``),
      minus exception-vetoed instances. With no ``observed_hosts``,
      behavior follows ``on_unexpanded_wildcard``: ``'warn'`` (default)
      drops wildcard rules with a warnings.warn, ``'drop'`` drops them
      silently, ``'error'`` raises.

    Approximation, stated: expansion covers the hosts you expanded
    against. A host under a wildcard TLD that was NOT observed at
    expansion time falls back to the exception-parent/TLD literal (if
    emitted) or no match — e.g. unobserved ``foo.ck`` derives domain
    ``foo.ck`` where strict PSL wildcard semantics say it IS a public
    suffix (NULL domain). Expanding against the same corpus you then
    annotate eliminates the gap (the intended usage: pass the corpus
    hosts); the published PSL test vectors for the ``*.ck`` /
    ``!www.ck`` and ``*.kobe.jp`` / ``!city.kobe.jp`` families pass
    under that usage (tests/test_trainingdata.py).

    Scale shape: rules are driver-side (the real list is ~10k lines);
    only wildcard expansion touches data — DISTINCT observed hosts
    theta-join the few-dozen-row broadcast wildcard-tail table on an
    endswith predicate (BroadcastNestedLoopJoin over the tiny side),
    then project the trailing labels. Output is a small DISTINCT
    suffix table, broadcast again by with_registrable_domain."""
    if (path is None) == (text is None):
        raise ValueError("pass exactly one of path= or text=")
    if on_unexpanded_wildcard not in ("warn", "drop", "error"):
        raise ValueError(
            "on_unexpanded_wildcard must be 'warn', 'drop', or 'error'")
    if path is not None:
        with open(path, encoding="utf-8") as fh:
            text = fh.read()

    def _with_ascii_twin(rule: str) -> list[str]:
        # the published list carries rules in UNICODE (公司.cn); crawl
        # hosts arrive in either form, so every non-ASCII rule also
        # emits its IDNA/punycode twin (xn--55qx5d.cn) — the same
        # ToASCII normalization PSL libraries apply, which is what
        # makes the punycoded half of the published test vectors pass
        # (tests/test_psl_vectors.py). Python's idna codec is IDNA2003;
        # labels it cannot encode keep only their unicode form.
        if rule.isascii():
            return [rule]
        try:
            return [rule, rule.encode("idna").decode("ascii")]
        except UnicodeError:
            return [rule]

    literals: set[str] = set()
    parents: set[str] = set()     # exception parents, e.g. 'ck', 'kobe.jp'
    wildcards: set[str] = set()   # rule tails: '*.ck' stored as 'ck'
    vetoes: set[str] = set()      # exception bodies, e.g. 'www.ck'
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith("//"):
            continue
        rule = line.split()[0].lower()
        # split the grammar PREFIX off before deriving the IDNA twin:
        # encoding the raw rule would swallow '!' / '*.' into the first
        # punycode label ('!例.jp'.encode('idna') -> 'xn--!-lb7a.jp', a
        # garbage literal instead of an exception) and the '*' label
        # makes the codec raise, so non-ASCII wildcards would lose
        # their ASCII twin entirely
        if rule.startswith("!"):
            prefix, body = "!", rule[1:]
        elif rule.startswith("*."):
            prefix, body = "*.", rule[2:]
        else:
            prefix, body = "", rule
        for twin in _with_ascii_twin(body):
            _classify_rule(prefix + twin, literals, parents, wildcards,
                           vetoes)

    # Exception parents are SYNTHETIC suffixes: they exist so hosts
    # UNDER the exception body derive correctly (city.kobe.jp ->
    # suffix kobe.jp), but per the PSL algorithm the parent string is
    # not itself a rule — a host EQUAL to the parent must fall through
    # to the next-longest real rule ('kobe.jp' -> rule 'jp' -> domain
    # 'kobe.jp'), not self-match to NULL. The self_match=false flag
    # tells with_registrable_domain to skip the host==suffix case for
    # these rows only; a parent that IS also a plain literal rule in
    # the list keeps self_match=true (the real rule wins).
    rows = [(s, True) for s in sorted(literals)] + [
        (s, False) for s in sorted(parents - literals)]
    out = spark.createDataFrame(rows, "suffix string, self_match boolean")
    if wildcards and observed_hosts is None:
        msg = (f"{len(wildcards)} wildcard rule(s) "
               f"({sorted(wildcards)[:3]}...) dropped — pass "
               "observed_hosts= to expand them into literal suffixes")
        if on_unexpanded_wildcard == "error":
            raise ValueError(msg)
        if on_unexpanded_wildcard == "warn":
            import warnings

            warnings.warn(msg, stacklevel=2)
    elif wildcards:
        tails = F.broadcast(spark.createDataFrame(
            [(t, t.count(".") + 2) for t in sorted(wildcards)],
            "__tail string, __want int"))
        h = (observed_hosts.select(
                F.lower(F.col(host_col)).alias("__host"))
             .where(F.col("__host").isNotNull()).distinct())
        labels = F.split(F.col("__host"), r"\.")
        inst = (
            h.join(tails,
                   F.col("__host").endswith(
                       F.concat(F.lit("."), F.col("__tail"))))
            .where(F.size(labels) >= F.col("__want"))
            # negative-start slice (last __want labels) is TOTAL: the
            # optimizer may reorder the veto filter below ahead of the
            # size guard above, and a positive start of
            # size - want + 1 <= 0 would then raise under ANSI
            .select(F.array_join(
                F.slice(labels, -F.col("__want"), F.col("__want")),
                ".").alias("suffix"))
        )
        if vetoes:
            inst = inst.where(~F.col("suffix").isin(*sorted(vetoes)))
        out = out.unionByName(inst.withColumn("self_match", F.lit(True)))
    # a suffix seen both as an exception parent and as a real rule /
    # wildcard instance keeps self_match=true (any(real) wins)
    return (out.groupBy("suffix")
            .agg(F.max("self_match").alias("self_match")))


def with_registrable_domain(
    docs: DataFrame,
    suffixes: DataFrame,
    host_col: str = "host",
    out_col: str = "domain",
    unlisted: str = "null",
) -> DataFrame:
    """Annotate each row with its registrable domain (eTLD+1): the public
    suffix plus one label — the unit real per-domain policies (crawl
    budgets, host caps, ownership grouping) operate on, since
    "b.co.uk" and "c.co.uk" are different sites while "a.b.com" and
    "b.com" are the same.

    ``suffixes`` is a table of LITERAL suffixes only (column ``suffix``,
    plus an optional ``self_match`` boolean — absent means all true) —
    longest literal match wins. The full Public Suffix List grammar's
    wildcard (``*.ck``) and exception (``!www.ck``) rules are NOT
    interpreted here: a raw PSL file load would carry the literal
    string ``*.ck``, which matches no host, silently mis-deriving
    registrable domains under wildcard TLDs. Load the real PSL through
    load_public_suffixes, which pre-expands wildcards against your
    observed hosts and rewrites exceptions per the PSL algorithm
    (matching the published test vectors — see its docstring for the
    one stated approximation). Tests use a literal fixture subset —
    this repo embeds no external data.

    Plan: DISTINCT hosts (orders of magnitude fewer than rows — the point
    of domains) each explode into their trailing suffix candidates
    ("a.b.co.uk" -> [a.b.co.uk, b.co.uk, co.uk, uk] — bounded by label
    count, not corpus size), equi-join the broadcast suffix table (the
    PSL is ~10k rows), and aggregate the longest match per host; the
    registrable domain is that suffix plus the label left of it. Hosts
    matching no suffix (intranet names, IPs) or EQUAL to a suffix (the
    bare TLD) get NULL — or, with ``unlisted='star'``, the strict-PSL
    implicit ``*`` rule applies instead (no rule matched -> the
    rightmost label is the public suffix, so ``example.example`` ->
    ``example.example``; the published checkPublicSuffix vectors assume
    this). The default ``'null'`` stays the crawl-curation behavior:
    an unlisted TLD is junk, not a domain to budget. Either way,
    syntactically invalid hosts (empty, leading/trailing dot, empty
    label) derive NULL, and matching is byte-literal — the PSL
    algorithm lowercases its input, so lowercase hosts upstream
    (functions/url.py's canonical host already is). The host is its
    own deterministic key — no
    synthetic ids, no materialization hazard — and a hot suffix ('com')
    lives broadcast-side, never as a shuffle key. The final host->domain
    map joins back on host (shuffle of the small map; the docs side
    shuffles once on host, the same key cap_per_host would use)."""
    from pyspark.sql.functions import broadcast

    if unlisted not in ("null", "star"):
        raise ValueError("unlisted must be 'null' or 'star'")
    host = F.col(host_col)

    def domain_expr(h):
        labels = F.split(h, r"\.")
        n = F.size(labels)
        return labels, n

    labels_h, n_h = domain_expr(F.col("__host"))
    # empty-label hosts ('.com', 'a..b', 'fqdn.', '') are invalid per
    # the PSL algorithm — excluding them here leaves their mapping row
    # absent, so the final left join derives NULL (pre-r8 a leading-dot
    # host could self-assemble '.com'-style "domains")
    hosts = (docs.select(host.alias("__host"))
             .where(host.isNotNull() & (host != "")
                    & ~host.rlike(r"^\.|\.\.|\.$"))
             .distinct())
    cands = F.transform(
        F.sequence(F.lit(1), n_h),
        lambda i: F.struct(
            F.array_join(F.slice(labels_h, i, n_h - i + 1), ".").alias("cand"),
            (n_h - i + 1).alias("cand_len"),
        ),
    )
    exploded = hosts.select(
        "__host", F.explode(cands).alias("__c")
    ).select("__host", F.col("__c.cand").alias("__cand"),
             F.col("__c.cand_len").alias("__cand_len"))
    # optional self_match column (load_public_suffixes emits it):
    # self_match=false marks synthetic exception-parent suffixes that
    # must not match a host EQUAL to them — that host falls through to
    # the next-longest real rule instead of deriving NULL (the PSL
    # bare-parent case: host 'kobe.jp' under rules {jp, !city.kobe.jp}
    # is a registrable domain, not a public suffix). A bare one-column
    # table behaves as before (all suffixes self-match).
    if "self_match" in suffixes.columns:
        # NULL self_match degrades to the documented default (true) —
        # F.max alone would skip NULLs and a NULL-only suffix would
        # silently stop self-matching
        sx = (suffixes.groupBy(F.col("suffix").alias("__cand"))
              .agg(F.max(F.coalesce("self_match", F.lit(True)))
                   .alias("__self")))
    else:
        sx = (suffixes.select(F.col("suffix").alias("__cand")).distinct()
              .withColumn("__self", F.lit(True)))
    best = (
        exploded.join(broadcast(sx), "__cand")
        .where(F.col("__self") | (F.col("__cand_len") < n_h))
        .groupBy("__host")
        .agg(F.max("__cand_len").alias("__best_len"))
    )
    if unlisted == "star":
        # strict-PSL implicit '*' rule: a host no rule matched treats
        # its rightmost label as the public suffix (best_len=1); the
        # bare single-label host then still derives NULL via the
        # n_h > best_len guard below
        best = hosts.join(best, "__host", "left").select(
            "__host",
            F.coalesce("__best_len", F.lit(1)).alias("__best_len"))
    mapping = best.select(
        "__host",
        F.when(
            n_h > F.col("__best_len"),
            F.array_join(
                F.slice(labels_h, n_h - F.col("__best_len"),
                        F.col("__best_len") + 1), "."),
        ).alias(out_col),
    )
    return (
        docs.join(mapping, host == F.col("__host"), "left")
        .drop("__host")
    )
