"""End-to-end training-corpus build — the engine's purpose, composed:

  pages (url, warc_ts, html, text, lang)
    -> extraction pipeline (plans.pipeline.run_pipeline: split-plan,
       rasterize, detect+enrich, XY-cut, byte-identical doc_text)
    -> curation funnel (operators.curation.clean_corpus: lang / quality /
       exact-dup / decontamination, first-failure drop reasons)
    -> corpus-level boilerplate-line removal (operators.dedup.dedup_lines)
    -> deterministic train/val/test assignment (curation.assign_split)

Each stage is the already-oracle-checked operator (no new UDFs). The
curation phase cuts its plan at two points (operators.materialize), so
each shared intermediate is computed once: the funnel audit, which the
surviving-docs semi-join, the funnel report and the caller all read, and,
when span dedup runs, the line-deduped docs, which span dedup reads four
times. The keyed id is the page URL throughout — every operator takes
id_col/text_col, so the same composition runs over any (id, text) table
(skip the extraction stage and start from documents directly via
``curate_documents``).

At scale, pass ``catalog=`` to ``build_training_corpus``: it commits
``extracted`` to ``corpus_extracted`` (and the quarantine rows to
``quarantine``) through sources.catalog.commit_pending, the exactly-once
committer the batch job uses, so curation re-runs never re-rasterize. The
curation phase's shuffles are all on narrow keys (xxhash64+length for dup
rules, (hash, len) for line counts, url for the final reassembly).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.curation import (
    DEFAULT_SPLIT_WEIGHTS,
    assign_split,
    cap_per_host,
    clean_corpus,
    curation_funnel,
    deterministic_shuffle,
)
from ..operators.dedup import dedup_lines
from ..operators.materialize import materialize

CORPUS_TABLE = "corpus_extracted"   # the committed extraction phase


@dataclass
class CorpusBuildOutputs:
    extracted: DataFrame   # url, doc_text (the byte-identity surface)
    audit: DataFrame       # url, keep, drop_reason (funnel audit rows)
    curated: DataFrame     # url, clean_text, n_lines_kept/dropped, split
    funnel: DataFrame      # per-reason drop counts + kept


def curate_documents(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    id_col: str = "url",
    text_col: str = "doc_text",
    lang: str = "en",
    min_quality: float = 0.5,
    max_line_occurrences: int = 1,
    span_ngrams: int | None = None,
    split_weights: dict[str, float] | None = None,
    split_salt: str = "plp",
    host_cap: int | None = None,
    host_col: str | None = None,
    shuffle_salt: str | None = None,
    checkpoint=None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Curation phase over any (id, text) table: funnel audit ->
    surviving docs -> optional per-host cap -> corpus-level line dedup ->
    optional duplicate-span removal -> split assignment -> optional
    deterministic shuffle. Returns (audit, curated, funnel).

    ``span_ngrams=N`` additionally removes every corpus-wide duplicated
    N-word span from the line-deduped text (dedup.remove_duplicate_spans
    — the exact-substring-dedup analog; catches boilerplate paragraphs
    pasted mid-document that line dedup and whole-doc MinHash both
    miss). Applied AFTER line dedup — lines are the cheaper coarse pass
    — and before splits; ``curated`` then also carries
    ``n_tokens_removed``. Note the operator's whitespace normalization
    (tokens rejoin single-spaced).

    Cuts: the funnel audit is materialized (operators.materialize), and
    so are the line-deduped docs when ``span_ngrams`` is set (span dedup
    reads them four times; without it they have one consumer and no
    cut). The cuts RUN AT CALL TIME, as the host_cap probe below does:
    adaptive execution runs each cut's shuffle stages when the cut is
    made, even with the lazy ``localCheckpoint``, so the call itself
    scans ``docs`` and runs the funnel's (and line dedup's) shuffles.
    ``checkpoint=`` (a Catalog) routes three cuts through committed
    catalog tables (``__mat_*`` scratch, operators.materialize): these
    two and span dedup's coverage set, which the default runs inline.
    A catalog cut writes its whole table at call time. The default
    (None) cuts with ``localCheckpoint``: identical rows (twin-tested),
    but its blocks are lost with an executor. build_training_corpus
    does NOT pass its catalog through: that catalog holds the committed
    stage tables, and every build would add three uncollected
    ``__mat_*`` tables to it. Deployments that need the cuts durable
    against executor loss call this function directly with
    ``checkpoint=``.

    ``host_cap=N`` keeps at most N surviving documents per host
    (curation.cap_per_host — the RefinedWeb per-domain guard), applied
    AFTER the quality funnel so the cap spends its budget on documents
    that survived, and BEFORE line dedup so a capped-out template farm
    cannot poison the corpus-wide line counts. The host comes from
    ``host_col`` if given, else is parsed from the id column — which
    must then be a URL: a non-URL id parses to a NULL host for EVERY
    row, all rows group as one host, and the corpus silently truncates
    to N documents total. Guarded: when ``host_cap`` is set without
    ``host_col``, a tiny probe (first ≤200 ids) must parse at least one
    host or this raises ValueError. The probe is an EAGER Spark job at
    plan-construction time (the asof_join bounds-probe pattern): it
    partially executes ``docs``' lineage up to ``limit(200)`` — cheap
    when ``docs`` is a table scan, but if ``docs`` hangs off an
    expensive UDF chain, materialize/checkpoint it first (as
    build_training_corpus does with ``catalog=``) or pass ``host_col``
    to skip the probe entirely.
    ``shuffle_salt`` orders the final corpus with
    curation.deterministic_shuffle (training order; salt = epoch)."""
    if host_cap and host_col is None:
        from ..functions.url import url_host

        probe = (docs.select(url_host(F.col(id_col)).alias("__h"))
                 .limit(200).where(F.col("__h").isNotNull()).take(1))
        if not probe:
            raise ValueError(
                f"host_cap={host_cap} parses hosts from id column "
                f"{id_col!r}, but none of the first 200 ids parsed as a "
                "URL — every row would group under the NULL host and the "
                "corpus would truncate to host_cap rows total. Pass "
                "host_col= naming a real host/domain column instead."
            )
    audit = materialize(clean_corpus(
        docs, benchmark=benchmark, lang=lang, min_quality=min_quality,
        id_col=id_col, text_col=text_col,
    ), checkpoint, "curation_audit")
    kept = docs.join(audit.where(F.col("keep")), id_col, "left_semi")
    if host_cap:
        kept = cap_per_host(kept, host_cap, url_col=id_col, id_col=id_col,
                            host_col=host_col)
    deduped = dedup_lines(
        kept, max_occurrences=max_line_occurrences,
        id_col=id_col, text_col=text_col,
    )
    if span_ngrams:
        from ..operators.dedup import remove_duplicate_spans

        deduped = materialize(deduped, checkpoint, "line_deduped")
        deduped = (
            remove_duplicate_spans(deduped, n=span_ngrams, id_col=id_col,
                                   text_col="clean_text",
                                   out_col="__span_clean",
                                   checkpoint=checkpoint)
            .withColumn("clean_text", F.col("__span_clean"))
            .drop("__span_clean")
        )
    curated = assign_split(
        deduped, weights=split_weights or DEFAULT_SPLIT_WEIGHTS,
        salt=split_salt, id_col=id_col,
    )
    if shuffle_salt is not None:
        curated = deterministic_shuffle(curated, salt=shuffle_salt,
                                        id_col=id_col)
    return audit, curated, curation_funnel(audit)


def build_training_corpus(
    pages: DataFrame,
    benchmark: DataFrame | None = None,
    lang: str = "en",
    min_quality: float = 0.5,
    max_line_occurrences: int = 1,
    span_ngrams: int | None = None,
    split_weights: dict[str, float] | None = None,
    split_salt: str = "plp",
    host_cap: int | None = None,
    host_col: str | None = None,
    shuffle_salt: str | None = None,
    catalog=None,
) -> CorpusBuildOutputs:
    """Full build: raw pages table -> extracted text -> curated, split
    training corpus. ``benchmark`` (any table with a text column named
    like ``text_col``... here ``doc_text``) enables decontamination.

    ``catalog`` (a sources.catalog.Catalog) makes the module docstring's
    "checkpoint ``extracted`` between the two phases" contract CODE: the
    extraction phase commits ``extracted`` (with a lineage row) to
    ``corpus_extracted``, plus its quarantine rows, and the curation
    phase reads the committed table back — the audit/kept/line-dedup
    branches, which each consume ``extracted`` several times, then scan
    parquet instead of re-running the rasterize+detect UDF chain. The
    commit goes through ``commit_pending``, so the call is IDEMPOTENT per
    url: a re-run (killed curation phase, or the same build invoked twice
    on the same warehouse) extracts only not-yet-committed urls and never
    double-appends — an ungated append would silently duplicate every
    row, and duplicated rows would then double the corpus-wide line
    counts and make line dedup empty every document's text.

    With ``catalog=`` set, curation (including curate_documents' cuts
    and its ≤200-row host_cap probe, which run at call time) runs
    against the COMMITTED extracted table — a parquet scan. Without it,
    ``extracted`` is the live rasterize+detect UDF lineage: the call
    runs that chain for the funnel cut, and the probe re-executes a
    bounded slice of it; pass ``host_col=`` (skips the probe) or
    ``catalog=`` when that matters."""
    from .pipeline import run_pipeline

    if catalog is not None:
        from ..sources.catalog import commit_pending

        def run_stages(todo):
            # the committed table replaces every downstream read of the
            # extraction lineage, so the pipeline cache is released right
            # after the commit instead of pinning executor memory through
            # the curation phase
            out = run_pipeline(todo)
            return ([(CORPUS_TABLE, out.doc_text),
                     ("quarantine", out.quarantine)], out.unpersist)

        commit_pending(catalog, pages, [CORPUS_TABLE], run_stages)
        extracted = catalog.read(CORPUS_TABLE)
    else:
        extracted = run_pipeline(pages).doc_text
    audit, curated, funnel = curate_documents(
        extracted, benchmark=benchmark, id_col="url", text_col="doc_text",
        lang=lang, min_quality=min_quality,
        max_line_occurrences=max_line_occurrences,
        span_ngrams=span_ngrams,
        split_weights=split_weights, split_salt=split_salt,
        host_cap=host_cap, host_col=host_col, shuffle_salt=shuffle_salt,
    )
    return CorpusBuildOutputs(
        extracted=extracted, audit=audit, curated=curated, funnel=funnel,
    )
