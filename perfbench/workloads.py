"""The benchmark workloads: their jobs, timed loops, traced
decompositions and output checks.

Every workload follows the same shape (see ``run.py``):

  setup   generate the seeded inputs (three times, median reported),
          write them to parquet, run a warm-up pass on disjoint ids;
  timed   run the job as the package exposes it, untraced, for at least
          ``--seconds``; report end-to-end metrics;
  traced  (``--trace 1``) run the job once untraced, then once more as a
          decomposition into public layer calls with persisted cut
          points, each inside a tracer span (``extract_bulk`` adds the
          incremental-ingest loop);
  checks  compare committed outputs against the generator and the
          DuckDB oracle; every failed check is one output mismatch.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import duckdb
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paper_layout_parser_spark import synthdata as sd
from paper_layout_parser_spark.corpus import build_ground_truth
from paper_layout_parser_spark.operators.assembly import assemble_doc_text
from paper_layout_parser_spark.operators.curation import (
    DEFAULT_SPLIT_WEIGHTS,
    assign_split,
    cap_per_host,
    clean_corpus,
    deterministic_shuffle,
)
from paper_layout_parser_spark.operators.dedup import (
    dedup_lines,
    minhash_lsh_pairs,
    remove_duplicate_spans,
)
from paper_layout_parser_spark.operators.detect import (
    normalize_detections,
    rasterize_detect_enrich,
)
from paper_layout_parser_spark.operators.evaluate import (
    compare_matches,
    evaluation_summary,
    per_type_metrics,
)
from paper_layout_parser_spark.operators.matching import match_captions
from paper_layout_parser_spark.operators.rasterize import plan_splits, rasterize_pages
from paper_layout_parser_spark.operators.stats import doc_stats
from paper_layout_parser_spark.plans.corpus_build import curate_documents
from paper_layout_parser_spark.sources.catalog import Catalog
from paper_layout_parser_spark.streaming.ingest import run_incremental_extraction

import gen
from tracing import PeakRss, Tracer, job_task_counts

# The production extraction job and the tables it commits.
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))
from run_extraction_job import STAGE_TABLES, run_job  # noqa: E402

INPUT_FILES = 8            # part files per generated table (scan parallelism)
GEN_REPEATS = 3            # input generation runs per setup (median reported)

# Workload sizes. Each timed phase runs at least MIN_JOBS jobs and at
# least --seconds; MIN_JOBS is set so that the jobs alone outlast the
# default 20 s, keeping the job count (and with it what the median
# covers) the same from run to run. Run-to-run noise, not job-to-job
# noise, dominates on a shared 4-core host, so more jobs per run buy
# little steadiness for their cost.
EXTRACT_DOCS, EXTRACT_CORRUPT, EXTRACT_WARM_DOCS, EXTRACT_MIN_JOBS = 300, 3, 10, 2
CURATE_DOCS, CURATE_MIN_JOBS = 1000, 3
HOST_CAP, SPAN_NGRAMS, SHUFFLE_SALT = 30, 8, "epoch-0"
INGEST_DRAINS, INGEST_DOCS_PER_FILE, INGEST_CORRUPT_PER_FILE = 4, 50, 1
INGEST_WARM_DOCS = 20


@dataclass
class Checks:
    """Output checks: each ``expect`` is one attempted check."""
    attempted: int = 0
    failures: list[str] = field(default_factory=list)

    def expect(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)


@dataclass
class Setup:
    session_s: float
    gen_s: list[float]
    warmup_s: float

    @property
    def setup_s(self) -> float:
        return self.session_s + statistics.median(self.gen_s) + self.warmup_s


def timed_generation(make, write):
    """Run input generation + parquet materialization GEN_REPEATS times
    (each into a fresh location); return the durations and the input."""
    out, inp = [], None
    for i in range(GEN_REPEATS):
        t0 = time.monotonic()
        inp = make()
        write(inp, i)
        out.append(time.monotonic() - t0)
    return out, inp


def timed_loop(job, out_prefix: str, seconds: float, min_iters: int):
    """Run ``job(out)`` until ``seconds`` have passed and ``min_iters`` runs
    are done, each run writing to a fresh ``out``; the previous run's
    output is removed before the clock starts. The process tree's peak
    RSS is sampled throughout. Returns (durations, last result, last
    output path, the PeakRss sampler)."""
    walls, result, out = [], None, None
    with PeakRss() as rss:
        start = time.monotonic()
        while len(walls) < min_iters or time.monotonic() - start < seconds:
            if out is not None:
                shutil.rmtree(out)
            out = f"{out_prefix}-{len(walls)}"
            t = time.monotonic()
            result = job(out)
            walls.append(time.monotonic() - t)
    return walls, result, out, rss


def force(df: DataFrame) -> None:
    """Compute every column of ``df`` without keeping the rows."""
    df.write.format("noop").mode("overwrite").save()


def parquet_files(root: str) -> int:
    return len(glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True))


# ---------------------------------------------------------------------------
# extraction: job, oracle checks, traced decomposition
# ---------------------------------------------------------------------------

def extract_job(spark: SparkSession, pages_path: str, warehouse: str) -> dict:
    """The production extraction job (scripts/run_extraction_job.run_job:
    run_pipeline, commit doc_text / extracted_items / doc_stats through
    Catalog.checkpoint_stage, and the quarantine rows) on a fresh
    warehouse, then evaluation of the committed items against the ground
    truth. Returns the collected evaluation summary."""
    cat = Catalog(spark, warehouse)
    run_job(spark, spark.read.parquet(pages_path), cat)
    items = cat.read("extracted_items")
    cmp = compare_matches(build_ground_truth(items), items)
    summary = evaluation_summary(cmp).collect()[0].asDict()
    per_type_metrics(cmp).collect()
    return summary


def oracle(doc_ids: list[int]) -> tuple[dict, dict[str, int]]:
    """DuckDB oracle over the seeded id list registered as ``documents``:
    (evaluation summary row, extracted-item count per url)."""
    con = duckdb.connect()
    try:
        con.register("documents", pd.DataFrame({"doc_id": pd.Series(doc_ids, dtype="int64")}))
        row = con.sql(sd.evaluation_summary_sql("documents")).df().iloc[0].to_dict()
        items = con.sql(f"WITH {sd.matched_items_cte('documents')} "
                        "SELECT url, count(*) AS n FROM matched GROUP BY url").fetchall()
    finally:
        con.close()
    return row, {u: int(n) for u, n in items}


def summary_matches(spark_row: dict, oracle_row: dict) -> bool:
    keys = ("tp", "correct_no_caption", "fp", "fn", "total",
            "precision", "recall", "f1")
    return all(float(spark_row[k]) == float(oracle_row[k]) for k in keys)


def check_committed(chk: Checks, cat: Catalog, doc_ids: list[int],
                    item_counts: dict[str, int]) -> int:
    """Committed tables hold exactly one set of rows per clean url:
    doc_text byte-identical to the generated text, doc_stats page counts
    equal to the spec, extracted_items per url equal to the oracle.
    Returns the committed page count."""
    want_text = {sd.url_of(d): sd.doc_text(d) for d in doc_ids}
    rows = cat.read("doc_text").select("url", "doc_text").collect()
    got = {}
    for u, t in rows:
        got.setdefault(u, []).append(t)
    chk.expect(len(rows) == len(got), "doc_text: a url has more than one row")
    chk.expect(set(got) == set(want_text), "doc_text: committed urls differ")
    bad = sum(1 for u, t in want_text.items() if got.get(u) != [t])
    chk.expect(bad == 0, f"doc_text: {bad} documents not byte-identical")

    stats = cat.read("doc_stats").select("url", "total_pages").collect()
    pages = {u: p for u, p in stats}
    chk.expect(len(stats) == len(pages), "doc_stats: a url has more than one row")
    chk.expect(pages == {sd.url_of(d): sd.n_pages(d) for d in doc_ids},
               "doc_stats: total_pages differ from the spec")

    got_items = dict(cat.read("extracted_items").groupBy("url").count().collect())
    chk.expect(got_items == item_counts,
               "extracted_items: per-url item counts differ from the oracle")
    return sum(pages.values())


def trace_extraction(tr: Tracer, spark: SparkSession, pages_path: str,
                     warehouse: str) -> None:
    """Each extraction layer's public call, timed with a persisted
    upstream and forced. The wiring mirrors plans/pipeline.py (fused hot
    path; doc_stats' page counts come from the standalone rasterized
    lineage, exactly as the pipeline builds them)."""
    pages = spark.read.parquet(pages_path).persist()
    pages.count()
    keep = [pages]
    with tr.span("rasterize.plan_splits"):
        planned = plan_splits(pages).persist()
        tr.count("rasterize.chunks", planned.count())
    keep.append(planned)
    with tr.span("detect.fused"):
        fused = rasterize_detect_enrich(planned)
        enriched = (normalize_detections(fused.drop("stage"))
                    .where(F.col("error").isNull()).drop("error").persist())
        enriched.count()
    keep.append(enriched)
    tr.count("detect.detections", enriched.count())
    tr.count("detect.pages", enriched.select("url", "page_no").distinct().count())
    with tr.span("rasterize.standalone"):
        force(rasterize_pages(planned))
    with tr.span("matching.match_captions"):
        matched = match_captions(enriched).persist()
        n_items = matched.count()
    keep.append(matched)
    tr.count("matching.items", n_items)
    tr.count("matching.captioned_frac",
             matched.where(F.col("cap_x1").isNotNull()).count() / max(n_items, 1))
    with tr.span("assembly.assemble_doc_text"):
        text = assemble_doc_text(enriched).persist()
        text.count()
    keep.append(text)
    with tr.span("stats.doc_stats"):
        rasterized = rasterize_pages(planned).where(F.col("error").isNull())
        total_pages = rasterized.groupBy("url").agg(
            F.count("*").cast("int").alias("total_pages"))
        stats = doc_stats(enriched, total_pages=total_pages).persist()
        stats.count()
    keep.append(stats)
    cat = Catalog(spark, warehouse)
    outputs = {"doc_text": text, "matched": matched, "doc_stats": stats}
    with tr.span("catalog.checkpoint_stage"):
        for table, attr, page_col in STAGE_TABLES:
            cat.checkpoint_stage(outputs[attr], table, page_col=page_col)
    tr.count("catalog.bytes_out", sum(
        cat.read(f"{t}__lineage").agg(F.sum("bytes_out")).collect()[0][0]
        for t, _, _ in STAGE_TABLES))
    tr.count("catalog.files_written", parquet_files(warehouse))
    with tr.span("evaluate.eval"):
        items = cat.read("extracted_items")
        cmp = compare_matches(build_ground_truth(items), items)
        evaluation_summary(cmp).collect()
        per_type_metrics(cmp).collect()
    for df in keep:
        df.unpersist()


# ---------------------------------------------------------------------------
# workload: extract_bulk
# ---------------------------------------------------------------------------

def extract_bulk(spark, work: str, seed: int, seconds: float, session_s: float,
                 tracer: Tracer | None):
    def write(inp, i):
        gen.write_parquet(inp.table(), f"{work}/pages-{i}", INPUT_FILES)

    gen_s, inp = timed_generation(
        lambda: gen.extract_input(seed, EXTRACT_DOCS, EXTRACT_CORRUPT), write)
    pages_path = f"{work}/pages-0"
    warm = gen.extract_input(seed, EXTRACT_WARM_DOCS, 1, gen.WARMUP_IDS)
    t0 = time.monotonic()
    gen.write_parquet(warm.table(), f"{work}/warm-pages", INPUT_FILES)
    extract_job(spark, f"{work}/warm-pages", f"{work}/warm-wh")
    setup = Setup(session_s, gen_s, time.monotonic() - t0)

    walls, summary, wh, rss = timed_loop(
        lambda out: extract_job(spark, pages_path, out), f"{work}/wh",
        *((0, 1) if tracer else (seconds, EXTRACT_MIN_JOBS)))

    chk = Checks()
    want_summary, item_counts = oracle(inp.doc_ids)
    chk.expect(summary_matches(summary, want_summary),
               f"evaluation summary {summary} != oracle {want_summary}")
    cat = Catalog(spark, wh)
    committed = check_committed(chk, cat, inp.doc_ids, item_counts)
    quarantined = {r[0] for r in cat.read("quarantine").select("url").collect()}
    chk.expect(quarantined == {sd.url_of(d) for d in inp.corrupt_ids},
               "quarantine urls differ from the planted corrupt documents")
    failed_frac = (inp.attempted_pages - committed) / inp.attempted_pages
    chk.expect(failed_frac == inp.expected_failed_frac,
               f"failed_frac {failed_frac} != planted {inp.expected_failed_frac}")

    wall = statistics.median(walls)
    metrics = {
        "setup_s": setup.setup_s, "wall_s": wall,
        "pages_per_s": committed / wall, "docs_per_s": inp.docs / wall,
        "failed_frac": failed_frac, "peak_rss_mb": rss.peak_mb,
    }
    info = {"iterations": len(walls), "walls_s": walls, "pages": committed,
            "procs_at_peak_rss": rss.procs_at_peak,
            "docs": inp.docs, "setup": setup.__dict__}
    if tracer is not None:
        t = time.monotonic()
        trace_extraction(tracer, spark, pages_path, f"{work}/traced-wh")
        info["trace_overhead_s"] = time.monotonic() - t - wall
        info["untraced_wall_s"] = wall
        info["ingest"] = trace_ingest(tracer, chk, spark, work, seed)
    return metrics, chk, info


# ---------------------------------------------------------------------------
# workload: curate_text
# ---------------------------------------------------------------------------

def curate_job(spark: SparkSession, docs_path: str, out: str):
    """curate_documents (funnel, host cap, line dedup, span dedup, split,
    shuffle) committed to parquet, then MinHash-LSH near-duplicate pairs
    over the input corpus. Returns the collected funnel and the job's
    audit (uncollected: the checks read it after the timed phase)."""
    docs = spark.read.parquet(docs_path)
    audit, curated, funnel = curate_documents(
        docs, lang="und", min_quality=0.0, host_cap=HOST_CAP,
        span_ngrams=SPAN_NGRAMS, shuffle_salt=SHUFFLE_SALT)
    curated.write.parquet(f"{out}/curated")
    rows = funnel.collect()
    minhash_lsh_pairs(docs, threshold=0.5, id_col="url",
                      text_col="doc_text").write.parquet(f"{out}/pairs")
    return rows, audit


def check_curated_text(chk: Checks, inp: gen.CurationInput,
                       curated: dict[str, str]) -> None:
    """No boilerplate line or shared-phrase span survives curation, and
    a document without planted structure comes out as exactly its own
    lines minus the boilerplate. (A twin and its original share all but
    one line, so what survives of them depends on the host cap.)"""
    text = dict(inp.rows)
    twins = {u for pair in inp.twin_pairs for u in pair}
    leaked = [u for u, t in curated.items()
              if gen.SHARED_PHRASE in t
              or any(b in t.split("\n") for b in gen.BOILERPLATE)]
    chk.expect(not leaked, f"{len(leaked)} curated documents keep boilerplate "
                           "or the shared phrase")
    plain = {u: "\n".join(l for l in text[u].split("\n")
                           if l not in gen.BOILERPLATE)
             for u in curated if u not in twins and gen.SHARED_PHRASE not in text[u]}
    bad = sum(curated[u] != want for u, want in plain.items())
    chk.expect(bad == 0, f"{bad} of {len(plain)} plain curated documents are not "
                         "their own lines minus the boilerplate")


def planted_pairs(inp: gen.CurationInput) -> set[tuple[str, str]]:
    pairs = {tuple(sorted(p)) for p in inp.twin_pairs}
    for group in inp.exact_dup_groups:
        pairs.update((a, b) for a in group for b in group if a < b)
    return pairs


def trace_curation(tr: Tracer, spark: SparkSession, docs_path: str,
                   inp: gen.CurationInput) -> None:
    """Each curation layer's public call with a persisted upstream; the
    wiring mirrors plans/corpus_build.curate_documents."""
    docs = spark.read.parquet(docs_path).persist()
    n_docs = docs.count()
    keep = [docs]
    with tr.span("curation.clean_corpus"):
        audit = clean_corpus(docs, lang="und", min_quality=0.0,
                             id_col="url", text_col="doc_text").persist()
        audit.count()
    keep.append(audit)
    kept_audit = audit.where(F.col("keep"))
    n_kept = kept_audit.count()
    tr.count("curation.kept_frac", n_kept / n_docs)
    kept = docs.join(kept_audit, "url", "left_semi")
    with tr.span("curation.cap_per_host"):
        capped = cap_per_host(kept, HOST_CAP, url_col="url", id_col="url").persist()
        n_capped = capped.count()
    keep.append(capped)
    tr.count("curation.capped_frac", 1 - n_capped / n_kept)
    with tr.span("dedup.dedup_lines"):
        deduped = dedup_lines(capped, max_occurrences=1, id_col="url",
                              text_col="doc_text").persist()
        deduped.count()
    keep.append(deduped)
    kept_l, dropped_l = deduped.agg(F.sum("n_lines_kept"),
                                    F.sum("n_lines_dropped")).collect()[0]
    tr.count("dedup.lines_dropped_frac", dropped_l / (kept_l + dropped_l))
    with tr.span("dedup.remove_duplicate_spans"):
        spans = (remove_duplicate_spans(deduped, n=SPAN_NGRAMS, id_col="url",
                                        text_col="clean_text",
                                        out_col="__span_clean")
                 .withColumn("clean_text", F.col("__span_clean"))
                 .drop("__span_clean").persist())
        n_spans = spans.count()
    keep.append(spans)
    tr.count("dedup.span_touched_frac",
             spans.where(F.col("n_tokens_removed") > 0).count() / n_spans)
    with tr.span("curation.assign_split"):
        force(deterministic_shuffle(
            assign_split(spans, weights=DEFAULT_SPLIT_WEIGHTS, id_col="url"),
            salt=SHUFFLE_SALT, id_col="url"))
    with tr.span("dedup.minhash_lsh"):
        pairs = minhash_lsh_pairs(docs, threshold=0.5, id_col="url",
                                  text_col="doc_text").persist()
        found = {(a, b) for a, b in pairs.select("id_a", "id_b").collect()}
    keep.append(pairs)
    planted = planted_pairs(inp)
    tr.count("dedup.pairs", len(found))
    tr.count("dedup.planted_pair_recall", len(planted & found) / len(planted))
    for df in keep:
        df.unpersist()


def curate_text(spark, work: str, seed: int, seconds: float, session_s: float,
                tracer: Tracer | None):
    def write(inp, i):
        gen.write_parquet(inp.table(), f"{work}/docs-{i}", INPUT_FILES)

    gen_s, inp = timed_generation(lambda: gen.curation_input(seed, CURATE_DOCS), write)
    docs_path = f"{work}/docs-0"
    # warm-up corpus: another seed's urls, so no id is shared. Full size:
    # after a small one the first timed job still ran 1-3 s slower.
    warm = gen.curation_input(-1 - seed, CURATE_DOCS)
    t0 = time.monotonic()
    gen.write_parquet(warm.table(), f"{work}/warm-docs", INPUT_FILES)
    curate_job(spark, f"{work}/warm-docs", f"{work}/warm-out")
    setup = Setup(session_s, gen_s, time.monotonic() - t0)

    walls, (funnel, audit), out, rss = timed_loop(
        lambda out: curate_job(spark, docs_path, out), f"{work}/out",
        *((0, 1) if tracer else (seconds, CURATE_MIN_JOBS)))

    chk = Checks()
    stages = {r["stage"]: r["n_docs"] for r in funnel}
    chk.expect(sum(stages.values()) == inp.docs,
               f"funnel counts {stages} do not sum to {inp.docs}")
    n_dups = sum(len(g) - 1 for g in inp.exact_dup_groups)
    chk.expect(stages.get("duplicate", 0) == n_dups,
               f"funnel dropped {stages.get('duplicate', 0)} duplicates, planted {n_dups}")
    verdicts = audit.select("url", "keep", "drop_reason").collect()
    keep = {u: k for u, k, _ in verdicts}
    lost = [g for g in inp.exact_dup_groups if sum(keep[u] for u in g) != 1]
    chk.expect(not lost, f"{len(lost)} exact-duplicate groups do not keep one survivor")
    dropped_lang = {u for u, _, r in verdicts if r == "lang"}
    chk.expect(dropped_lang == set(inp.foreign_urls),
               "language-dropped documents differ from the planted ones")
    check_curated_text(chk, inp, dict(spark.read.parquet(f"{out}/curated")
                                      .select("url", "clean_text").collect()))
    found = {(a, b) for a, b in
             spark.read.parquet(f"{out}/pairs").select("id_a", "id_b").collect()}
    planted = planted_pairs(inp)
    chk.expect(planted <= found,
               f"LSH missed {len(planted - found)} of {len(planted)} planted pairs")
    n_curated = spark.read.parquet(f"{out}/curated").count()
    chk.expect(0 < n_curated < stages.get("kept", 0),
               f"curated {n_curated} docs, funnel kept {stages.get('kept')}: host cap did not bind")
    failed_frac = stages.get("lang", 0) / inp.docs
    chk.expect(failed_frac == inp.expected_failed_frac,
               f"failed_frac {failed_frac} != planted {inp.expected_failed_frac}")

    wall = statistics.median(walls)
    metrics = {
        "setup_s": setup.setup_s, "wall_s": wall,
        # documents are this workload's input unit: no page grain
        "pages_per_s": inp.docs / wall, "docs_per_s": inp.docs / wall,
        "failed_frac": failed_frac, "peak_rss_mb": rss.peak_mb,
    }
    info = {"iterations": len(walls), "walls_s": walls, "docs": inp.docs,
            "procs_at_peak_rss": rss.procs_at_peak,
            "funnel": stages, "setup": setup.__dict__}
    if tracer is not None:
        t = time.monotonic()
        trace_curation(tracer, spark, docs_path, inp)
        info["trace_overhead_s"] = time.monotonic() - t - wall
        info["untraced_wall_s"] = wall
    return metrics, chk, info


# ---------------------------------------------------------------------------
# workload: ingest_incremental
# ---------------------------------------------------------------------------

class CountingCatalog(Catalog):
    """The public Catalog with checkpoint_stage, append, read and exists
    counted, and the time inside checkpoint_stage (including the lazy
    pipeline compute it triggers) accumulated — measured from outside the
    package."""

    def __init__(self, spark, root):
        super().__init__(spark, root)
        self.calls = {"checkpoint_stage": 0, "append": 0, "read": 0, "exists": 0}
        self.checkpoint_s = 0.0

    def checkpoint_stage(self, *args, **kwargs):
        self.calls["checkpoint_stage"] += 1
        t0 = time.monotonic()
        try:
            return super().checkpoint_stage(*args, **kwargs)
        finally:
            self.checkpoint_s += time.monotonic() - t0

    def append(self, *args, **kwargs):
        self.calls["append"] += 1
        return super().append(*args, **kwargs)

    def read(self, *args, **kwargs):
        self.calls["read"] += 1
        return super().read(*args, **kwargs)

    def exists(self, *args, **kwargs):
        self.calls["exists"] += 1
        return super().exists(*args, **kwargs)


@dataclass
class Drain:
    latency_s: float       # file landing -> the drain that commits it returns
    checkpoint_s: float    # of which inside Catalog.checkpoint_stage
    query_id: str          # the streaming query's run id = its Spark job group
    rows: int              # input rows the drain read


def ingest_loop(spark, work: str, files: list[str], n_drains: int, tag: str):
    """Closed loop, one client: land a file, drain, repeat for
    ``n_drains`` files, then re-deliver the first file under a new name
    and drain once more. Returns (catalog, fresh drains, re-delivery
    drain, wall seconds)."""
    landing = f"{work}/{tag}-landing"
    os.makedirs(landing)
    cat = CountingCatalog(spark, f"{work}/{tag}-wh")

    def drain(t_land: float) -> Drain:
        before = cat.checkpoint_s
        q = run_incremental_extraction(spark, landing, cat, f"{work}/{tag}-ckpt",
                                       tables=STAGE_TABLES)
        return Drain(time.monotonic() - t_land,
                     cat.checkpoint_s - before, str(q.runId),
                     sum(p["numInputRows"] for p in q.recentProgress))

    drains = []
    start = time.monotonic()
    for i, path in enumerate(files[:n_drains]):
        t_land = time.monotonic()
        os.rename(path, f"{landing}/part-{i:05d}.parquet")
        drains.append(drain(t_land))
    shutil.copyfile(f"{landing}/part-00000.parquet", f"{work}/{tag}-again.tmp")
    t_land = time.monotonic()
    os.rename(f"{work}/{tag}-again.tmp", f"{landing}/redelivered-00000.parquet")
    again = drain(t_land)
    return cat, drains, again, time.monotonic() - start


def trace_ingest(tr: Tracer, chk: Checks, spark, work: str, seed: int) -> dict:
    """Incremental ingest, traced: after a warm-up drain, a closed loop
    lands INGEST_DRAINS small page files one at a time and drains each
    through run_incremental_extraction with the counting catalog, then
    re-delivers the first file. Checks exactly-once commits."""
    files = gen.ingest_files(seed, INGEST_DRAINS, INGEST_DOCS_PER_FILE,
                             INGEST_CORRUPT_PER_FILE)
    warm = gen.ingest_files(seed, 1, INGEST_WARM_DOCS, 1, gen.WARMUP_IDS)[0]
    for name, f in [("warm", warm)] + [(f"file-{i}", f) for i, f in enumerate(files)]:
        gen.write_parquet(f.table(), f"{work}/{name}")
    ingest_loop(spark, work, [f"{work}/warm/part-00000.parquet"], 1, "warm")
    with tr.span("ingest.loop"):
        cat, drains, again, wall = ingest_loop(
            spark, work, [f"{work}/file-{i}/part-00000.parquet" for i in range(len(files))],
            len(files), "ingest")

    ids = [d for f in files for d in f.doc_ids]
    _summary, item_counts = oracle(ids)
    committed = check_committed(chk, cat, ids, item_counts)
    attempted = sum(f.attempted_pages for f in files)
    planted = sum(len(f.corrupt_ids) for f in files)
    chk.expect(attempted - committed == planted,
               f"ingest: {attempted - committed} pages not committed, planted {planted}")
    chk.expect(again.rows == files[0].docs,
               f"ingest: re-delivered file read {again.rows} rows, holds {files[0].docs}")

    n = len(drains)
    jobs, tasks = job_task_counts(spark.sparkContext,
                                  [d.query_id for d in drains + [again]])
    ck = [d.checkpoint_s for d in drains]
    lat = [d.latency_s for d in drains]
    q = max(1, n // 4)
    tr.count("ingest.jobs", jobs / (n + 1))
    tr.count("ingest.tasks", tasks / (n + 1))
    tr.count("ingest.drains", n)
    tr.count("ingest.drain_latency_p50_s", statistics.median(lat))
    tr.count("ingest.checkpoint_s", statistics.median(ck))
    tr.count("ingest.gate_s", statistics.median(l - c for l, c in zip(lat, ck)))
    tr.count("ingest.late_over_early",
             statistics.median(lat[-q:]) / statistics.median(lat[:q]))
    tr.count("catalog.append_calls", cat.calls["append"] / n)
    tr.count("catalog.read_calls", cat.calls["read"] / n)
    tr.count("catalog.files_total", parquet_files(f"{work}/ingest-wh"))
    return {"drains": n, "drain_latency_s": lat, "checkpoint_s": ck,
            "redelivery_s": again.latency_s, "wall_s": wall,
            "pages": committed, "catalog_calls": cat.calls}


WORKLOADS = {
    "extract_bulk": extract_bulk,
    "curate_text": curate_text,
}
