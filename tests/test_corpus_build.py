"""End-to-end corpus build: extraction -> curation -> line dedup -> splits
composed in one plan (plans.corpus_build)."""

import pytest
from pyspark.sql import functions as F

from paper_layout_parser_spark.corpus import build_pages
from paper_layout_parser_spark.plans.corpus_build import build_training_corpus

from .conftest import CORRUPT_HTML, SF_SMALL


@pytest.fixture(scope="module")
def built(spark):
    pages = build_pages(spark, SF_SMALL).where(
        F.regexp_extract("url", r"([0-9]+)$", 1).cast("long") < 12
    )
    # plant an exact duplicate document under a different url: the funnel's
    # duplicate rule must drop exactly one of the pair
    dup = pages.where(
        F.regexp_extract("url", r"([0-9]+)$", 1).cast("long") == 3
    ).withColumn("url", F.concat(F.col("url"), F.lit("-mirror")))
    # the synthetic layout text carries no language markers -> 'und'
    return build_training_corpus(
        pages.unionByName(dup), lang="und", min_quality=0.0,
    )


def test_funnel_accounts_for_every_document(built):
    rows = {r["stage"]: r["n_docs"] for r in built.funnel.collect()}
    assert sum(rows.values()) == 13            # 12 docs + 1 mirror
    assert rows.get("duplicate") == 1          # exactly one of the pair
    assert rows.get("kept") == 12


def test_curated_output_shape_and_splits(built):
    rows = built.curated.collect()
    assert len(rows) == 12
    assert {r["split"] for r in rows} <= {"train", "val", "test"}
    # no corpus-wide duplicate lines in the synthetic text -> nothing
    # dropped by the line rule; the cleaned text is the extracted text
    extracted = {r["url"]: r["doc_text"] for r in built.extracted.collect()}
    for r in rows:
        assert r["n_lines_dropped"] == 0
        assert r["clean_text"] == extracted[r["url"]]


def test_duplicate_mirror_is_the_dropped_one(built):
    audit = {r["url"]: r for r in built.audit.collect()}
    # lowest id (the original url sorts before 'url-mirror') is kept
    dropped = [u for u, r in audit.items() if not r["keep"]]
    assert dropped and dropped[0].endswith("-mirror")
    assert audit[dropped[0]]["drop_reason"] == "duplicate"


def test_curation_phase_reusable_standalone(spark):
    """curate_documents runs over ANY (id, text) table — no extraction."""
    from paper_layout_parser_spark.plans.corpus_build import curate_documents

    docs = spark.createDataFrame(
        [("a", "unique alpha content here"),
         ("b", "unique beta content here"),
         ("c", "unique alpha content here")],   # exact dup of a
        "url string, doc_text string",
    )
    audit, curated, funnel = curate_documents(
        docs, lang="und", min_quality=0.0
    )
    assert {r["url"]: r["keep"] for r in audit.collect()} == {
        "a": True, "b": True, "c": False
    }
    assert curated.count() == 2


def test_curation_host_cap_and_shuffle(spark):
    """host_cap spends its budget on FUNNEL SURVIVORS (a capped template
    farm can't crowd out good docs) and shuffle_salt yields a
    deterministic training order."""
    from paper_layout_parser_spark.plans.corpus_build import curate_documents

    rows = [(f"https://farm.example/d{i:02d}",
             f"unique farm page number {i} with words") for i in range(10)]
    rows += [(f"https://ok.example/p{i}",
              f"unique good page number {i} here") for i in range(3)]
    docs = spark.createDataFrame(rows, "url string, doc_text string")
    audit, curated, funnel = curate_documents(
        docs, lang="und", min_quality=0.0, host_cap=4,
        shuffle_salt="epoch-0",
    )
    out = curated.collect()   # already ordered by the shuffle
    by_host = {}
    for r in out:
        host = r["url"].split("/")[2]
        by_host[host] = by_host.get(host, 0) + 1
    assert by_host == {"farm.example": 4, "ok.example": 3}
    # deterministic order: same salt == same order, repartitioned input too
    again = [r["url"] for r in curate_documents(
        docs.repartition(7), lang="und", min_quality=0.0, host_cap=4,
        shuffle_salt="epoch-0")[1].collect()]
    assert again == [r["url"] for r in out]


def test_host_cap_fails_fast_on_non_url_ids(spark):
    """ADVICE r5: host_cap with non-URL ids used to parse every host to
    NULL, group ALL rows as one host, and silently truncate the corpus
    to host_cap rows total. Now it raises, and host_col= is the escape
    hatch for (id, text) tables whose ids are not URLs."""
    import pytest as _pytest
    from paper_layout_parser_spark.plans.corpus_build import curate_documents

    docs = spark.createDataFrame(
        [(f"doc-{i}", f"unique text number {i} here", f"h{i % 3}")
         for i in range(12)],
        "url string, doc_text string, site string",
    )
    with _pytest.raises(ValueError, match="host_col"):
        curate_documents(docs.drop("site"), lang="und", min_quality=0.0,
                         host_cap=2)
    # explicit host column: capped per site, not truncated to 2 total
    _, curated, _ = curate_documents(
        docs, lang="und", min_quality=0.0, host_cap=2, host_col="site")
    assert curated.count() == 6


def test_checkpointed_build_matches_and_never_reextracts(spark, tmp_path):
    """catalog= makes the docstring's 'checkpoint extracted between
    phases' contract code: curated results are identical to the
    uncheckpointed build, the curation phase's physical plan contains NO
    Python-UDF stages (it scans the committed table instead of re-running
    rasterize+detect), and the checkpoint recorded lineage rows."""
    from paper_layout_parser_spark.sources.catalog import Catalog

    pages = build_pages(spark, SF_SMALL).where(
        F.regexp_extract("url", r"([0-9]+)$", 1).cast("long") < 10
    )
    plain = build_training_corpus(pages, lang="und", min_quality=0.0,
                                  host_cap=4, shuffle_salt="epoch-0")
    cat = Catalog(spark, str(tmp_path / "wh"))
    ckpt = build_training_corpus(pages, lang="und", min_quality=0.0,
                                 host_cap=4, shuffle_salt="epoch-0",
                                 catalog=cat)
    want = [(r["url"], r["clean_text"], r["split"])
            for r in plain.curated.collect()]
    got = [(r["url"], r["clean_text"], r["split"])
           for r in ckpt.curated.collect()]
    assert got == want and got

    plan = ckpt.curated._jdf.queryExecution().executedPlan().toString()
    for udf_node in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython",
                     "FlatMapGroupsInPandas"):
        assert udf_node not in plan, f"{udf_node} in curation-phase plan"
    lineage = cat.read("corpus_extracted__lineage")
    n_docs = plain.extracted.count()
    agg = lineage.agg(F.sum("rows_out").alias("rows")).collect()[0]
    assert agg["rows"] == n_docs


def test_checkpointed_build_is_idempotent(spark, tmp_path):
    """Re-running the SAME build against the SAME warehouse (the
    resume-after-kill scenario) must not double-append the checkpoint
    table: the pending gate extracts nothing the second time, per-url
    counts stay 1, and curated output is unchanged — an ungated append
    would duplicate every row and line dedup would then empty every
    document's clean_text."""
    from paper_layout_parser_spark.sources.catalog import Catalog

    pages = build_pages(spark, SF_SMALL).where(
        F.regexp_extract("url", r"([0-9]+)$", 1).cast("long") < 10
    )
    cat = Catalog(spark, str(tmp_path / "wh"))
    kw = dict(lang="und", min_quality=0.0, host_cap=4,
              shuffle_salt="epoch-0", catalog=cat)
    first = build_training_corpus(pages, **kw)
    want = [(r["url"], r["clean_text"], r["split"])
            for r in first.curated.collect()]
    n_lineage = cat.read("corpus_extracted__lineage").count()

    second = build_training_corpus(pages, **kw)
    per_url_max = (cat.read("corpus_extracted").groupBy("url").count()
                   .agg(F.max("count")).collect()[0][0])
    assert per_url_max == 1
    got = [(r["url"], r["clean_text"], r["split"])
           for r in second.curated.collect()]
    assert got == want and got
    # nothing was pending, so no new lineage run was recorded
    assert cat.read("corpus_extracted__lineage").count() == n_lineage


def test_checkpointed_build_quarantines_each_bad_page_once(spark, tmp_path):
    """With catalog= the extraction phase commits its quarantine rows next
    to corpus_extracted: a corrupt document is one quarantine row, and a
    second build on the same warehouse adds none."""
    import datetime

    from paper_layout_parser_spark import synthdata as sd
    from paper_layout_parser_spark.corpus import PAGES_SCHEMA
    from paper_layout_parser_spark.sources.catalog import Catalog

    corrupt = spark.createDataFrame(
        [("u_corrupt", datetime.datetime(2020, 1, 1), CORRUPT_HTML, "", "en")],
        PAGES_SCHEMA)
    pages = build_pages(spark, SF_SMALL).where(
        F.col("url").isin([sd.url_of(d) for d in range(3)])
    ).unionByName(corrupt)
    cat = Catalog(spark, str(tmp_path / "wh"))
    for _ in range(2):
        build_training_corpus(pages, lang="und", min_quality=0.0, catalog=cat)
        q = cat.read("quarantine").collect()
        assert [r["url"] for r in q] == ["u_corrupt"]
        assert cat.read("corpus_extracted").count() == 3
