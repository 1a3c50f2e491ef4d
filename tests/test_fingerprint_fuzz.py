"""md5 fingerprint-family unicode fuzz: ``md5(text)`` and the
min-shingle-md5 document fingerprint must agree between Spark and
DuckDB on hostile unicode — both engines hash UTF-8 bytes and compare
hex STRINGS lexicographically, and the shingle construction rides the
shared explicit-whitespace tokenizer, so any divergence here means a
tokenizer or encoding seam leaked back in. This is the portability
foundation of the whole md5 oracle family (MinHash/SimHash graded
twins)."""

from __future__ import annotations

import hashlib
import random

import duckdb
import pytest
from pyspark.sql import functions as F

from paper_layout_parser_spark.functions import text as tfn

POOL = ["the", "café", "Ωμέγα", "日本語", "🎉🚀", "naïve", "x", "1234",
        "a​b", "é", "dots...", " glued"]
WS = [" ", "  ", "\n", "\t", " \x0b "]


def _random_text(rng: random.Random) -> str | None:
    r = rng.random()
    if r < 0.05:
        return None
    if r < 0.10:
        return ""
    k = rng.randrange(1, 12)
    out = []
    for i in range(k):
        if i:
            out.append(rng.choice(WS))
        out.append(rng.choice(POOL))
    return "".join(out)


@pytest.mark.parametrize("seed, grams", [
    pytest.param(seed, grams, id=str(seed) + suffix)
    for grams, suffix in (("shingles", ""), ("ngrams", "-ngrams"))
    for seed in (0, 1)
])
def test_fingerprints_match_duckdb_and_python(spark, seed, grams):
    rng = random.Random(seed)
    rows = [(i, _random_text(rng)) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = getattr(tfn, grams)(tfn.words(F.col("text")), 3)
    # the sorted arrays pin ngrams' multiplicity (sorted: DuckDB's
    # list_distinct does not keep first-occurrence order)
    got = {r["doc_id"]: (r["full_md5"], r["min_sh"], sorted(r["g"]))
           for r in df.select(
        "doc_id",
        F.md5(F.col("text")).alias("full_md5"),
        F.array_min(F.transform(sh, lambda s: F.md5(s))).alias("min_sh"),
        sh.alias("g"),
    ).collect()}
    con = duckdb.connect()
    con.sql("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    # trim set pinned to ' ': DuckDB's default trim strips NBSP too
    w = f"string_split_regex(trim(text, ' '), '{tfn.WS_SPLIT}')"
    shingle = getattr(tfn, f"{grams}_sql")(w, 3)
    want = {r[0]: (r[1], r[2], sorted(r[3])) for r in con.sql(f"""
SELECT doc_id, md5(text),
       list_min([md5(s) for s in {shingle}]), {shingle}
FROM documents""").fetchall()}
    assert got == want
    # and the UTF-8-bytes contract against Python's hashlib directly
    for i, t in rows:
        if t is not None:
            assert got[i][0] == hashlib.md5(t.encode("utf-8")).hexdigest()
    # non-vacuous: some docs have >= 3 words (real shingles)
    assert any(v[1] is not None for v in got.values())
