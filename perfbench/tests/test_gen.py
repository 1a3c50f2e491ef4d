"""Input-generator determinism: the same seed gives byte-identical inputs,
another seed gives other ids, and the planted structure keeps its size.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import gen  # noqa: E402
from paper_layout_parser_spark import synthdata as sd  # noqa: E402


def digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            h.update(name.encode() + b"\0" + f.read())
    return h.hexdigest()


def test_extract_same_seed_byte_identical(tmp_path):
    for run in ("a", "b"):
        gen.write_parquet(gen.extract_input(7, 120, 2).table(),
                          str(tmp_path / run), 4)
    assert digest(tmp_path / "a") == digest(tmp_path / "b")


def test_extract_other_seed_other_ids_same_pages():
    a, b = gen.extract_input(7, 300, 3), gen.extract_input(8, 300, 3)
    assert a.doc_ids != b.doc_ids and a.corrupt_ids != b.corrupt_ids
    # stratified: page count and giant count depend on the size only
    assert a.pages == b.pages
    assert (sum(d % sd.GIANT_MOD == 0 for d in a.doc_ids)
            == sum(d % sd.GIANT_MOD == 0 for d in b.doc_ids) == 3)
    assert len(set(a.doc_ids)) == 300


def test_warmup_ids_disjoint_from_timed_ids():
    timed = gen.extract_input(7, 300, 3)
    warm = gen.extract_input(7, 30, 1, gen.WARMUP_IDS)
    assert not set(timed.doc_ids) & set(warm.doc_ids)
    assert not set(timed.corrupt_ids) & set(warm.corrupt_ids)


def test_corrupt_expected_failed_frac():
    inp = gen.extract_input(3, 100, 2)
    assert inp.attempted_pages == inp.pages + 2
    assert inp.expected_failed_frac == 2 / inp.attempted_pages


def test_ingest_files_do_not_overlap():
    files = gen.ingest_files(5, 6, 50, 1)
    ids = [d for f in files for d in f.doc_ids]
    bad = [d for f in files for d in f.corrupt_ids]
    assert len(ids) == len(set(ids)) == 300
    assert len(bad) == len(set(bad)) == 6


def test_curation_same_seed_byte_identical(tmp_path):
    for run in ("a", "b"):
        gen.write_parquet(gen.curation_input(4, 300).table(), str(tmp_path / run), 2)
    assert digest(tmp_path / "a") == digest(tmp_path / "b")


def test_curation_other_seed_other_docs_same_structure():
    a, b = gen.curation_input(4, 400), gen.curation_input(5, 400)
    assert {u for u, _ in a.rows}.isdisjoint({u for u, _ in b.rows})
    assert a.docs == b.docs
    assert len(a.foreign_urls) == len(b.foreign_urls) == 4
    assert len(a.twin_pairs) == len(b.twin_pairs)
    assert a.expected_failed_frac == b.expected_failed_frac


def test_curation_planted_structure():
    inp = gen.curation_input(9, 400)
    text = dict(inp.rows)
    assert len(text) == inp.docs                      # urls are unique
    for group in inp.exact_dup_groups:
        assert len({text[u] for u in group}) == 1
    for a, b in inp.twin_pairs:
        la, lb = text[a].split("\n"), text[b].split("\n")
        assert la != lb and sum(x != y for x, y in zip(la, lb)) == 1
    assert all(gen.FOREIGN_LINE in text[u] for u in inp.foreign_urls)
