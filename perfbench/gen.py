"""Seeded, deterministic input generators for the benchmark workloads.

Everything here is plain Python + pyarrow: no Spark session is needed to
build inputs, the same seed always yields byte-identical parquet files,
and the program under test only ever sees the written tables.

* ``extract_input`` / ``ingest_files`` — a stratified sample of document ids from the
  ``synthdata`` spec (1-8 pages per document, a 64-page giant every
  101st id, three page sizes). The stratification fixes how many ids fall
  in each page-count class, so every seed yields exactly the same number
  of pages and only the ids (and with them page sizes, layouts and
  captions) change. A fixed number of corrupt documents is planted.
* ``curation_input`` — a ``(url, doc_text)`` corpus in the shape of
  ``bench.py``'s curation and dedup corpora: unique lines, boilerplate
  lines shared by every document, a shared phrase in every 10th document,
  a host spread at which ``host_cap`` binds, planted exact duplicates,
  near-duplicate twins, one viral cluster and a planted set of
  wrong-language documents the funnel must reject.
"""

from __future__ import annotations

import random
import struct
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from paper_layout_parser_spark import synthdata as sd

# Disjoint id ranges: timed inputs never share an id with the warm-up
# input, so warm-up cannot pre-populate anything the timed phase reads.
TIMED_IDS = (1, 500_000)
WARMUP_IDS = (500_000, 1_000_000)
CORRUPT_BASE = 5_000_000          # corrupt documents live above the spec ids

PAGES_ARROW_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])

CURATION_ARROW_SCHEMA = pa.schema([("url", pa.string()), ("doc_text", pa.string())])


# ---------------------------------------------------------------------------
# extraction inputs (pages tables)
# ---------------------------------------------------------------------------

def _class_counts(n_docs: int) -> dict[int | None, int]:
    """How many ids to draw per page-count class: ``None`` is the giant
    class (ids divisible by GIANT_MOD), ``r`` in 0..7 the ids with
    ``id % 8 == r`` (1 + r pages). The split depends on ``n_docs`` only,
    never on the seed."""
    giants = round(n_docs / sd.GIANT_MOD)
    rest = n_docs - giants
    counts: dict[int | None, int] = {None: giants}
    for r in range(8):
        counts[r] = rest // 8 + (1 if r < rest % 8 else 0)
    return counts


def _draw_class(rng: random.Random, lo: int, hi: int, cls: int | None,
                k: int) -> list[int]:
    """k distinct ids in [lo, hi) of one page-count class."""
    if cls is None:
        first = -(-lo // sd.GIANT_MOD)
        return [m * sd.GIANT_MOD for m in rng.sample(range(first, hi // sd.GIANT_MOD), k)]
    picked: set[int] = set()
    span = range(-(-(lo - cls) // 8), (hi - cls) // 8)
    while len(picked) < k:
        for m in rng.sample(span, k - len(picked)):
            d = 8 * m + cls
            if d % sd.GIANT_MOD:        # giants belong to their own class
                picked.add(d)
    return sorted(picked)


def sample_doc_ids(seed: int, n_docs: int, id_range: tuple[int, int] = TIMED_IDS,
                   exclude: frozenset[int] = frozenset()) -> list[int]:
    """Seeded stratified sample of spec document ids (sorted)."""
    rng = random.Random(f"ids:{seed}:{id_range}")
    ids: set[int] = set()
    for cls, k in _class_counts(n_docs).items():
        while True:
            got = [d for d in _draw_class(rng, *id_range, cls, k) if d not in exclude]
            if len(got) == k:
                break
        ids.update(got)
    return sorted(ids)


def total_pages(doc_ids: list[int]) -> int:
    return sum(sd.n_pages(d) for d in doc_ids)


def corrupt_doc_ids(seed: int, n_corrupt: int,
                    id_range: tuple[int, int] = TIMED_IDS) -> list[int]:
    """Seeded corrupt-document ids; each spec id range maps to its own
    block of a million ids above CORRUPT_BASE, so warm-up and timed
    corrupt ids never collide."""
    rng = random.Random(f"corrupt:{seed}:{id_range}")
    base = CORRUPT_BASE + 4 * id_range[0]
    return sorted(base + m for m in rng.sample(range(1_000_000), n_corrupt))


def corrupt_html(doc_id: int) -> bytes:
    """A payload with a valid one-page PLP1 header and a truncated body:
    the split planner accepts it, the render stage must quarantine it."""
    return sd.HTML_MAGIC + struct.pack(">I", 1) + b'{"v":1,"pages":[{"page_no":1,"wid'


def pages_table(doc_ids: list[int], corrupt_ids: list[int] = ()) -> pa.Table:
    """The ``pages`` table (url, warc_ts, html, text, lang) for spec ids
    plus corrupt documents (empty text)."""
    urls, ts, html, text = [], [], [], []
    for d in doc_ids:
        urls.append(sd.url_of(d))
        ts.append(d * 1_000_000)
        html.append(sd.doc_html(d))
        text.append(sd.doc_text(d))
    for d in corrupt_ids:
        urls.append(sd.url_of(d))
        ts.append(d * 1_000_000)
        html.append(corrupt_html(d))
        text.append("")
    n = len(urls)
    epoch_us = 1_577_836_800_000_000   # synthdata.WARC_EPOCH in microseconds
    return pa.table({
        "url": urls,
        "warc_ts": pa.array([epoch_us + t for t in ts], pa.timestamp("us", tz="UTC")),
        "html": pa.array(html, pa.binary()),
        "text": text,
        "lang": ["en"] * n,
    }, schema=PAGES_ARROW_SCHEMA)


def write_parquet(table: pa.Table, path: str, n_files: int = 1) -> None:
    """Write ``table`` as ``n_files`` part files under directory ``path``
    (a single-file table would scan as one Spark partition)."""
    import os

    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"),
                       compression="zstd")


@dataclass(frozen=True)
class ExtractInput:
    doc_ids: list[int]          # clean spec ids
    corrupt_ids: list[int]      # planted quarantine ids

    @property
    def pages(self) -> int:
        """Pages of the clean documents (what the job commits)."""
        return total_pages(self.doc_ids)

    @property
    def attempted_pages(self) -> int:
        """Every corrupt document is one page the job must quarantine."""
        return self.pages + len(self.corrupt_ids)

    @property
    def expected_failed_frac(self) -> float:
        return len(self.corrupt_ids) / self.attempted_pages

    @property
    def docs(self) -> int:
        return len(self.doc_ids) + len(self.corrupt_ids)

    def table(self) -> pa.Table:
        return pages_table(self.doc_ids, self.corrupt_ids)


def extract_input(seed: int, n_docs: int, n_corrupt: int,
                  id_range: tuple[int, int] = TIMED_IDS) -> ExtractInput:
    return ExtractInput(sample_doc_ids(seed, n_docs, id_range),
                        corrupt_doc_ids(seed, n_corrupt, id_range))


def ingest_files(seed: int, n_files: int, docs_per_file: int,
                 corrupt_per_file: int,
                 id_range: tuple[int, int] = TIMED_IDS) -> list[ExtractInput]:
    """``n_files`` page files whose ids never overlap one another."""
    used: set[int] = set()
    bad = corrupt_doc_ids(seed, n_files * corrupt_per_file, id_range)
    files = []
    for i in range(n_files):
        ids = sample_doc_ids(seed * 1000 + i, docs_per_file, id_range,
                             exclude=frozenset(used))
        used.update(ids)
        files.append(ExtractInput(
            ids, bad[i * corrupt_per_file:(i + 1) * corrupt_per_file]))
    return files


# ---------------------------------------------------------------------------
# curation inputs (url, doc_text)
# ---------------------------------------------------------------------------

# Stopword-free shared lines (Greek-letter tokens): English boilerplate
# would flip the funnel's language gate for every document.
BOILERPLATE = (
    "omicron pi rho sigma tau upsilon",
    "phi chi psi omega digamma stigma",
    "koppa sampi heta sho san qoppa",
)
SHARED_PHRASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
# Planted rejects: German marker words make the language gate predict
# 'de', so the funnel drops exactly these documents as 'lang'.
FOREIGN_LINE = "der die und ist das der die und ist das"

# Corpus shape: unique lines per document, documents per host (with
# HOST_CAP=30 in the workload the cap binds on a quarter of them), and
# the strides of the planted structure over the base documents.
LINES_PER_DOC = 12
HOST_DOCS = 40
DUP_EVERY = 50          # every 50th document gets an exact copy
TWIN_EVERY = 50         # ... and, offset by 5, a near-duplicate twin
VIRAL_COPIES = 40       # copies of one document (the viral cluster)
FOREIGN_EVERY = 100     # every 100th document is wrong-language


@dataclass(frozen=True)
class CurationInput:
    rows: list[tuple[str, str]]
    exact_dup_groups: list[list[str]]      # urls sharing one text (viral cluster last)
    twin_pairs: list[tuple[str, str]]      # (original, near-duplicate twin)
    foreign_urls: list[str]                # planted wrong-language documents

    @property
    def docs(self) -> int:
        return len(self.rows)

    @property
    def expected_failed_frac(self) -> float:
        return len(self.foreign_urls) / len(self.rows)

    def table(self) -> pa.Table:
        return pa.table({"url": [u for u, _ in self.rows],
                         "doc_text": [t for _, t in self.rows]},
                        schema=CURATION_ARROW_SCHEMA)


def curation_input(seed: int, n_base: int) -> CurationInput:
    """A seeded ``(url, doc_text)`` corpus. Document ids, a word salt and
    the row order come from the seed, so different seeds give different
    texts and urls while the duplicate / twin / viral / foreign structure
    keeps its size."""
    rng = random.Random(f"curate:{seed}")
    salt = rng.randrange(1 << 30)
    n_hosts = max(1, n_base // HOST_DOCS)
    doc_ids = rng.sample(range(10_000_000), n_base)

    def url(i: int, kind: str = "doc") -> str:
        return f"https://site-{(salt + i) % n_hosts}.example.org/{kind}/{seed}-{i}"

    def unique_line(d: int, line: int) -> str:
        # d * 7919 + line * 131 + k is injective over line <= 60, k <= 8
        return " ".join(f"w{(d * 7919 + line * 131 + k) * 31 + salt % 31}"
                        for k in range(1, 9))

    def text(i: int, d: int) -> str:
        lines = [unique_line(d, j) for j in range(1, LINES_PER_DOC + 1)]
        lines.extend(BOILERPLATE)
        if i % 10 == 0:
            lines.append(f"w{d}a {SHARED_PHRASE} w{d}b")
        if i % FOREIGN_EVERY == FOREIGN_EVERY - 1:
            lines.append(FOREIGN_LINE)
        return "\n".join(lines)

    rows = []
    texts = {}
    foreign = []
    for i, d in enumerate(doc_ids):
        u, t = url(i), text(i, d)
        rows.append((u, t))
        texts[i] = t
        if i % FOREIGN_EVERY == FOREIGN_EVERY - 1:
            foreign.append(u)
    dup_groups = []
    for i in range(0, n_base, DUP_EVERY):
        if i % FOREIGN_EVERY == FOREIGN_EVERY - 1:
            continue
        copy = url(i, "copy")
        rows.append((copy, texts[i]))
        dup_groups.append([url(i), copy])
    twins = []
    for i in range(5, n_base, TWIN_EVERY):
        if i % FOREIGN_EVERY == FOREIGN_EVERY - 1:
            continue
        lines = texts[i].split("\n")
        # swap the last word of the last unique line: shingle Jaccard
        # ~0.95, where 8x4-band LSH misses a pair with probability ~2e-6
        words = lines[LINES_PER_DOC - 1].split(" ")
        words[-1] = f"t{doc_ids[i]}"
        lines[LINES_PER_DOC - 1] = " ".join(words)
        twin = url(i, "twin")
        rows.append((twin, "\n".join(lines)))
        twins.append((url(i), twin))
    viral_src = 7 if n_base > 7 else 0
    viral = [url(viral_src)]
    for c in range(VIRAL_COPIES):
        v = url(c, "viral")
        rows.append((v, texts[viral_src]))
        viral.append(v)
    dup_groups.append(viral)
    order = rng.sample(range(len(rows)), len(rows))
    return CurationInput(
        rows=[rows[k] for k in order], exact_dup_groups=dup_groups,
        twin_pairs=twins, foreign_urls=foreign,
    )
