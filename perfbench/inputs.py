"""Seeded benchmark inputs.

Everything the engine sees is generated here from the workload seed:

* a documents table drawn like the scale tiers' documents.parquet: texts
  of 10-100 words from the same 31-word vocabulary, langs weighted the
  same way (en ~40%, the other four ~15% each);
* the pages corpus built from it by ``llmap_spark.corpus.generate_pages``,
  which keeps the corpus' hot-host skew and its periodic edge-case pages
  (empty, malformed, oversized, non-UTF-8, ...);
* for the resume workload, the seeded ~90% of pages committed before
  each repetition;
* for the curation probe, a documents table of whole planted groups
  (``doc_id // 8``) drawn by the seed, which the planted DuckDB oracle of
  ``pipeline_curated_planted`` recomputes exactly.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# the scale tiers' documents: uniform 10-100 words from this vocabulary
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
MIN_WORDS, MAX_WORDS = 10, 100
LANGS = ("en", "de", "fr", "es", "zh")
LANG_WEIGHTS = (0.4, 0.15, 0.15, 0.15, 0.15)
PAGES_PER_DOC = 10
RESUME_COMMITTED_PER_10 = 9


@dataclass(frozen=True)
class Inputs:
    docs_dir: str        # holds documents.parquet
    pages_dir: str       # pages parquet directory (multi-file)
    n_pages: int


def write_documents(path: Path, seed: int, n_docs: int) -> None:
    rng = random.Random(seed)
    texts = [" ".join(rng.choices(WORDS, k=rng.randint(MIN_WORDS,
                                                       MAX_WORDS)))
             for _ in range(n_docs)]
    langs = rng.choices(LANGS, LANG_WEIGHTS, k=n_docs)
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": langs,
    }), path / "documents.parquet")


def make_pages(work: Path, seed: int, n_docs: int,
               sf_dir: str | None = None) -> Inputs:
    """Generate the pages corpus under ``work``. ``sf_dir`` replaces the
    seeded documents with an existing tier's documents.parquet (the smoke
    mode); otherwise the documents come from the seed."""
    from llmap_spark.corpus import generate_pages

    docs_dir = Path(sf_dir) if sf_dir else work / "docs"
    if not sf_dir:
        write_documents(docs_dir, seed, n_docs)
    pages_dir = work / "pages"
    generate_pages(str(docs_dir), str(pages_dir), pages_per_doc=PAGES_PER_DOC)
    n_pages = sum(pq.read_metadata(f).num_rows
                  for f in pages_dir.glob("*.parquet"))
    return Inputs(str(docs_dir), str(pages_dir), n_pages)


def resume_subset(pages_dir: str, out_dir: Path, seed: int) -> int:
    """Write the seeded ~90% of pages that are committed before each
    resume repetition; returns its row count. The draw is stratified by
    page kind (each edge-case kind, and ordinary pages): the seed picks
    which urls stay uncommitted, but every seed leaves the same mix, so
    a seed cannot leave, say, all the oversized pages to the repetition."""
    t = pq.read_table(pages_dir)
    by_kind: dict[str, list[int]] = {}
    for i, url in enumerate(t.column("url").to_pylist()):
        parts = url.split("/")  # https://host/edge/<kind>/p<i>
        kind = parts[4] if parts[3] == "edge" else ""
        by_kind.setdefault(kind, []).append(i)
    rng = random.Random(seed * 7919 + 1)
    keep: list[int] = []
    for kind in sorted(by_kind):
        rows = by_kind[kind]
        rng.shuffle(rows)
        keep += rows[:len(rows) * RESUME_COMMITTED_PER_10 // 10]
    sub = t.take(pa.array(sorted(keep)))
    out_dir.mkdir(parents=True, exist_ok=True)
    # as many part files as the corpus, so the commit scans as wide
    n_files = len(list(Path(pages_dir).glob("*.parquet")))
    step = -(-sub.num_rows // n_files)
    for k, start in enumerate(range(0, sub.num_rows, step)):
        pq.write_table(sub.slice(start, step),
                       out_dir / f"part-{k:05d}.parquet")
    return sub.num_rows


def planted_documents(path: Path, seed: int, n_groups: int) -> list[int]:
    """documents.parquet of whole planted groups: ids 8g..8g+7 for a seeded
    sample of groups g. Whole groups keep every family of the planted
    construction intact, so the keep-list rule stays exact."""
    rng = random.Random(seed * 104729 + 3)
    groups = sorted(rng.sample(range(1_000_000), n_groups))
    ids = [8 * g + r for g in groups for r in range(8)]
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}),
                   path / "documents.parquet")
    return ids


def sample_pages(pages_dir: str, every: int) -> pa.Table:
    """Every ``every``-th page. A stride coprime to 1000 also samples the
    corpus' edge-case pages, which sit at fixed residues mod 1000."""
    t = pq.read_table(pages_dir, columns=["url", "warc_ts", "html", "lang"])
    idx = pa.array(range(0, t.num_rows, every))
    return pc.take(t, idx)
