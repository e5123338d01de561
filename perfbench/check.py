"""Correctness checks, run with pyarrow outside the timed region.

Extract workloads: every live committed row must be byte-identical in
``extracted_text``, ``spans`` and ``status`` to the single-process oracle
(``llmap_spark.oracle.extract_rows``), every input url must be committed
exactly once across the live snapshots, and the lineage ``n_rows`` sum
must equal the committed row count.

Curation: the output of ``curated_corpus`` over planted documents must
equal, row for row, the DuckDB oracle SQL of ``pipeline_curated_planted``.

Each check returns a Tally: ``checked`` counts the rows the oracle
expects, ``failed`` the rows that are wrong, missing, duplicated or
unexpected (plus any lineage count gap).
"""

from __future__ import annotations

import json
import pickle
import subprocess
import sys
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

MANIFEST_DIR = "_snapshots"


@dataclass
class Tally:
    checked: int = 0
    failed: int = 0
    detail: Counter = field(default_factory=Counter)

    def add(self, other: "Tally") -> None:
        self.checked += other.checked
        self.failed += other.failed
        self.detail.update(other.detail)


def _oracle_slice(pages_dir: str, start: int, length: int) -> list[tuple]:
    from llmap_spark.oracle import extract_rows

    t = pq.read_table(pages_dir, columns=["url", "html"]).slice(start, length)
    rows = extract_rows([{"url": u, "html": h} for u, h in zip(
        t.column("url").to_pylist(), t.column("html").to_pylist())])
    return [(r["url"], r["extracted_text"], span_key(r["spans"]),
             r["status"]) for r in rows]


def span_key(spans: list[dict] | None) -> tuple | None:
    """Spans as a comparable tuple. Null stays null, so a null ``spans``
    never matches an empty list."""
    if spans is None:
        return None
    return tuple((s["start"], s["end"]) for s in spans)


def extract_oracle(pages_dir: str, processes: int,
                   scratch: Path) -> dict[str, tuple]:
    """url -> (extracted_text, spans, status) from the oracle. The oracle
    is row-at-a-time, so disjoint slices of the pages run in ``processes``
    fresh interpreters (``python -m perfbench.check``, each waited for)
    without changing any row; their results pass through scratch."""
    n = sum(pq.read_metadata(f).num_rows
            for f in Path(pages_dir).glob("*.parquet"))
    step = -(-n // processes)
    jobs = []
    for k, start in enumerate(range(0, n, step)):
        out = scratch / f"oracle-{k}.pickle"
        jobs.append((out, subprocess.Popen(
            [sys.executable, "-m", "perfbench.check", pages_dir,
             str(start), str(step), str(out)])))
    failed = [proc.args for _, proc in jobs if proc.wait() != 0]
    if failed:
        raise RuntimeError(f"oracle workers failed: {failed}")
    oracle: dict[str, tuple] = {}
    for out, _ in jobs:
        # written just now by this program's own worker
        oracle.update((row[0], row[1:])
                      for row in pickle.loads(out.read_bytes()))
        out.unlink()
    return oracle


def live_manifests(out_root: str) -> list[dict]:
    """Committed manifests not retired by a later compaction's
    ``replaces`` list (the snapshot layer's documented contract)."""
    mdir = Path(out_root) / MANIFEST_DIR
    ms = [json.loads(f.read_text()) for f in mdir.glob("snapshot-*.json")]
    retired = {r for m in ms for r in m.get("replaces", [])}
    return [m for m in ms if m["snapshot_id"] not in retired]


EXTRACT_COLUMNS = ["url", "extracted_text", "spans", "status"]


def _files_key(path: str) -> tuple:
    """(name, size, mtime) of each file under path."""
    return tuple(sorted((f.name, f.stat().st_size, f.stat().st_mtime_ns)
                        for f in Path(path).iterdir()))


def _read_snapshot(m: dict) -> tuple[pa.Table, int]:
    """A snapshot's checked columns and its lineage ``n_rows`` sum."""
    lineage = pq.read_table(m["lineage_path"], columns=["n_rows"])
    return (pq.read_table(m["data_path"], columns=EXTRACT_COLUMNS),
            sum(lineage.column("n_rows").to_pylist()))


class ExtractChecker:
    """Checks an output root against the extract oracle.

    The live snapshots' rows, sorted by url, are compared column by column
    with the oracle as one Arrow table; only when they differ are the rows
    walked one by one to count what is wrong, missing, duplicated or
    unexpected. Snapshots read by the previous check are reused when their
    data files (name, size, mtime) are unchanged, so the committed
    snapshot the resume workload shares across output roots is read
    once."""

    def __init__(self, oracle: dict[str, tuple]):
        self.oracle = oracle
        self._expected: pa.Table | None = None
        self._cache: dict[tuple, tuple[pa.Table, int]] = {}

    def _expected_table(self, schema: pa.Schema) -> pa.Table:
        """The oracle as a url-sorted table of the snapshot's own types."""
        if self._expected is None:
            urls = sorted(self.oracle)
            rows = [self.oracle[u] for u in urls]
            cols = {
                "url": urls,
                "extracted_text": [r[0] for r in rows],
                "spans": [None if r[1] is None else
                          [{"start": a, "end": b} for a, b in r[1]]
                          for r in rows],
                "status": [r[2] for r in rows],
            }
            self._expected = pa.table(
                {c: pa.array(v, schema.field(c).type)
                 for c, v in cols.items()})
        return self._expected

    def _matches(self, got: pa.Table) -> bool:
        if got.num_rows != len(self.oracle):
            return False
        got = got.sort_by("url")
        want = self._expected_table(got.schema)
        return all(got.column(c).equals(want.column(c))
                   for c in EXTRACT_COLUMNS)

    def _row_faults(self, got: pa.Table, tally: Tally) -> None:
        seen: set[str] = set()
        for url, text, spans, status in zip(
                *(got.column(c).to_pylist() for c in EXTRACT_COLUMNS)):
            if url in seen:
                tally.detail["duplicated"] += 1
            seen.add(url)
            want = self.oracle.get(url)
            if want is None:
                tally.detail["unexpected"] += 1
            elif (text, span_key(spans), status) != want:
                tally.detail["wrong"] += 1
        tally.detail["missing"] += len(self.oracle.keys() - seen)

    def check(self, out_root: str) -> Tally:
        tally = Tally(checked=len(self.oracle))
        cache: dict[tuple, tuple[pa.Table, int]] = {}
        read = []  # one entry per live manifest, even if two share data
        for m in live_manifests(out_root):
            key = _files_key(m["data_path"])
            if key not in cache:
                cache[key] = self._cache.get(key) or _read_snapshot(m)
            read.append(cache[key])
        self._cache = cache
        got = pa.concat_tables([t for t, _ in read])
        if not self._matches(got):
            self._row_faults(got, tally)
        tally.detail["lineage_gap"] += abs(sum(n for _, n in read)
                                           - got.num_rows)
        tally.failed = sum(tally.detail.values())
        return tally


CURATED_COLUMNS = ["doc_id", "text", "n_paras", "n_paras_kept", "n_emails",
                   "n_ipv4", "n_phones"]


def curated_oracle(docs_dir: str) -> dict[int, tuple]:
    """doc_id -> curated row, from the planted DuckDB oracle."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()["pipeline_curated_planted"]
    con = duckdb.connect()
    try:
        con.register("documents",
                     pq.read_table(f"{docs_dir}/documents.parquet"))
        rows = con.execute(
            f"SELECT {', '.join(CURATED_COLUMNS)} FROM ({sql})").fetchall()
    finally:
        con.close()
    return {r[0]: tuple(r[1:]) for r in rows}


def check_curated(out_dir: str, oracle: dict[int, tuple]) -> Tally:
    tally = Tally(checked=len(oracle))
    t = pq.read_table(out_dir, columns=CURATED_COLUMNS)
    seen: set[int] = set()
    for row in zip(*(t.column(c).to_pylist() for c in CURATED_COLUMNS)):
        doc_id, rest = row[0], tuple(row[1:])
        if doc_id in seen:
            tally.detail["duplicated"] += 1
            continue
        seen.add(doc_id)
        want = oracle.get(doc_id)
        if want is None:
            tally.detail["unexpected"] += 1
        elif rest != want:
            tally.detail["wrong"] += 1
    tally.detail["missing"] += len(oracle) - len(seen & oracle.keys())
    tally.failed = sum(tally.detail.values())
    return tally


if __name__ == "__main__":
    # oracle worker: pages_dir start length out_path
    _dir, _start, _len, _out = sys.argv[1:]
    Path(_out).write_bytes(pickle.dumps(
        _oracle_slice(_dir, int(_start), int(_len))))
