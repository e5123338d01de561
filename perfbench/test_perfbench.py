"""The benchmark's own tests.

    python -m pytest perfbench -q

* the smoke mode prints every BENCHMARK.json metric with its unit, on
  PERFBENCH_SMOKE_SF/documents.parquet when that variable names a tier
  directory, else on small seeded documents;
* the oracle checks are live: a planted wrong, missing or duplicated row
  in a copy of committed output is counted as failed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import check, inputs  # noqa: E402


def test_smoke_prints_every_metric_with_its_unit():
    sf = os.environ.get("PERFBENCH_SMOKE_SF")
    cmd = [sys.executable, "perfbench/run.py", "--smoke"]
    cmd += [sf] if sf else []
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    assert p.returncode == 0, p.stderr[-4000:]
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    printed = {tuple(line.split("\t")[i] for i in (0, 1, 2, 4))
               for line in p.stdout.splitlines() if line.count("\t") == 4}
    for w in spec["workloads"]:
        for kind in ("end_to_end", "per_layer"):
            for m in spec[kind]:
                assert (w["name"], kind, m["name"], m["unit"]) in printed
    results = [json.loads(line) for line in p.stdout.splitlines()
               if line.startswith('{"correct"')]
    assert len(results) == len(spec["workloads"])
    assert all(r["correct"] and r["failed"] == 0 and r["attempted"] > 0
               for r in results)


@pytest.fixture(scope="module")
def spark():
    from llmap_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", cores=2)
    yield s
    s.stop()


def _copy_root(src: str, dst: Path) -> str:
    """Copy a snapshot output root, repointing its manifests at the copy."""
    shutil.copytree(src, dst)
    for f in (dst / check.MANIFEST_DIR).glob("*.json"):
        m = json.loads(f.read_text())
        for k in ("data_path", "lineage_path"):
            m[k] = m[k].replace(src, str(dst))
        f.write_text(json.dumps(m))
    return str(dst)


def _rewrite_first_part(data_path: str, edit) -> None:
    """Apply edit to the first parquet part file it applies to; edit
    returns None for a part it does not apply to."""
    for part in sorted(Path(data_path).glob("part-*.parquet")):
        t = pq.read_table(part)
        edited = edit(t) if t.num_rows else None
        if edited is not None:
            pq.write_table(edited, part)
            return
    raise AssertionError(f"no part under {data_path} to edit")


def test_planted_extract_faults_raise_failed(spark, tmp_path):
    from llmap_spark.sources.snapshot import run_extract_job

    inp = inputs.make_pages(tmp_path / "in", seed=7, n_docs=60)
    out = str(tmp_path / "out")
    run_extract_job(spark, spark.read.parquet(inp.pages_dir), out)
    oracle = check.extract_oracle(inp.pages_dir, 2, tmp_path)
    assert check.ExtractChecker(oracle).check(out).failed == 0

    def plant(name, edit):
        root = _copy_root(out, tmp_path / name)
        data = check.live_manifests(root)[0]["data_path"]
        _rewrite_first_part(data, edit)
        return check.ExtractChecker(oracle).check(root)

    def wrong_text(t):
        texts = t.column("extracted_text").to_pylist()
        texts[0] = (texts[0] or "") + "x"
        i = t.schema.get_field_index("extracted_text")
        return t.set_column(i, "extracted_text", pa.array(texts, pa.string()))

    wrong = plant("wrong", wrong_text)
    assert wrong.detail["wrong"] == 1 and wrong.failed / wrong.checked > 0

    missing = plant("missing", lambda t: t.slice(1))
    # the lineage still counts the dropped row, so its gap shows too
    assert missing.detail["missing"] == 1
    assert missing.detail["lineage_gap"] == 1

    dup = plant("dup", lambda t: pa.concat_tables([t, t.slice(0, 1)]))
    assert dup.detail["duplicated"] == 1 and dup.failed >= 1

    def null_spans(t):
        spans = t.column("spans").to_pylist()
        if [] not in spans:  # the corpus' empty pages have no spans
            return None
        spans[spans.index([])] = None
        i = t.schema.get_field_index("spans")
        return t.set_column(i, t.schema.field(i),
                            pa.array(spans, t.schema.field(i).type))

    nulled = plant("null_spans", null_spans)
    assert nulled.detail["wrong"] == 1 and nulled.failed == 1


def test_planted_curated_fault_raises_failed(spark, tmp_path):
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from llmap_spark.cache import release_persisted
    from llmap_spark.plans.training import curated_corpus

    docs_dir = tmp_path / "docs"
    inputs.planted_documents(docs_dir, seed=3, n_groups=8)
    docs = entry._planted_curation_docs(spark, str(docs_dir))
    bench = docs.filter(F.col("doc_id") % 16 == 7).select("text")
    out = str(tmp_path / "curated")
    curated_corpus(docs, benchmark=bench).write.parquet(out)
    release_persisted()
    oracle = check.curated_oracle(str(docs_dir))
    assert check.check_curated(out, oracle).failed == 0

    def first_text_changed(t):
        texts = t.column("text").to_pylist()
        texts[0] = (texts[0] or "") + "x"
        return t.set_column(t.schema.get_field_index("text"), "text",
                            pa.array(texts, pa.string()))

    _rewrite_first_part(out, first_text_changed)
    bad = check.check_curated(out, oracle)
    assert bad.failed >= 1 and bad.detail["wrong"] >= 1
