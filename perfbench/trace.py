"""Tracing for the per-layer run: spans from the benchmark's own files and
task metrics from Spark's event log.

Spans are recorded by wrapping public functions of the layer modules (and
the pyspark calls that execute jobs) for the duration of a traced run; the
wrappers are removed afterwards. Spans stay in memory and are written out
when the run ends. Each Spark job is tagged with the phase that started it
(a local property), so the event log can be split by phase.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

PHASE_PROPERTY = "perfbench.phase"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        # wall-clock time of perf_counter() == 0, to line spans up with
        # the event log's epoch timestamps
        self.epoch = time.time() - time.perf_counter()
        self.spans: list[Span] = []
        self.enabled = False
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), self._stack[-1] if self._stack else None,
                 name, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace owner.attr by a wrapper recording a span per call."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: Path) -> None:
        path.write_text(json.dumps([s.__dict__ for s in self.spans]))


def instrument(tracer: Tracer) -> None:
    """Wrap the public calls of every layer the workloads go through."""
    from pyspark.sql import DataFrame
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    from llmap_spark.operators import dedup, scrub, textstats
    from llmap_spark.plans import pipeline, training
    from llmap_spark.sources import snapshot

    for owner, attr, name in [
        (snapshot, "run_extract_job", "snapshot.run_extract_job"),
        (snapshot, "committed_snapshots", "snapshot.committed_snapshots"),
        (snapshot, "read_extracted", "snapshot.read_extracted"),
        # run_extract_job resolves these through its own module globals
        (snapshot, "extract", "pipeline.extract"),
        (snapshot, "lineage_from", "pipeline.lineage_from"),
        (pipeline, "extract", "pipeline.extract"),
        (training, "curated_corpus", "training.curated_corpus"),
        (textstats, "quality_features", "textstats.quality_features"),
        (dedup, "exact_dedup", "dedup.exact_dedup"),
        (dedup, "minhash_lsh_candidates", "dedup.minhash_lsh_candidates"),
        (dedup, "connected_components", "dedup.connected_components"),
        (scrub, "decontaminate", "scrub.decontaminate"),
        (scrub, "dedup_paragraphs", "scrub.dedup_paragraphs"),
        (scrub, "redact_pii", "scrub.redact_pii"),
        # the calls that run Spark jobs
        (DataFrameWriter, "parquet", "spark.write_parquet"),
        (DataFrameWriter, "save", "spark.write_save"),
        (DataFrameReader, "parquet", "spark.read_parquet"),
        (DataFrame, "collect", "spark.collect"),
        (DataFrame, "count", "spark.count"),
    ]:
        tracer.wrap(owner, attr, name)


@contextlib.contextmanager
def phase(spark, name: str):
    """Tag every Spark job started inside the block with ``name``."""
    sc = spark.sparkContext
    sc.setLocalProperty(PHASE_PROPERTY, name)
    try:
        yield
    finally:
        sc.setLocalProperty(PHASE_PROPERTY, None)


@dataclass
class PhaseStats:
    jobs: int = 0
    job_submit_s: list[float] = field(default_factory=list)  # epoch seconds
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    task_skew: float = 1.0   # worst stage's max / median task time


def read_event_log(log_dir: Path) -> dict[str, PhaseStats]:
    """Per-phase totals from the (uncompressed) event log in log_dir.

    Spark 4 writes a rolling log by default: a directory of
    ``events_<n>_<app>`` files, read here in order of n."""
    stage_phase: dict[int, str] = {}
    stats: dict[str, PhaseStats] = {}
    stage_tasks: dict[int, list[float]] = {}
    files = sorted((p for p in log_dir.rglob("events_*") if p.is_file()),
                   key=lambda p: int(p.name.split("_")[1]))
    for path in files:
        with path.open() as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    ph = (ev.get("Properties") or {}).get(PHASE_PROPERTY)
                    if ph is None:
                        continue
                    st = stats.setdefault(ph, PhaseStats())
                    st.jobs += 1
                    st.job_submit_s.append(ev["Submission Time"] / 1000)
                    for sid in ev.get("Stage IDs", []):
                        stage_phase[sid] = ph
                elif kind == "SparkListenerTaskEnd":
                    ph = stage_phase.get(ev["Stage ID"])
                    if ph is None:
                        continue
                    st = stats[ph]
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    secs = (info["Finish Time"] - info["Launch Time"]) / 1000
                    st.tasks += 1
                    st.task_s += secs
                    st.gc_s += m.get("JVM GC Time", 0) / 1000
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    st.shuffle_write_bytes += sw.get(
                        "Shuffle Bytes Written", 0)
                    st.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                                              + sr.get("Local Bytes Read", 0))
                    stage_tasks.setdefault(ev["Stage ID"], []).append(secs)
    for sid, times in stage_tasks.items():
        med = statistics.median(times)
        if len(times) > 1 and med > 0:
            st = stats[stage_phase[sid]]
            st.task_skew = max(st.task_skew, max(times) / med)
    return stats
