"""Benchmark driver: one workload, one seed, one process.

A run starts a ``local[nproc]`` session through ``session.get_spark``,
generates its inputs from the seed, warms the workload up with
WARMUP_REPS repetitions, then runs timed repetitions of the
workload's public call one at a time (a closed loop with one client).
Every repetition's output is checked against the oracle after the timed
loop. With ``trace`` the run also times each layer (see layers.py) and
reads Spark's event log; its wall time is split into untraced and traced
repetitions so the tracing overhead is measured in the same process.

Workloads:

* extract_commit — ``sources.snapshot.run_extract_job`` with the default
  ExtractConfig (fused kernel, map-only) into an empty output root.
* extract_resume — the same corpus with a seeded ~90% of urls committed
  before each repetition, so the call anti-joins against them (a shuffle)
  and commits the rest.

Output: a ``{"record": ...}`` line with the run's settings and raw
figures, then the result line the benchmark contract defines.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import tempfile
import time
from dataclasses import dataclass, field
from pathlib import Path

from perfbench import check, inputs, layers
from perfbench.procmon import PeakRss, tree_cpu_seconds
from perfbench.trace import Tracer, instrument, phase, read_event_log

# x10 pages per doc = ~20k pages per run. Coprime to 1000: the corpus puts
# its edge-case pages at fixed page residues mod 1000, and page i wraps
# document i % N_DOCS, so the costly oversized pages draw on many documents
# rather than the same two (whose seeded lengths would swing the run's work)
N_DOCS = 2003
KERNEL_SAMPLE_STRIDE = 19    # coprime to 1000: samples the edge residues
CURATE_GROUPS = 128          # x8 planted documents
DRIVER_MEM = "2g"            # LLMAP_DRIVER_MEM default (the engine: 16g)
# With the C1-only JIT (see start_session) repetition times stop falling
# after the first: the second is within ~10% of the timed median. Single
# repetitions swing 10-20% with the box, so a rule that waits for the
# times to settle would only make set-up time random
WARMUP_REPS = 2
SPIN_N = 2_000_000
JIT_OPTS = "-XX:TieredStopAtLevel=1"  # see start_session

RECORD_CONFS = [
    "spark.master", "spark.io.compression.codec", "spark.driver.memory",
    "spark.sql.execution.arrow.maxRecordsPerBatch",
    "spark.sql.shuffle.partitions", "spark.sql.files.maxPartitionBytes",
]


@dataclass
class Options:
    workload: str
    seed: int
    seconds: float
    trace: bool
    n_docs: int = N_DOCS
    sf_dir: str | None = None      # smoke mode: an existing tier's documents
    warmup: bool = True
    curate_groups: int = CURATE_GROUPS
    layers_out: str | None = None  # write the layer sweep JSON here


@dataclass
class Timings:
    untraced: list[float] = field(default_factory=list)
    traced: list[float] = field(default_factory=list)
    untraced_peaks_mb: list[float] = field(default_factory=list)
    bytes_ratios: list[float] = field(default_factory=list)  # traced reps
    cpu_s: list[float] = field(default_factory=list)  # process-tree CPU


def process_start_time() -> float:
    """Wall-clock time at which this process started (from /proc)."""
    with open("/proc/self/stat", "rb") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(b")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def host_spin() -> float:
    """A fixed pure-Python loop: a control for drift of the box itself."""
    t0 = time.perf_counter()
    x = 0
    for i in range(SPIN_N):
        x += i * i
    return time.perf_counter() - t0


def cores() -> int:
    return len(os.sched_getaffinity(0))


class ExtractCommit:
    """run_extract_job over the whole corpus into an empty output root."""

    resumes = False  # whether run_extract_job anti-joins committed urls

    def __init__(self, spark, inp: inputs.Inputs, work: Path, seed: int):
        self.spark, self.inp, self.work, self.seed = spark, inp, work, seed
        self.pages = spark.read.parquet(inp.pages_dir)
        self._checker: check.ExtractChecker | None = None
        self._k = 0

    def prepare(self) -> None:
        pass

    def fresh_root(self) -> str:
        self._k += 1
        return str(self.work / f"out-{self._k}")

    def run(self, root: str):
        from llmap_spark.sources import snapshot

        return snapshot.run_extract_job(self.spark, self.pages, root)

    def todo(self):
        """What run_extract_job extracts after its resume anti-join."""
        return self.pages

    def check(self, root: str) -> check.Tally:
        if self._checker is None:
            self._checker = check.ExtractChecker(
                check.extract_oracle(self.inp.pages_dir, cores(), self.work))
        return self._checker.check(root)

    def discard(self, root: str) -> None:
        shutil.rmtree(root, ignore_errors=True)


class ExtractResume(ExtractCommit):
    """The same corpus with a seeded ~90% committed before each repetition.

    The committed snapshot is written once (untimed, during set-up); each
    repetition gets a fresh root holding a copy of its manifest, which
    points at the committed data, so every repetition resumes from the
    same committed state and writes only its own new snapshot."""

    resumes = True

    def prepare(self) -> None:
        from llmap_spark.sources import snapshot

        sub = self.work / "committed-pages"
        inputs.resume_subset(self.inp.pages_dir, sub, self.seed)
        base = self.work / "committed"
        snapshot.run_extract_job(
            self.spark, self.spark.read.parquet(str(sub)), str(base))
        self.manifests = sorted((base / check.MANIFEST_DIR).glob("*.json"))
        self.committed_data = [json.loads(m.read_text())["data_path"]
                               for m in self.manifests]

    def fresh_root(self) -> str:
        root = super().fresh_root()
        mdir = Path(root) / check.MANIFEST_DIR
        mdir.mkdir(parents=True)
        for m in self.manifests:
            shutil.copy(m, mdir / m.name)
        return root

    def todo(self):
        done = self.spark.read.parquet(*self.committed_data).select("url")
        return self.pages.join(done, "url", "left_anti")


WORKLOADS = {"extract_commit": ExtractCommit, "extract_resume": ExtractResume}


def configure_env(root: Path) -> Path:
    """Create this process's work directory under root/.bench_work and keep
    every file Spark, the JVM and the workers write inside it; let the
    workers import the repository and the benchmark. Set up before the
    JVM starts, which fixes its temp and local dirs for its lifetime, and
    removed by the caller after the JVM has exited."""
    work = root / ".bench_work" / f"p{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # spark-submit first runs a short launcher JVM: keep its files here too
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}")
    paths = [str(root)] + [p for p in os.environ.get("PYTHONPATH", "")
                           .split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ.setdefault("LLMAP_DRIVER_MEM", DRIVER_MEM)
    return work


def start_session(opts: Options, pages_dir: str, work: Path, tmp: Path):
    from llmap_spark import session

    n = cores()
    conf = {
        **session.scan_conf_for(pages_dir, n),
        # the heap is committed and touched up front: left to grow, it
        # settles at a different size in each run, which moves the tree's
        # peak RSS by up to a third between runs of the same code.
        # The JIT stops at its first (C1) tier: with C2 the repetition
        # times kept falling for 6-8 repetitions (~20 s) while its compiler
        # threads took CPU from the measured work on a 4-core box, so a
        # run's median depended on how far its warm-up had got. Under C1
        # they are flat from the second repetition and not slower, since
        # the kernel runs in the Python workers and the JVM mostly moves
        # Arrow batches and parquet pages.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{os.environ['LLMAP_DRIVER_MEM']} -XX:+AlwaysPreTouch "
            f"{JIT_OPTS}",
        "spark.ui.showConsoleProgress": "false",
    }
    if opts.trace:
        log_dir = work / "eventlog"
        log_dir.mkdir()
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": log_dir.as_uri(),
                     "spark.eventLog.compress": "false"})
    t0 = time.perf_counter()
    spark = session.get_spark(app_name=f"perfbench-{opts.workload}",
                              cores=n, extra_conf=conf)
    return spark, time.perf_counter() - t0


def warm_up(wl, opts: Options) -> list[float]:
    """Run the workload WARMUP_REPS times, untimed by the benchmark;
    returns each repetition's seconds for the record."""
    times: list[float] = []
    for _ in range(WARMUP_REPS if opts.warmup else 0):
        root = wl.fresh_root()
        t0 = time.perf_counter()
        wl.run(root)
        times.append(time.perf_counter() - t0)
        wl.discard(root)
    return times


def timed_reps(wl, spark, seconds: float, tally: check.Tally, rss: PeakRss,
               tracer: Tracer | None = None) -> Timings:
    """Closed loop: repetitions back to back until ``seconds`` of measured
    time. Every output is kept and checked after the loop, so the oracle
    (computed at the first check, on all cores) never runs between two
    timed repetitions. With a tracer the repetitions alternate untraced /
    traced, so the tracing overhead is a paired difference that the
    warm-up trend does not bias."""
    t = Timings()
    roots = []
    while (not t.untraced or (tracer is not None and not t.traced)
           or sum(t.untraced) + sum(t.traced) < seconds):
        traced = tracer is not None and len(t.untraced) > len(t.traced)
        times = t.traced if traced else t.untraced
        root = wl.fresh_root()
        roots.append(root)
        label = f"rep-{'traced' if traced else 'untraced'}-{len(times)}"
        if traced:
            tracer.enabled = True
        with phase(spark, label), rss.window():
            c0 = tree_cpu_seconds(os.getpid())
            t0 = time.perf_counter()
            snap = wl.run(root)
            times.append(time.perf_counter() - t0)
            t.cpu_s.append(tree_cpu_seconds(os.getpid()) - c0)
        if traced:
            tracer.enabled = False
            t.bytes_ratios.append(snapshot_bytes_ratio(snap))
        else:
            t.untraced_peaks_mb.append(rss.peaks[-1] / (1 << 20))
    for root in roots:
        tally.add(wl.check(root))
        wl.discard(root)
    return t


def dir_bytes(path: str) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


def snapshot_bytes_ratio(snap) -> float:
    """On-disk bytes of a new snapshot (data + lineage) per html byte in."""
    import pyarrow.parquet as pq

    bytes_in = sum(pq.read_table(snap.lineage_path, columns=["bytes_in"])
                   .column("bytes_in").to_pylist())
    written = dir_bytes(snap.data_path) + dir_bytes(snap.lineage_path)
    return written / bytes_in if bytes_in else 0.0


def run(opts: Options, root: Path, proc_work: Path) -> tuple[dict, dict, dict]:
    """Returns (end-to-end metrics, per-layer metrics or {}, record).
    proc_work is the process's directory from configure_env."""
    t_proc = process_start_time()
    work = proc_work / opts.workload
    work.mkdir()
    try:
        return _run(opts, root, work, proc_work / "tmp", t_proc)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(opts: Options, root: Path, work: Path, tmp: Path, t_proc: float):
    from llmap_spark.kernel import KERNEL_VERSION

    load_before = os.getloadavg()
    spins = [host_spin()]
    rss = PeakRss(os.getpid()).start()
    tracer = Tracer()
    try:
        if opts.trace:
            instrument(tracer)
        t0 = time.perf_counter()
        inp = inputs.make_pages(work, opts.seed, opts.n_docs, opts.sf_dir)
        inputs_s = time.perf_counter() - t0
        with rss.window():
            spark, session_s = start_session(opts, inp.pages_dir, work, tmp)
        try:
            wl = WORKLOADS[opts.workload](spark, inp, work, opts.seed)
            with rss.window():
                t0 = time.perf_counter()
                wl.prepare()
                prepare_s = time.perf_counter() - t0
                warmup = warm_up(wl, opts)
            setup_s = time.time() - t_proc
            tally = check.Tally()
            t = timed_reps(wl, spark, opts.seconds, tally, rss,
                           tracer if opts.trace else None)
            spins.append(host_spin())
            layer = {}
            if opts.trace:
                layer = probe_layers(opts, spark, wl, inp, work, tracer, tally)
            confs = {k: spark.conf.get(k, None) for k in RECORD_CONFS}
        finally:
            spark.stop()
    finally:
        rss.stop()
        tracer.unwrap_all()

    wall = statistics.median(t.untraced)
    e2e = {"wall_s": wall, "rows_per_s": inp.n_pages / wall,
           "setup_s": setup_s,
           "peak_rss_mb": statistics.median(t.untraced_peaks_mb)}
    if opts.trace:
        layer.update(trace_metrics(work, tracer, t, layer,
                                   e2e, spins, session_s))
        trace_dir = root / ".bench_work" / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        tracer.write(trace_dir / f"{opts.workload}-s{opts.seed}.spans.json")
    record = {
        "workload": opts.workload, "seed": opts.seed, "trace": opts.trace,
        "kernel_version": KERNEL_VERSION, "cores": cores(),
        "confs": confs, "driver_jit": JIT_OPTS, "n_rows": inp.n_pages,
        "load_before": load_before, "load_after": os.getloadavg(),
        "host_spin_s": spins,
        "setup": {"inputs_s": inputs_s, "session_s": session_s,
                  "prepare_s": prepare_s, "warmup_s": sum(warmup)},
        "reps_s": {"warmup": warmup, "untraced": t.untraced,
                   "traced": t.traced},
        "rep_peak_rss_mb": t.untraced_peaks_mb,
        "rep_cpu_s": t.cpu_s,
        "checked": tally.checked, "failed": tally.failed,
        "failed_frac": tally.failed / tally.checked if tally.checked else 1.0,
        "failures": dict(tally.detail),
    }
    if opts.layers_out:
        write_layer_sweep(opts, record, layer, e2e)
    return e2e, layer, record


def shutdown_jvm() -> None:
    """Stop the JVM pyspark launched and wait for it (it would otherwise
    exit on its own only after this process has gone)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def probe_layers(opts: Options, spark, wl, inp, work: Path, tracer,
                 tally: check.Tally) -> dict:
    """The per-layer probes that run after the timed repetitions."""
    n = cores()
    sample = inputs.sample_pages(inp.pages_dir, KERNEL_SAMPLE_STRIDE)
    m = layers.kernel_probe(sample)
    m.update(layers.udf_probe(sample))
    m.update(layers.pipeline_probe(spark, wl.pages, n))
    if wl.resumes:
        from llmap_spark.plans import pipeline

        m["snapshot.antijoin_s"] = layers.timed_noop(
            spark, "snapshot.antijoin", wl.todo())
        m["snapshot.extract_rows_s"] = layers.timed_noop(
            spark, "snapshot.extract_rows", pipeline.extract(wl.todo()))
        cur_dir = work / "curate"
        inputs.planted_documents(cur_dir, opts.seed, opts.curate_groups)
        tracer.enabled = True
        cur, out = layers.curate_probe(spark, str(cur_dir), tracer)
        tracer.enabled = False
        m.update(cur)
        tally.add(check.check_curated(out, check.curated_oracle(str(cur_dir))))
    else:
        # no committed urls: run_extract_job skips the anti-join, and what
        # it extracts is the whole corpus
        m["snapshot.antijoin_s"] = 0.0
        m["snapshot.extract_rows_s"] = m["pipeline.extract_noop_s"]
        m.update(layers.curate_not_run())
    return m


def trace_metrics(work: Path, tracer: Tracer, t: Timings,
                  m: dict, e2e: dict, spins: list[float],
                  session_s: float) -> dict:
    """Per-layer figures derived from spans and the event log."""
    n = cores()
    phases = read_event_log(work / "eventlog")
    reps = [phases[p] for p in phases if p.startswith("rep-traced-")]
    k = max(1, len(reps))
    task_s = sum(p.task_s for p in reps)
    jobs_spans = tracer.named("snapshot.run_extract_job")
    lineage, snap_jobs = [], []
    # traced repetitions run one run_extract_job each, in order
    for s, ph in zip(jobs_spans, reps):
        writes = [c for c in tracer.children(s)
                  if c.name == "spark.write_parquet"]
        if writes:
            lineage.append(s.end - writes[0].end)
            # the snapshot layer's own jobs: all but the data write's
            w0, w1 = (writes[0].start + tracer.epoch,
                      writes[0].end + tracer.epoch)
            snap_jobs.append(sum(not w0 <= ts <= w1
                                 for ts in ph.job_submit_s))
    run_s = statistics.median(s.seconds for s in jobs_spans)
    salted = phases.get("pipeline.salted_noop_s")
    untraced = statistics.median(t.untraced)
    traced = statistics.median(t.traced)
    out = {
        "session.start_s": session_s,
        "snapshot.commit_s": run_s - m["snapshot.extract_rows_s"],
        "snapshot.lineage_s": statistics.median(lineage) if lineage else 0.0,
        "snapshot.bytes_written_per_input_byte":
            statistics.median(t.bytes_ratios),
        "snapshot.spark_jobs":
            statistics.median(snap_jobs) if snap_jobs else 0.0,
        "pipeline.salted_shuffle_bytes":
            salted.shuffle_write_bytes if salted else 0,
        "pipeline.parallel_eff":
            e2e["rows_per_s"] / (n * m["kernel.pages_per_s_1core"]),
        "spark.jobs": sum(p.jobs for p in reps) / k,
        "spark.tasks": sum(p.tasks for p in reps) / k,
        "spark.task_s": task_s / k,
        "spark.task_skew": max((p.task_skew for p in reps), default=1.0),
        "spark.shuffle_write_bytes": sum(p.shuffle_write_bytes
                                         for p in reps) / k,
        "spark.shuffle_read_bytes": sum(p.shuffle_read_bytes
                                        for p in reps) / k,
        "spark.gc_s": sum(p.gc_s for p in reps) / k,
        "spark.busy_frac": task_s / (sum(t.traced) * n),
        "host.spin_s": statistics.median(spins),
        "trace.wall_s": traced,
        "trace.untraced_wall_s": untraced,
        "trace.overhead_s": traced - untraced,
    }
    return out


def write_layer_sweep(opts: Options, record: dict, m: dict, e2e: dict) -> None:
    """The scan -> Arrow -> kernel -> extract -> commit split as JSON."""
    rows = record["n_rows"]
    steps = ["pipeline.scan_s", "pipeline.arrow_identity_s",
             "pipeline.kernel_counts_s", "pipeline.extract_noop_s"]
    sweep = [{"layer": s.split(".")[1][:-2], "seconds": m[s],
              "pages_per_s": rows / m[s]} for s in steps]
    sweep.append({"layer": "parquet_commit", "seconds": e2e["wall_s"],
                  "pages_per_s": e2e["rows_per_s"]})
    doc = {
        "what": "extract split: scan -> identity mapInArrow -> kernel with "
                "an empty payload -> full extract into the noop sink -> "
                "run_extract_job parquet commit",
        "command": f"python3 perfbench/run.py --workload {opts.workload} "
                   f"--seed {opts.seed} --seconds {opts.seconds:g} --trace 1 "
                   f"--layers-out {opts.layers_out}",
        "host": {"cores": record["cores"], "cpu": _cpu_model(),
                 "load_before": record["load_before"],
                 "load_after": record["load_after"]},
        "record": {k: record[k] for k in ("workload", "seed", "kernel_version",
                                          "confs", "driver_jit", "n_rows",
                                          "host_spin_s")},
        "sweep": sweep,
        "kernel_pages_per_s_1core": m["kernel.pages_per_s_1core"],
        "salted_noop": {"seconds": m["pipeline.salted_noop_s"],
                        "shuffle_bytes": m["pipeline.salted_shuffle_bytes"]},
    }
    Path(opts.layers_out).write_text(json.dumps(doc, indent=2) + "\n")


def _cpu_model() -> str:
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return "unknown"
