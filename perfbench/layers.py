"""Per-layer probes for the traced run.

* kernel   — in process, one core, a fixed-stride page sample, timed per
             kernel phase (decode, parse, classify, stitch).
* udf      — the fused mapInArrow function called in process on the same
             sample, fed and drained through Arrow IPC streams; its time
             minus the kernel's is the Arrow boundary cost.
* pipeline — Spark jobs into the noop sink, one layer added at a time:
             scan -> identity mapInArrow -> kernel with an empty payload
             -> full extract; plus the salted-shuffle variant.
* curate   — the curation chain over planted documents, each stage
             materialized before the next so its time is its own.
"""

from __future__ import annotations

import statistics
import time

import pyarrow as pa

from perfbench.trace import phase

KERNEL_COUNTS_SCHEMA = ("url string, n_blocks_kept int, n_blocks_total int, "
                        "status string")


def kernel_probe(sample: pa.Table) -> dict:
    from llmap_spark import kernel

    htmls = sample.column("html").to_pylist()
    clock = time.perf_counter
    dec_s = parse_s = cls_s = st_s = 0.0
    n_blocks = n_cand = n_kept = n_gated = 0
    for h in htmls:
        t0 = clock()
        dec = kernel.decode_html(h)
        t1 = clock()
        blocks, body_seen, perr = kernel.parse_blocks(dec.text)
        kernel.page_status(h, dec, body_seen, perr)
        t2 = clock()
        dec_s += t1 - t0
        parse_s += t2 - t1
        n_blocks += len(blocks)
        n_cand += sum(1 for b in blocks if b.candidate)
        if not kernel.has_candidates(blocks):
            n_gated += 1
            continue
        keep = kernel.classify(blocks)
        t3 = clock()
        kernel.stitch(blocks, keep)
        t4 = clock()
        cls_s += t3 - t2
        st_s += t4 - t3
        n_kept += sum(keep)
    return {
        "kernel.decode_s": dec_s, "kernel.parse_s": parse_s,
        "kernel.classify_s": cls_s, "kernel.stitch_s": st_s,
        "kernel.blocks": n_blocks, "kernel.candidates": n_cand,
        "kernel.kept": n_kept,
        "kernel.gated_frac": n_gated / len(htmls),
        "kernel.kept_frac": n_kept / n_cand if n_cand else 0.0,
    }


UDF_PAIRS = 5


def _kernel_pass(htmls: list) -> float:
    """One pass of the whole per-page kernel over the sample."""
    from llmap_spark import kernel

    t0 = time.perf_counter()
    for h in htmls:
        kernel.extract_page(h)
    return time.perf_counter() - t0


def _fused_pass(payload) -> tuple[float, int]:
    """One pass of extract_fused_arrow over an Arrow IPC stream, its
    output written to another; returns (seconds, output bytes)."""
    from llmap_spark.functions.extract_udfs import extract_fused_arrow

    t0 = time.perf_counter()
    out = pa.BufferOutputStream()
    writer = None
    for rb in extract_fused_arrow(pa.ipc.open_stream(payload)):
        if writer is None:
            writer = pa.ipc.new_stream(out, rb.schema)
        writer.write_batch(rb)
    writer.close()
    return time.perf_counter() - t0, out.getvalue().size


def udf_probe(sample: pa.Table) -> dict:
    """The whole kernel, and extract_fused_arrow fed and drained through
    Arrow IPC streams of ARROW_BATCH_ROWS batches as a Python worker is,
    each timed in process on the sample. The two passes alternate, and the
    Arrow boundary is the median of the paired differences, so box drift
    between passes does not land in it."""
    from llmap_spark.session import ARROW_BATCH_ROWS

    htmls = sample.column("html").to_pylist()
    t = sample.append_column(
        "salt_bucket", pa.array([0] * sample.num_rows, pa.int32()))
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, t.schema) as w:
        for rb in t.to_batches(max_chunksize=ARROW_BATCH_ROWS):
            w.write_batch(rb)
    payload = sink.getvalue()
    kernel_s, fused_s = [], []
    for _ in range(UDF_PAIRS):
        kernel_s.append(_kernel_pass(htmls))
        secs, out_bytes = _fused_pass(payload)
        fused_s.append(secs)
    whole = statistics.median(kernel_s)
    return {"kernel.extract_page_s": whole,
            "kernel.pages_per_s_1core": len(htmls) / whole,
            "udf.fused_s": statistics.median(fused_s),
            "udf.boundary_s": statistics.median(
                f - k for f, k in zip(fused_s, kernel_s)),
            "udf.out_bytes_per_page": out_bytes / sample.num_rows}


def identity_batches(batches):
    """mapInArrow identity: Arrow in and out, no kernel."""
    yield from batches


def kernel_counts(batches):
    """mapInArrow kernel with an empty payload: the full per-page kernel
    runs, but only url and the counts cross back into the JVM."""
    from llmap_spark import kernel

    for rb in batches:
        kept, total, status = [], [], []
        for h in rb.column(rb.schema.get_field_index("html")).to_pylist():
            r = kernel.extract_page(h)
            kept.append(r.n_blocks_kept)
            total.append(r.n_blocks_total)
            status.append(r.status)
        yield pa.RecordBatch.from_arrays(
            [rb.column(rb.schema.get_field_index("url")),
             pa.array(kept, pa.int32()), pa.array(total, pa.int32()),
             pa.array(status, pa.string())],
            names=["url", "n_blocks_kept", "n_blocks_total", "status"])


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed_noop(spark, name: str, df) -> float:
    with phase(spark, name):
        t0 = time.perf_counter()
        _noop(df)
        return time.perf_counter() - t0


def pipeline_probe(spark, pages, cores: int) -> dict:
    """The layer sweep: each step adds one layer to the one before."""
    from llmap_spark.plans import pipeline

    cfg = pipeline.ExtractConfig()
    narrow = pipeline.prepared_pages(pages, cfg)
    steps = [
        ("pipeline.scan_s", pages.select("url", "warc_ts", "html", "lang")),
        ("pipeline.arrow_identity_s",
         narrow.mapInArrow(identity_batches, schema=narrow.schema)),
        ("pipeline.kernel_counts_s",
         narrow.mapInArrow(kernel_counts, schema=KERNEL_COUNTS_SCHEMA)),
        ("pipeline.extract_noop_s", pipeline.extract(pages, cfg)),
        ("pipeline.salted_noop_s", pipeline.extract(
            pages, pipeline.ExtractConfig(repartition=2 * cores))),
    ]
    return {name: timed_noop(spark, name, df) for name, df in steps}


CURATE_STAGES = ("quality", "exact_dedup", "lsh", "components", "decontam",
                 "para_dedup", "redact")


def curate_not_run() -> dict:
    """The curation metrics of a run that has no curation probe: zeros."""
    m = {f"curate.{s}_s": 0.0 for s in CURATE_STAGES}
    m.update({f"curate.rows.{s}": 0 for s in ("input",) + CURATE_STAGES})
    m.update({"dedup.lsh_pairs": 0, "dedup.verified_frac": 0.0})
    return m


def curate_probe(spark, docs_dir: str, tracer) -> tuple[dict, str]:
    """Stage-by-stage curation over planted documents; also writes the
    full ``curated_corpus`` output (returned path) for the oracle check.

    The stage order and thresholds mirror plans.training.curated_corpus
    with its defaults (verify_jaccard=0.5, decontaminate_n=3)."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from llmap_spark.cache import release_persisted
    from llmap_spark.operators import dedup, scrub, textstats
    from llmap_spark.plans import training

    docs = entry._planted_curation_docs(spark, docs_dir)
    bench = docs.filter(F.col("doc_id") % 16 == 7).select("text")
    out_path = f"{docs_dir}/curated"
    with phase(spark, "curate.full"), tracer.span("curate.full"):
        training.curated_corpus(docs, benchmark=bench) \
            .write.mode("overwrite").parquet(out_path)
    release_persisted()

    m: dict = {}
    held = []

    def stage(name, build):
        with phase(spark, f"curate.{name}"), tracer.span(f"curate.{name}"):
            t0 = time.perf_counter()
            df = build().persist()
            n = df.count()
            m[f"curate.{name}_s"] = time.perf_counter() - t0
        m[f"curate.rows.{name}"] = n
        held.append(df)
        return df

    m["curate.rows.input"] = docs.count()
    q = stage("quality", lambda: textstats.quality_features(docs)
              .filter(F.col("q_keep")).select("doc_id", "text"))
    reps = stage("exact_dedup", lambda: dedup.exact_dedup(q)
                 .filter(~F.col("is_dup")).select("doc_id", "text"))
    cand = stage("lsh", lambda: dedup.minhash_lsh_candidates(
        reps, materialize=True))
    verified = cand.filter(F.col("est_jaccard") >= 0.5)
    n_verified = verified.count()
    m["dedup.lsh_pairs"] = m["curate.rows.lsh"]
    m["dedup.verified_frac"] = (n_verified / m["dedup.lsh_pairs"]
                                if m["dedup.lsh_pairs"] else 0.0)

    def survivors():
        comp = dedup.connected_components(verified)
        losers = comp.filter(F.col("node") != F.col("component")) \
            .select(F.col("node").alias("doc_id"))
        return reps.join(losers, "doc_id", "left_anti")

    kept = stage("components", survivors)
    clean = stage("decontam", lambda: kept.join(
        scrub.decontaminate(kept, bench, n=3)
        .filter(F.col("contaminated") == 1).select("doc_id"),
        "doc_id", "left_anti"))
    paras = stage("para_dedup", lambda: scrub.dedup_paragraphs(clean)
                  .withColumnRenamed("text_clean", "text"))
    stage("redact", lambda: scrub.redact_pii(paras))
    for df in held:
        df.unpersist()
    release_persisted()
    return m, out_path
