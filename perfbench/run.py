"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload extract_commit --seed 1 \\
        --seconds 18 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are BENCHMARK.json's end-to-end metrics, with
``--trace 1`` its per-layer metrics. ``attempted`` counts the output rows
checked against the oracle and ``failed`` the wrong, missing or
duplicated ones (failed / attempted is the run's failed fraction).

Other modes:

    --smoke [SF_DIR]    both workloads, traced, one short repetition each,
                        on SF_DIR/documents.parquet (default: a few seeded
                        documents); prints every metric name with its unit
    --layers-out PATH   with --trace 1, also write the layer sweep JSON

Environment: LLMAP_DRIVER_MEM (default 2g here) and LLMAP_SHUFFLE_CODEC
pass through to session.get_spark; the run records the values in force.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SMOKE_DOCS = 300  # seeded documents when --smoke names no tier


def load_spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def select(spec: list[dict], values: dict) -> dict:
    """{name: {value, unit}} for every metric of spec; a metric the run
    did not produce is an error, not a silent omission."""
    missing = [m["name"] for m in spec if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not produced: {missing}")
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in spec}


def result_line(record: dict, metrics: dict) -> str:
    return json.dumps({"correct": record["failed"] == 0,
                       "attempted": record["checked"],
                       "failed": record["failed"], "metrics": metrics})


def smoke(sf_dir: str, spec: dict, work: Path) -> int:
    from perfbench.bench import WORKLOADS, Options, run

    ok = True
    for name in WORKLOADS:
        opts = Options(workload=name, seed=1, seconds=0, trace=True,
                       n_docs=SMOKE_DOCS, sf_dir=sf_dir or None,
                       warmup=False, curate_groups=16)
        e2e, layer, record = run(opts, ROOT, work)
        print(json.dumps({"record": record}))
        for kind, values in (("end_to_end", e2e), ("per_layer", layer)):
            for m in spec[kind]:
                print(f"{name}\t{kind}\t{m['name']}\t{values[m['name']]!r}"
                      f"\t{m['unit']}")
        ok = ok and record["failed"] == 0
        print(result_line(record, select(spec["end_to_end"], e2e)))
    return 0 if ok else 1


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float,
                    help="seconds to measure (default: run_seconds of "
                         "BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", metavar="SF_DIR", nargs="?", const="")
    ap.add_argument("--layers-out", metavar="PATH")
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    spec = load_spec()
    if args.seconds is None:
        args.seconds = spec["run_seconds"]
    # fail fast, before any work, when the engine is not importable
    import llmap_spark.sources.snapshot  # noqa: F401

    from perfbench.bench import configure_env, shutdown_jvm

    work = configure_env(ROOT)
    try:
        if args.smoke is not None:
            return smoke(args.smoke, spec, work)
        return measure(ap, args, spec, work)
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)


def measure(ap, args, spec, work: Path) -> int:
    from perfbench.bench import WORKLOADS, Options, run

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    if args.layers_out and not args.trace:
        ap.error("--layers-out needs --trace 1")
    opts = Options(workload=args.workload, seed=args.seed,
                   seconds=args.seconds, trace=bool(args.trace),
                   layers_out=args.layers_out)
    e2e, layer, record = run(opts, ROOT, work)
    print(json.dumps({"record": record}))
    kind = "per_layer" if args.trace else "end_to_end"
    values = layer if args.trace else e2e
    print(result_line(record, select(spec[kind], values)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
