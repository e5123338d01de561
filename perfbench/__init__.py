"""The repository's benchmark: seeded, oracle-checked extract workloads
with a separate traced run for per-layer numbers. Entry point:
``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root."""
