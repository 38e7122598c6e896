"""Repository benchmark for kapra_spark: closed-loop workloads over the
public entry points, end-to-end metrics and a traced per-layer ledger.
Run ``python3 perfbench/run.py --help``; see ``perfbench/README.md``."""
