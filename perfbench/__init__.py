"""spark-ir benchmark: seeded workloads, correctness oracles and traced
per-layer metrics. Entry point: ``python3 perfbench/run.py``."""
