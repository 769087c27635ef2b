"""Benchmark of the KG engine: seeded workloads, end-to-end metrics and
traced per-layer metrics. Entry point: ``perfbench/run.py``."""
