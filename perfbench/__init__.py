"""Benchmark of the crawl engine and the query registry: workloads,
outside-the-package tracing and the per-layer metrics built from it.
Entry point: ``python3 perfbench/run.py``."""
