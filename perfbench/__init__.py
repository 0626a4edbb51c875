"""Benchmark of the crawl engine: workloads, references, tracing and
event-log aggregation.  Entry point: ``python3 perfbench/run.py``."""
