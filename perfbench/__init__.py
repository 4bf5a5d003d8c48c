"""Benchmark of the spark-kg build: workloads, oracle check and tracing (see DESIGN.md)."""
