"""Benchmark for the spark-graft engine; see README.md."""
