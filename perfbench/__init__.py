"""Benchmark of the batch-processing engine; see README.md."""
