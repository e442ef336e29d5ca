"""Benchmark of htmld_spark: see README.md and run.py."""
