"""Benchmark for octofludb_spark: see README.md."""
