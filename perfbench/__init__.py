"""Benchmark for spider_spark; see README.md."""

CORES = 4  # every run uses local[CORES]
