"""Benchmark of the sports-stats Spark pipeline: see ``run.py``."""
