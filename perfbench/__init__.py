"""Benchmark of the medallion pipeline and the curation queries (run.py)."""
