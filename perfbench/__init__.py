"""Benchmark of the search engine; see run.py."""
