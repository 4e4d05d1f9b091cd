"""Benchmark of the Pub/Sub pipeline and the query registry; see run.py."""
