"""Benchmark of the BM25 index engine: see run.py for usage."""
