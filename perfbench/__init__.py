"""Benchmark of the weekly cricket cycle and the query registry; see run.py."""
