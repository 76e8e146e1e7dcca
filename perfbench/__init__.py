"""Benchmark of the convoy-spark engine: see run.py and BENCHMARK.json."""
