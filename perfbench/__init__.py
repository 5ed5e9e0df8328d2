"""Benchmark of the engine's query battery; see README.md."""
