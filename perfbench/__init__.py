"""Benchmark of the repository: see README.md."""
