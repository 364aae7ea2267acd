"""Benchmark of the interval rollup engine; see README.md."""
