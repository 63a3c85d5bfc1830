"""Benchmark of the omnispark engine; see README.md."""
