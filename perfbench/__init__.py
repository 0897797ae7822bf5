"""Benchmark for the keyed-table engine; see README.md."""
