"""Benchmark for the StreamPro engine: see README.md."""
