"""Benchmark of the dedup pipeline; entry point ``dedupbench/run.py``."""
