"""Benchmark of the extraction engine; entry point ``perfbench/run.py``."""
