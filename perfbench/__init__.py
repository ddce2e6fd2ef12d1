"""Benchmark of the dedupe pipeline; entry point ``perfbench/run.py``."""
