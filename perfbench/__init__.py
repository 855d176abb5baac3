"""Benchmark of the engine; run it with ``python3 perfbench/run.py``."""
