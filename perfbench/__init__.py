"""Benchmark of the postrack_spark engine; run ``python3 perfbench/run.py --help``."""
