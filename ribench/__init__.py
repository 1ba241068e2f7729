"""Benchmark of the research-index engine; ``python3 ribench/run.py --help``."""
