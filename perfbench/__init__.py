"""Benchmark of the extraction engine; run `python3 perfbench/run.py --help`."""
