"""Benchmark of the dm_spark engine; run `python3 perfbench/run.py --help`."""
