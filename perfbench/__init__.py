"""Benchmark of the spark-linkgraph engine; entry point ``perfbench/run.py``."""
