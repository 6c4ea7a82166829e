"""Benchmark of the spark_spotify engine; see run.py."""
