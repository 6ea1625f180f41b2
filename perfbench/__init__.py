"""Benchmark of catabra_pandas_spark: see run.py."""
