"""Benchmark for the i2mapreduce_spark engine; see README.md."""
