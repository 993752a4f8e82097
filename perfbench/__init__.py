"""Benchmark for the datasketches_postgresql_spark package; see run.py."""
