"""Benchmark of bio_lakehouse_spark: see run.py."""
