"""Benchmark of vinum_spark: see README.md in this directory."""
