"""Benchmark for the wd2duckdb_spark engine (see README.md)."""
