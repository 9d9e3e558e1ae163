"""Benchmark of the pubcrawler_spark engine (see README.md)."""
