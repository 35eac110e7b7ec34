"""Benchmark of the etlpy_spark crawl and dedup engine; see run.py."""
