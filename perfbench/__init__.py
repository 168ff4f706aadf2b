"""Benchmark of the text_search_spark package (see README.md)."""
