"""Benchmark of the valkey_search_spark engine; see README.md."""
