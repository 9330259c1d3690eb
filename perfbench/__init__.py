"""Benchmark for the convert pipeline, the query registry and streaming."""
