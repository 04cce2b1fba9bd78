"""Benchmark for k8stream_spark: see README.md."""
