"""Benchmark for net_spider_spark; see README.md."""
