"""Benchmark of web_crawler_spark; entry point perfbench/run.py."""
