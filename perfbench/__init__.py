"""Benchmark for embeddinghub_spark; entry point: perfbench/run.py."""
