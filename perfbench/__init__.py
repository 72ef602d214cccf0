"""Benchmark harness for the velib lakehouse engine; entry point: perfbench/run.py."""
