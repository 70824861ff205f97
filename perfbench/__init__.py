"""Benchmark for go_streaming_spark: see NOTES.md and run.py."""
