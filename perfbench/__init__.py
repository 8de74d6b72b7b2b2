"""Layered benchmark for kinesis_stream_reader_spark (run.py is the entry point)."""
