"""Benchmark of the data_webhooks_spark engine (see run.py)."""
