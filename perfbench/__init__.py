"""Benchmark of the xmlschema_spark validation package (see run.py)."""
