"""Standalone benchmark of the tegola_spark engine (see run.py)."""
