"""Disaggregation benchmark (see run.py)."""
