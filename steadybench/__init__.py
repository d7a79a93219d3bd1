"""Steady end-to-end and per-layer benchmark for the spark-graft engine.

See README.md in this directory; the entry point is ``run.py``.
"""
