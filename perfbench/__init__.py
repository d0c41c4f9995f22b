"""Seeded benchmark of the extraction and query paths; run perfbench/run.py."""
