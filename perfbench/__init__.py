"""Layered benchmark for forklift_spark (see README.md in this directory)."""
