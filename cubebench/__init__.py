"""Benchmark for the cube pipeline: see README.md and run.py."""
