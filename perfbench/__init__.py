"""Benchmark of record for the engine: see README.md in this directory."""
