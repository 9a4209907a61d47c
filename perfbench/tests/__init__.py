"""Tests of the benchmark's own modules."""
