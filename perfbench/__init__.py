"""Benchmark harness for the quantlake engine (see README.md)."""
