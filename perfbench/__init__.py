"""Benchmark of the IVF vector engine: see perfbench/README.md."""
