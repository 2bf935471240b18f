"""Benchmark of the KG-construction engine; see README.md."""
