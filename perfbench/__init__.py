"""Benchmark of the web-text extraction system (see README.md)."""
