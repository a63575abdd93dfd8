"""Seeded benchmark of the profiling engine's public API (see README.md)."""
