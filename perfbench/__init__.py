"""Seeded benchmark of the pyppi_spark engine (see run.py and RATIONALE.md)."""
