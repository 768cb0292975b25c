"""Batch/stream sources and catalog registration."""

from .tables import load_table  # noqa: F401
