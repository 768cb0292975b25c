"""Batch/stream sources and catalog registration."""

from .nmea_source import NmeaDataSource, register_nmea_source  # noqa: F401
from .tables import load_table  # noqa: F401
