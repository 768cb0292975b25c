"""Composed dataflow operators (SURVEY.md §2 Tier A + Tier C)."""

from .classify import classify_records, soh_branch, sensor_branch  # noqa: F401
from .flatten import flatten_soh, parse_soh_payload  # noqa: F401
from .geocode import build_geo_dim, enrich_geocode, grid_cell  # noqa: F401
from .alerts import alert_rows  # noqa: F401
from .nmea_position import sensor_positions  # noqa: F401
