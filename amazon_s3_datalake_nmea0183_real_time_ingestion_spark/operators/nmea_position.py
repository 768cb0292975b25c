"""Sensor ($PIMD8) position extraction (SURVEY.md §2 A8-A10, §3.2;
reference: hello.py:79-96).

Tokenize the NMEA sentence, pull lat/hemisphere/lon/hemisphere at positional
indices 5-8 (0-based), apply the hemisphere sign fix to both coordinates.
The reference's `elif` bug (a Southern record never gets its W longitude
negated — SURVEY.md §7.5.1) lives on only as
``functions.nmea.signed_longitude_reference_compat``, the expression the
tests compare against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.nmea import nmea_tokens, signed_latitude, signed_longitude


def sensor_positions(sensor: DataFrame) -> DataFrame:
    """Add latitude/longitude doubles to $PIMD8 sensor rows; $PIMD9 rows are
    classified sensor but carry no position (reference: hello.py:79)."""
    pimd8 = sensor.filter(F.col("payload_text").contains("$PIMD8"))
    toks = nmea_tokens(F.col("payload_text"))
    return pimd8.withColumn("latitude", signed_latitude(toks)).withColumn(
        "longitude", signed_longitude(toks)
    )
