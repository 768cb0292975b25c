"""3-way stream classification (SURVEY.md §2 A6; reference: hello.py:69-131).

Adds ``msg_class`` ∈ {soh, sensor, unknown} and ``payload_text`` (the fully
decoded payload: JSON text for SOH, NMEA sentence for sensor/unknown).
Classification happens *before* any heavy work, mirroring the reference's
early routing (hello.py:69-73) — Catalyst pushes the per-branch filters
down to the scan, so the sensor branch never pays SOH parsing cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.base64_fns import unbase64_str
from ..functions.nmea import classify_payload
from ..schemas import CLASS_SENSOR, CLASS_SOH


def classify_records(envelopes: DataFrame) -> DataFrame:
    """Annotate an envelope DataFrame with msg_class + decoded payload_text."""
    once = unbase64_str(F.col("data"))
    cls = classify_payload(F.col("data"))
    payload = F.when(cls == CLASS_SOH, once).otherwise(unbase64_str(once))
    return envelopes.withColumn("msg_class", cls).withColumn("payload_text", payload)


def soh_branch(classified: DataFrame) -> DataFrame:
    return classified.filter(F.col("msg_class") == CLASS_SOH)


def sensor_branch(classified: DataFrame) -> DataFrame:
    return classified.filter(F.col("msg_class") == CLASS_SENSOR)

