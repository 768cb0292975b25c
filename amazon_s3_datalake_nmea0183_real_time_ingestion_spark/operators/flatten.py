"""SOH flatten + rename projection → 30-column stage rows
(SURVEY.md §2 A12/A13; reference: hello.py:140-175).

The reference mutates a dict key-by-key then pops the originals; in Spark
this whole dance is ONE wide ``select`` with aliases — Catalyst prunes the
envelope columns automatically, and the projection fuses into whole-stage
codegen with the upstream classification filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import SOH_SCHEMA, SOH_TO_STAGE, STAGE_COLUMNS


def parse_soh_payload(soh: DataFrame) -> DataFrame:
    """Parse the decoded SOH JSON payload into a ``soh`` struct column
    (reference: hello.py:133 json.loads)."""
    return soh.withColumn("soh", F.from_json(F.col("payload_text"), SOH_SCHEMA))


def flatten_soh(parsed: DataFrame, geo_enriched: bool = True) -> DataFrame:
    """Project envelope + soh struct (+ geo attrs when present) into the
    exact 30-column stage schema, in Glue declaration order
    (reference: hello.py:140-167 assignments, :169-175 pops)."""
    cols = [
        F.col("packetId").alias("packetid"),
        F.col("deviceType").alias("devicetype"),
        F.col("deviceId").alias("deviceid"),
        F.col("userApplicationId").alias("userapplicationid"),
        F.col("organizationId").alias("organizationid"),
        F.col("len"),
        F.col("status"),
        F.col("hiveRxTime").alias("hiverxtime"),
    ]
    geo_or_null = (
        (lambda n: F.col(n))
        if geo_enriched
        else (lambda n: F.lit(None).cast("int" if n == "timezone_offset" else "string").alias(n))
    )
    by_stage_name = {v: k for k, v in SOH_TO_STAGE.items()}
    for name in STAGE_COLUMNS[8:]:
        if name in by_stage_name:
            cols.append(F.col(f"soh.{by_stage_name[name]}").alias(name))
        else:
            cols.append(geo_or_null(name))
    return parsed.select(*cols)
