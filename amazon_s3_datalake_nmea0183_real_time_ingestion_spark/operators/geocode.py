"""Reverse-geocode enrichment as a broadcast dimension join
(SURVEY.md §2 A11, §7.4.2; reference: hello.py:28-45,96,138-156).

The reference calls Amazon Location's PlaceIndex once per record
(MaxResults=1).  A per-row external API call cannot survive 100 TB; the
Spark-first replacement is a **static geo dimension** keyed by 1°×1° grid
cell, broadcast to every executor (64,800 rows ≈ a few MB), so enrichment
is a hash-probe inside whole-stage codegen with zero shuffle.

The dimension is *deterministic* — every attribute is a pure arithmetic
function of the cell id — so any SQL oracle can regenerate it exactly
(the ``op_geocode_join`` oracle in plans/tiera.py does, from the
grid-cell formula).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

GRID_CELLS = 180 * 360  # 64,800


def grid_cell(lon: Column, lat: Column) -> Column:
    """1°×1° grid-cell id in [0, 64800): (floor(lat)+90)*360 + floor(lon)+180.

    Inputs are clamped to the valid lat/lon domain so edge values (±90/±180)
    land in the boundary cell rather than out of range.  NULL lat or lon →
    NULL cell (greatest/least skip NULLs, so without the explicit guard a
    NULL coordinate would silently clamp into cell 0 and pick up that
    cell's fabricated address).
    """
    lat_c = F.least(F.greatest(lat, F.lit(-90.0)), F.lit(89.999999))
    lon_c = F.least(F.greatest(lon, F.lit(-180.0)), F.lit(179.999999))
    cell = (
        (F.floor(lat_c) + F.lit(90)) * F.lit(360) + F.floor(lon_c) + F.lit(180)
    ).cast("bigint")
    return F.when(lat.isNull() | lon.isNull(), F.lit(None).cast("bigint")).otherwise(cell)


def build_geo_dim(spark: SparkSession) -> DataFrame:
    """The deterministic geo dimension: cell -> 9 enrichment attributes
    (the exact attribute set the reference pulls from Amazon Location,
    hello.py:148-156).  timezone_offset is seconds east of UTC derived from
    the cell's longitude band (15° per hour): ``(id % 360) - 180`` is the
    cell's western edge in degrees.

    Written as one ``selectExpr`` of SQL strings, so the plan is built
    with one py4j call instead of ~40 Column calls; every pipeline start
    and every ``op_geocode_join`` build calls this."""
    return spark.range(GRID_CELLS).selectExpr(
        "id AS geo_cell",
        "CAST(id % 9999 + 1 AS STRING) AS addressnumber",
        "concat('Street ', CAST(id % 1000 AS STRING)) AS street",
        "concat('City-', CAST(id % 500 AS STRING)) AS municipality",
        "concat('Region-', CAST(id % 100 AS STRING)) AS region",
        "concat('Sub-', CAST(id % 200 AS STRING)) AS subregion",
        "lpad(CAST(id % 100000 AS STRING), 5, '0') AS postalcode",
        "concat('Country-', CAST(id % 240 AS STRING)) AS country",
        "concat('Zone/', CAST(id % 24 AS STRING)) AS timezone_name",
        "CAST(floor(((id % 360) - 180 + 180) / 15) * 3600 - 12 * 3600 AS INT)"
        " AS timezone_offset",
    )


def enrich_geocode(
    df: DataFrame,
    geo_dim: DataFrame,
    lon_col: str = "longitude",
    lat_col: str = "latitude",
) -> DataFrame:
    """Broadcast-join the 9 geo attributes onto df by grid cell.

    Left join: rows with null/invalid coordinates keep null enrichment —
    the reference would instead fail the record; our error routing keeps
    them visible (SURVEY.md §7.5)."""
    keyed = df.withColumn("geo_cell", grid_cell(F.col(lon_col), F.col(lat_col)))
    return keyed.join(geo_dim, "geo_cell", "left").drop("geo_cell")

