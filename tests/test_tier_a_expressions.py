"""Golden-record tests for the Tier A expression library (SURVEY.md §5.2.1).

Fixtures mirror the reference's transform semantics (hello.py) including the
four hemisphere sign cases and single- vs double-encoding classification.
"""

from __future__ import annotations

import base64
import json

from pyspark.sql import functions as F

from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.functions import (
    is_base64,
    nmea_tokens,
    signed_latitude,
    signed_longitude,
    signed_longitude_reference_compat,
    unbase64_str,
    event_partition_cols,
)
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.functions.nmea import classify_payload
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.sources.fixtures import (
    envelope_df,
    pimd8_sentence,
)
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators import (
    alert_rows,
    build_geo_dim,
    classify_records,
    enrich_geocode,
    flatten_soh,
    parse_soh_payload,
    sensor_branch,
    sensor_positions,
    soh_branch,
)
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.schemas import STAGE_COLUMNS


def _b64(s: str) -> str:
    return base64.b64encode(s.encode()).decode()


def test_is_base64_roundtrip_semantics(spark):
    # reference hello.py:13-17 — valid canonical base64 → True, else False
    rows = [
        (_b64("hello"), True),
        ("{\"ln\": 1.0}", False),   # JSON text is not base64
        ("not base64!!", False),
        (_b64(_b64("$PIMD8,x")), True),
    ]
    df = spark.createDataFrame(rows, ["s", "expected"])
    got = df.select("expected", is_base64("s").alias("got")).collect()
    for r in got:
        assert r.got == r.expected


def test_unbase64_str_single_and_double(spark):
    inner = "$PIMD8,a,b"
    df = spark.createDataFrame([(_b64(_b64(inner)),)], ["data"])
    once = df.select(unbase64_str("data").alias("d1"))
    twice = once.select(unbase64_str("d1").alias("d2"))
    assert twice.head().d2 == inner


def test_classification_three_way(spark):
    soh = _b64(json.dumps({"ln": 1.0}))
    sensor = _b64(_b64("$PIMD8,01,02,ab,cd,1.0,N,2.0,E,x"))
    sensor9 = _b64(_b64("$PIMD9,ok"))
    unknown = _b64(_b64("$GPGGA,123519"))
    df = spark.createDataFrame(
        [(soh, "soh"), (sensor, "sensor"), (sensor9, "sensor"), (unknown, "unknown")],
        ["data", "expected"],
    )
    got = df.select("expected", classify_payload("data").alias("got")).collect()
    for r in got:
        assert r.got == r.expected, r


def test_hemisphere_sign_fix_all_quadrants(spark):
    # FIXTURES.md §3: four hemisphere combinations; S/W exposes the
    # reference elif bug (SURVEY.md §7.5.1)
    cases = [
        ("N", "E", 47.6, 122.33, 122.33),
        ("N", "W", 47.6, -122.33, -122.33),
        ("S", "E", -47.6, 122.33, 122.33),
        ("S", "W", -47.6, -122.33, 122.33),  # compat: W NOT negated when S
    ]
    rows = [(pimd8_sentence(ns, ew), lat, lon, lon_compat)
            for ns, ew, lat, lon, lon_compat in cases]
    df = spark.createDataFrame(rows, ["s", "exp_lat", "exp_lon", "exp_lon_compat"])
    toks = nmea_tokens(F.col("s"))
    got = df.select(
        "exp_lat", "exp_lon", "exp_lon_compat",
        signed_latitude(toks).alias("lat"),
        signed_longitude(toks).alias("lon"),
        signed_longitude_reference_compat(toks).alias("lon_compat"),
    ).collect()
    for r in got:
        assert r.lat == r.exp_lat
        assert r.lon == r.exp_lon
        assert r.lon_compat == r.exp_lon_compat


def test_flatten_soh_produces_exact_stage_schema(spark):
    cls = classify_records(envelope_df(spark))
    flat = flatten_soh(parse_soh_payload(soh_branch(cls)), geo_enriched=False)
    assert flat.columns == STAGE_COLUMNS
    row = flat.orderBy("packetid").head()
    assert row.packetid == 1001
    assert row.longitude == -120.0 and row.latitude == 40.0
    assert row.date_time == 1700000000
    assert row.hiverxtime.startswith("2023-11-14")


def test_geocode_enrichment_deterministic(spark):
    cls = classify_records(envelope_df(spark))
    flat = flatten_soh(parse_soh_payload(soh_branch(cls)), geo_enriched=False)
    geo = build_geo_dim(spark)
    stage = enrich_geocode(flat.drop(*[c for c in flat.columns if c in
        ("addressnumber", "street", "municipality", "region", "subregion",
         "postalcode", "country", "timezone_name", "timezone_offset")]), geo)
    r = stage.filter(F.col("latitude") == 40.0).head()
    # cell = (40+90)*360 + (-120+180) = 46860
    assert r.municipality == f"City-{46860 % 500}"
    assert r.timezone_offset == (60 // 15) * 3600 - 12 * 3600
    assert stage.filter(F.col("municipality").isNull()).count() == 0


def test_geo_dim_cells_columns_and_edge_values(spark):
    """The geo dimension covers every 1°×1° cell once, keeps its column
    order and types, and its first and last cells carry the values the
    build_geo_dim formulas give."""
    geo = build_geo_dim(spark)
    assert [(f.name, f.dataType.simpleString()) for f in geo.schema.fields] == [
        ("geo_cell", "bigint"),
        ("addressnumber", "string"),
        ("street", "string"),
        ("municipality", "string"),
        ("region", "string"),
        ("subregion", "string"),
        ("postalcode", "string"),
        ("country", "string"),
        ("timezone_name", "string"),
        ("timezone_offset", "int"),
    ]
    agg = geo.agg(
        F.count("*").alias("n"), F.countDistinct("geo_cell").alias("nd")
    ).head()
    assert agg.n == agg.nd == 64_800
    edge = {r.geo_cell: tuple(r)[1:] for r in
            geo.filter(F.col("geo_cell").isin(0, 64_799)).collect()}
    assert edge[0] == ("1", "Street 0", "City-0", "Region-0", "Sub-0",
                       "00000", "Country-0", "Zone/0", -12 * 3600)
    # 64799 % 9999 = 4805; western edge 179°E → band 23 → +11 h
    assert edge[64_799] == ("4806", "Street 799", "City-299", "Region-99",
                            "Sub-199", "64799", "Country-239", "Zone/23",
                            11 * 3600)


def test_sensor_positions_and_pimd9_excluded(spark):
    cls = classify_records(envelope_df(spark))
    sens = sensor_branch(cls)
    assert sens.count() == 5  # 4 PIMD8 + 1 PIMD9
    pos = sensor_positions(sens)
    assert pos.count() == 4   # PIMD9 carries no position
    quadrants = {(r.latitude, r.longitude) for r in pos.collect()}
    assert quadrants == {(47.6, 122.33), (47.6, -122.33), (-47.6, 122.33), (-47.6, -122.33)}


def test_alert_thresholds(spark):
    cls = classify_records(envelope_df(spark))
    flat = flatten_soh(parse_soh_payload(soh_branch(cls)), geo_enriched=False)
    alerts = alert_rows(flat)
    for r in alerts.collect():
        assert r.solar_panel_voltage < 12 or r.battery_voltage < 4
    assert alerts.filter(F.col("alert_type") == "low_battery+low_solar").count() >= 1


def test_event_partition_cols_zero_padded(spark):
    df = spark.createDataFrame([(1700000000,)], ["date_time"])  # 2023-11-14 UTC
    parts = event_partition_cols("date_time")
    r = df.select(parts["year"].alias("y"), parts["month"].alias("m"), parts["day"].alias("d")).head()
    assert (r.y, r.m, r.d) == ("2023", "11", "14")
