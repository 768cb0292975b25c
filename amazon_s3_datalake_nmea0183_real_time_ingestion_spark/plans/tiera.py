"""Tier A — the reference's ETL operators as driver-checkable queries
(SURVEY.md §2 Tier A; reference: cdk_datalake_mvp/lambda/hello.py).

The driver's only inputs are its TPC-H-ish tables, so each key *derives* a
deterministic ingest payload from them (base64/NMEA/JSON built from events
rows with integer-only string formatting — identical text in any engine),
then runs the REAL engine operator on it.  The oracle states the ground
truth directly from the construction, so any deviation in the operator
(decode, classify, sign-fix, flatten, route, partition) is a hash mismatch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.base64_fns import is_base64, unbase64_str
from ..functions.datetime_fns import event_partition_cols
from ..functions.nmea import (
    classify_payload,
    nmea_tokens,
    signed_latitude,
    signed_longitude,
    signed_longitude_reference_compat,
)
from ..operators.geocode import build_geo_dim, grid_cell
from ..schemas import SOH_SCHEMA
from .registry import register, table

# ---------------------------------------------------------------------------
# deterministic payload builders (integer-derived strings only — no float
# formatting, so Spark and the SQL oracle produce byte-identical text)
# ---------------------------------------------------------------------------


def _b64(c: Column) -> Column:
    return F.base64(c.cast("binary"))


def _sentence(eid: Column) -> Column:
    """$PIMD8 sentence with lat/lon/hemispheres derived from event_id."""
    lat = F.format_string("%d.%02d", eid % 90, eid % 100)
    lon = F.format_string("%d.%02d", (eid * 3) % 180, (eid * 7) % 100)
    ns = F.when(eid % 2 == 0, F.lit("N")).otherwise(F.lit("S"))
    ew = F.when((eid % 4) < 2, F.lit("E")).otherwise(F.lit("W"))
    return F.concat(
        F.lit("$PIMD8,01,02,ab,cd,"), lat, F.lit(","), ns, F.lit(","),
        lon, F.lit(","), ew, F.lit(",5.5,end"),
    )


_SENTENCE_SQL = """
    concat('$PIMD8,01,02,ab,cd,',
           printf('%d.%02d', event_id % 90, event_id % 100), ',',
           CASE WHEN event_id % 2 = 0 THEN 'N' ELSE 'S' END, ',',
           printf('%d.%02d', (event_id * 3) % 180, (event_id * 7) % 100), ',',
           CASE WHEN (event_id % 4) < 2 THEN 'E' ELSE 'W' END, ',5.5,end')
"""


# ---------------------------------------------------------------------------
# A3/A4/A5 — base64 + JSON primitives
# ---------------------------------------------------------------------------


@register(
    "src_ingest",
    oracle="""
    SELECT event_id,
           CAST(decode(from_base64(to_base64(encode(props))))->>'k' AS BIGINT) AS k_val
    FROM events
    """,
)
def src_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """A1: wrap a record body as base64 (the API-GW/VTL step,
    cdk_datalake_mvp_stack.py:273-279), then unwrap + parse like the
    transform does."""
    ev = table(spark, sf, "events")
    wrapped = ev.select("event_id", _b64(F.col("props")).alias("data"))
    return wrapped.select(
        "event_id",
        F.get_json_object(unbase64_str("data"), "$.k").cast("bigint").alias("k_val"),
    )


@register(
    "f_unbase64",
    oracle="SELECT p_partkey, p_name AS decoded FROM part",
)
def f_unbase64(spark: SparkSession, sf: str) -> DataFrame:
    p = table(spark, sf, "part")
    return p.select(
        "p_partkey", unbase64_str(_b64(F.col("p_name"))).alias("decoded")
    )


@register(
    "f_isbase64",
    oracle="""
    SELECT p_partkey,
           CASE WHEN p_name IS NULL THEN 0
                WHEN p_partkey % 2 = 0 THEN 1 ELSE 0 END AS is_b64
    FROM part
    """,
)
def f_isbase64(spark: SparkSession, sf: str) -> DataFrame:
    # even keys carry valid base64, odd keys garbage (reference hello.py:13-17)
    p = table(spark, sf, "part")
    mixed = p.select(
        "p_partkey",
        F.when(F.col("p_partkey") % 2 == 0, _b64(F.col("p_name")))
        .otherwise(F.concat(F.col("p_name"), F.lit("!!")))
        .alias("s"),
    )
    return mixed.select(
        "p_partkey", F.when(is_base64("s"), 1).otherwise(0).alias("is_b64")
    )


@register(
    "f_from_json",
    oracle="""
    SELECT event_id, CAST(props->>'k' AS BIGINT) AS k_val,
           CAST(NULL AS BIGINT) AS missing_val
    FROM events
    """,
)
def f_from_json(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.types import LongType, StructField, StructType

    ev = table(spark, sf, "events")
    schema = StructType([StructField("k", LongType()), StructField("m", LongType())])
    parsed = ev.select("event_id", F.from_json("props", schema).alias("j"))
    return parsed.select(
        "event_id",
        F.col("j.k").alias("k_val"),
        F.col("j.m").alias("missing_val"),
    )


# ---------------------------------------------------------------------------
# A6/A7 — classification
# ---------------------------------------------------------------------------


def _classified(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    data = (
        F.when(F.col("event_id") % 3 == 0, _b64(F.col("props")))
        .when(F.col("event_id") % 3 == 1, _b64(_b64(_sentence(F.col("event_id")))))
        .otherwise(_b64(_b64(F.lit("$GPGGA,123519,4807.038,N"))))
    )
    env = ev.select("event_id", data.alias("data"))
    return env.select("event_id", classify_payload("data").alias("msg_class"))


_CLASS_SQL = """
    CASE WHEN event_id % 3 = 0 THEN 'soh'
         WHEN event_id % 3 = 1 THEN 'sensor'
         ELSE 'unknown' END
"""


@register(
    "op_classify",
    oracle=f"SELECT event_id, {_CLASS_SQL} AS msg_class FROM events",
)
def op_classify(spark: SparkSession, sf: str) -> DataFrame:
    """A6: single- vs double-encoding + $PIMD8/9 routing (hello.py:69-131),
    run by the real classify_payload expression on constructed payloads."""
    return _classified(spark, sf)


@register(
    "agg_class_count",
    oracle=f"""
    SELECT msg_class, count(*) AS n
    FROM (SELECT {_CLASS_SQL} AS msg_class FROM events) t
    GROUP BY msg_class
    """,
)
def agg_class_count(spark: SparkSession, sf: str) -> DataFrame:
    """A22: per-batch class counters (hello.py:56-58)."""
    return _classified(spark, sf).groupBy("msg_class").agg(F.count("*").alias("n"))


@register(
    "f_contains",
    oracle="""
    SELECT event_id,
           CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS has_pimd8
    FROM events
    """,
)
def f_contains(spark: SparkSession, sf: str) -> DataFrame:
    # even ids get a $PIMD8 sentence, odd a $GPGGA one (hello.py:73)
    ev = table(spark, sf, "events")
    s = F.when(F.col("event_id") % 2 == 0, _sentence(F.col("event_id"))).otherwise(
        F.lit("$GPGGA,123519")
    )
    return ev.select(
        "event_id",
        F.when(s.contains("$PIMD8"), 1).otherwise(0).alias("has_pimd8"),
    )


# ---------------------------------------------------------------------------
# A8/A9/A10 — NMEA tokenize + positional extraction + sign fix
# ---------------------------------------------------------------------------


@register(
    "f_split",
    oracle=f"""
    SELECT event_id, len(string_split({_SENTENCE_SQL}, ',')) AS n_tokens
    FROM events
    """,
)
def f_split(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    return ev.select(
        "event_id", F.size(nmea_tokens(_sentence(F.col("event_id")))).alias("n_tokens")
    )


@register(
    "f_element_at",
    oracle=f"""
    SELECT event_id,
           string_split({_SENTENCE_SQL}, ',')[6] AS lat_token,
           string_split({_SENTENCE_SQL}, ',')[7] AS ns_token
    FROM events
    """,
)
def f_element_at(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    toks = nmea_tokens(_sentence(F.col("event_id")))
    return ev.select(
        "event_id",
        F.try_element_at(toks, F.lit(6)).alias("lat_token"),
        F.try_element_at(toks, F.lit(7)).alias("ns_token"),
    )


@register(
    "op_nmea_latlon",
    oracle=f"""
    WITH t AS (
      SELECT event_id,
             CAST(printf('%d.%02d', event_id % 90, event_id % 100) AS DOUBLE) AS ulat,
             CAST(printf('%d.%02d', (event_id * 3) % 180, (event_id * 7) % 100) AS DOUBLE) AS ulon,
             event_id % 2 = 0 AS is_n,
             (event_id % 4) < 2 AS is_e
      FROM events)
    SELECT event_id,
           CASE WHEN is_n THEN ulat ELSE -ulat END AS latitude,
           CASE WHEN is_e THEN ulon ELSE -ulon END AS longitude,
           CASE WHEN NOT is_n THEN ulon          -- reference elif bug: S wins,
                WHEN is_e THEN ulon               -- W never negated after S
                ELSE -ulon END AS longitude_compat
    FROM t
    """,
)
def op_nmea_latlon(spark: SparkSession, sf: str) -> DataFrame:
    """A10: hemisphere sign fix, both engine-correct and reference-compat
    (hello.py:82-96; deviation documented SURVEY.md §7.5.1)."""
    ev = table(spark, sf, "events")
    toks = nmea_tokens(_sentence(F.col("event_id")))
    return ev.select(
        "event_id",
        signed_latitude(toks).alias("latitude"),
        signed_longitude(toks).alias("longitude"),
        signed_longitude_reference_compat(toks).alias("longitude_compat"),
    )


# ---------------------------------------------------------------------------
# A11 — geocode broadcast join
# ---------------------------------------------------------------------------


@register(
    "op_geocode_join",
    oracle="""
    WITH pts AS (
      SELECT event_id,
             (event_id % 180) - 90 + 0.5 AS lat,
             ((event_id * 7) % 360) - 180 + 0.5 AS lon
      FROM events),
    keyed AS (
      -- least/greatest clamp mirrors grid_cell(): out-of-domain coords
      -- (possible with negative ids) land in the boundary cell, never a
      -- negative cell id
      SELECT event_id, lat, lon,
             CAST((floor(least(greatest(lat, -90.0), 89.999999)) + 90) * 360
                  + floor(least(greatest(lon, -180.0), 179.999999)) + 180 AS BIGINT) AS cell
      FROM pts)
    SELECT event_id,
           concat('City-', CAST(cell % 500 AS VARCHAR)) AS municipality,
           lpad(CAST(cell % 100000 AS VARCHAR), 5, '0') AS postalcode,
           concat('Country-', CAST(cell % 240 AS VARCHAR)) AS country,
           CAST(floor(((cell % 360) - 180 + 180) / 15) * 3600 - 12 * 3600 AS INT) AS timezone_offset
    FROM keyed
    """,
)
def op_geocode_join(spark: SparkSession, sf: str) -> DataFrame:
    """A11: reverse-geocode as a broadcast dim join (hello.py:28-45 replaced
    per SURVEY.md §7.4.2).  The oracle regenerates the deterministic dim
    attributes straight from the grid-cell formula."""
    ev = table(spark, sf, "events")
    pts = ev.select(
        "event_id",
        ((F.col("event_id") % 180) - 90 + 0.5).alias("lat"),
        (((F.col("event_id") * 7) % 360) - 180 + 0.5).alias("lon"),
    )
    keyed = pts.withColumn("geo_cell", grid_cell(F.col("lon"), F.col("lat")))
    dim = build_geo_dim(spark)
    return keyed.join(dim, "geo_cell", "left").select(
        "event_id", "municipality", "postalcode", "country", "timezone_offset"
    )


# ---------------------------------------------------------------------------
# A12/A13 — envelope -> SOH flatten (through the real to_json/from_json path)
# ---------------------------------------------------------------------------


@register(
    "op_flatten_soh",
    oracle="""
    SELECT CAST(event_id AS INT) AS packetid,
           CAST(user_id AS INT) AS deviceid,
           ((event_id % 360) - 180) + 0.25 AS longitude,
           ((event_id % 180) - 90) + 0.25 AS latitude,
           value AS solar_panel_voltage,
           value / 4.0 AS battery_voltage,
           CAST(1700000000 + event_id AS INT) AS date_time,
           CAST(event_id % 100 AS INT) AS no_messages_sent_since_last_power_cycle
    FROM events
    """,
)
def op_flatten_soh(spark: SparkSession, sf: str) -> DataFrame:
    """A12: build a real SOH JSON payload (to_json), parse it with the
    declared SOH schema (from_json, hello.py:133), flatten short keys to
    stage names (hello.py:146-167)."""
    ev = table(spark, sf, "events")
    soh_json = F.to_json(
        F.struct(
            (((F.col("event_id") % 360) - 180) + 0.25).alias("ln"),
            (((F.col("event_id") % 180) - 90) + 0.25).alias("lt"),
            F.col("value").alias("sv"),
            (F.col("value") / 4.0).alias("bv"),
            (F.lit(1700000000) + F.col("event_id")).cast("int").alias("d"),
            (F.col("event_id") % 100).cast("int").alias("n"),
        )
    )
    env = ev.select(
        F.col("event_id").cast("int").alias("packetId"),
        F.col("user_id").cast("int").alias("deviceId"),
        soh_json.alias("payload_text"),
    )
    parsed = env.withColumn("soh", F.from_json("payload_text", SOH_SCHEMA))
    return parsed.select(
        F.col("packetId").alias("packetid"),
        F.col("deviceId").alias("deviceid"),
        F.col("soh.ln").alias("longitude"),
        F.col("soh.lt").alias("latitude"),
        F.col("soh.sv").alias("solar_panel_voltage"),
        F.col("soh.bv").alias("battery_voltage"),
        F.col("soh.d").alias("date_time"),
        F.col("soh.n").alias("no_messages_sent_since_last_power_cycle"),
    )


# ---------------------------------------------------------------------------
# A14 — threshold alerts
# ---------------------------------------------------------------------------


@register(
    "op_alert_filter",
    oracle="""
    WITH soh AS (
      SELECT event_id, value % 24.0 AS sv, value % 8.0 AS bv FROM events)
    SELECT event_id, sv AS solar_panel_voltage, bv AS battery_voltage,
           CASE WHEN bv < 4.0 AND sv < 12.0 THEN 'low_battery+low_solar'
                WHEN bv < 4.0 THEN 'low_battery'
                ELSE 'low_solar' END AS alert_type
    FROM soh WHERE sv < 12.0 OR bv < 4.0
    """,
)
def op_alert_filter(spark: SparkSession, sf: str) -> DataFrame:
    """A14: latent SNS thresholds as streaming-able filters
    (hello.py:112-116,181-192)."""
    from ..operators.alerts import alert_rows

    ev = table(spark, sf, "events")
    soh = ev.select(
        "event_id",
        (F.col("value") % 24.0).alias("solar_panel_voltage"),
        (F.col("value") % 8.0).alias("battery_voltage"),
    )
    return alert_rows(soh).select(
        "event_id", "solar_panel_voltage", "battery_voltage", "alert_type"
    )


# ---------------------------------------------------------------------------
# A17/A18 — event-time partition keys + error routing
# ---------------------------------------------------------------------------


@register(
    "op_event_partition",
    oracle="""
    SELECT event_id,
           -- AT TIME ZONE 'UTC': to_timestamp yields TIMESTAMPTZ and
           -- strftime would render it in DuckDB's session TimeZone;
           -- pin to UTC wall clock like the Spark side's _utc_wall
           strftime(to_timestamp(1500000000 + event_id * 997) AT TIME ZONE 'UTC', '%Y') AS year,
           strftime(to_timestamp(1500000000 + event_id * 997) AT TIME ZONE 'UTC', '%m') AS month,
           strftime(to_timestamp(1500000000 + event_id * 997) AT TIME ZONE 'UTC', '%d') AS day
    FROM events
    """,
)
def op_event_partition(spark: SparkSession, sf: str) -> DataFrame:
    """A17: year/month/day from epoch-seconds date_time — the JQ strftime
    dynamic-partitioning expression (cdk_datalake_mvp_stack.py:228-238)."""
    ev = table(spark, sf, "events")
    keyed = ev.select(
        "event_id", (F.lit(1500000000) + F.col("event_id") * 997).alias("date_time")
    )
    parts = event_partition_cols("date_time")
    return keyed.select(
        "event_id",
        parts["year"].alias("year"),
        parts["month"].alias("month"),
        parts["day"].alias("day"),
    )


@register(
    "op_error_route",
    oracle="""
    SELECT event_id,
           CASE WHEN event_id % 5 = 0 OR props IS NULL THEN 'error'
                ELSE 'ok' END AS route
    FROM events
    """,
)
def op_error_route(spark: SparkSession, sf: str) -> DataFrame:
    """A18: corrupt records route to error/, clean ones continue
    (cdk_datalake_mvp_stack.py:213; engine uses decode-null detection)."""
    ev = table(spark, sf, "events")
    data = F.when(F.col("event_id") % 5 == 0, F.lit("corrupt!!")).otherwise(
        _b64(F.col("props"))
    )
    env = ev.select("event_id", data.alias("data"))
    return env.select(
        "event_id",
        F.when(unbase64_str("data").isNull(), F.lit("error"))
        .otherwise(F.lit("ok"))
        .alias("route"),
    )


# ---------------------------------------------------------------------------
# A15/A16 — sinks (write + read-back round trips), A19/A20 — catalog
# ---------------------------------------------------------------------------


@register(
    "snk_stage_parquet",
    oracle="""
    SELECT strftime(o_orderdate, '%Y') AS year, count(*) AS n,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders GROUP BY 1
    """,
)
def snk_stage_parquet(spark: SparkSession, sf: str) -> DataFrame:
    """A16/A17: partitioned parquet sink round-trip — write orders
    partitioned by event-time year (Firehose conversion + dynamic
    partitioning, cdk_datalake_mvp_stack.py:175-238), read back, aggregate."""
    out = "/tmp/spark_graft_sinks/stage_parquet"
    o = table(spark, sf, "orders")
    staged = o.withColumn("year", F.date_format("o_orderdate", "yyyy"))
    (
        staged.write.mode("overwrite")
        .partitionBy("year")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return (
        back.groupBy(F.col("year").cast("string").alias("year"))
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )


@register(
    "snk_raw_json",
    oracle="""
    SELECT event_type, count(*) AS n, CAST(sum(event_id) AS BIGINT) AS id_sum
    FROM events GROUP BY event_type
    """,
)
def snk_raw_json(spark: SparkSession, sf: str) -> DataFrame:
    """A15: raw-zone JSON tee round-trip (hello.py:201-234) — append-style
    JSON lines partitioned by class, read back with declared schema."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    out = "/tmp/spark_graft_sinks/raw_json"
    ev = table(spark, sf, "events")
    (
        ev.select("event_id", "event_type")
        .write.mode("overwrite")
        .partitionBy("event_type")
        .json(out)
    )
    # event_type comes back from the directory layout (Hive-style partition)
    schema = StructType(
        [StructField("event_id", LongType()), StructField("event_type", StringType())]
    )
    back = spark.read.schema(schema).json(out)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("event_id").alias("id_sum")
    )


@register(
    "cat_register",
    oracle="""
    SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY o_orderstatus
    """,
)
def cat_register(spark: SparkSession, sf: str) -> DataFrame:
    """A19: catalog registration — external parquet table in the session
    catalog (Glue DB+table, cdk_datalake_mvp_stack.py:337-511), queried
    via spark.sql."""
    import os as _os

    spark.sql("DROP TABLE IF EXISTS orders_registered")
    # LOCATION resolves relative paths against the warehouse dir, not the
    # caller's cwd — absolutize so a relative sf_dir (e.g. the .scratch/sf1
    # perf dataset) registers the same files spark.read would
    spark.sql(
        f"""
        CREATE TABLE orders_registered
        USING PARQUET LOCATION '{_os.path.abspath(_os.path.join(sf, "orders.parquet"))}'
        """
    )
    return spark.sql(
        "SELECT o_orderstatus, count(*) AS n FROM orders_registered GROUP BY o_orderstatus"
    )


@register(
    "cat_recover",
    oracle="""
    SELECT CAST(strftime(o_orderdate, '%Y') AS INT) AS yr, count(*) AS n
    FROM orders GROUP BY 1
    """,
)
def cat_recover(spark: SparkSession, sf: str) -> DataFrame:
    """A20: partition recovery — write Hive-layout partitions, register an
    external partitioned table, MSCK REPAIR, query through the catalog
    (the crawler's partition discovery, cdk_datalake_mvp_stack.py:320-335)."""
    out = "/tmp/spark_graft_sinks/cat_recover"
    o = table(spark, sf, "orders")
    (
        o.select("o_orderkey", F.year("o_orderdate").alias("yr"))
        .write.mode("overwrite")
        .partitionBy("yr")
        .parquet(out)
    )
    spark.sql("DROP TABLE IF EXISTS orders_partitioned")
    spark.sql(
        f"""
        CREATE TABLE orders_partitioned (o_orderkey BIGINT, yr INT)
        USING PARQUET PARTITIONED BY (yr) LOCATION '{out}'
        """
    )
    spark.sql("MSCK REPAIR TABLE orders_partitioned")
    return spark.sql(
        "SELECT yr, count(*) AS n FROM orders_partitioned GROUP BY yr"
    )
