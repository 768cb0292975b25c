"""Stream-stream joins (SURVEY.md §2 B3 applied to the streaming side).

The reference enriches each sensor record with external state at process
time (the geocode API call, hello.py:96); the streaming-native analog of
"attach the device's recent context" is an event-time INTERVAL JOIN
between the sensor stream and the SOH heartbeat stream — each sensor
reading picks up the heartbeats the same device sent in the preceding
window.

Scale notes: both sides shuffle once on the join key; watermarks bound
the join state to (rows within the 10-minute watermark delay + the
600-second interval) per side — an
unbounded stream-stream join without both time bounds and watermarks
would grow state forever, so this module hard-requires them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sensor_with_recent_soh(sensor: DataFrame, soh: DataFrame) -> DataFrame:
    """Event-time interval join: each sensor row pairs with every SOH row
    of the SAME ``deviceid`` whose ``event_ts`` lies in
    ``[sensor event_ts - 600 s, sensor event_ts]``.

    Returns sensor columns (prefixed ``s_``) + heartbeat battery/time
    columns (prefixed ``h_``) + the age of the heartbeat in seconds.
    """
    s = sensor.withWatermark("event_ts", "10 minutes").select(
        F.col("deviceid").alias("s_device"),
        F.col("event_ts").alias("s_ts"),
        *[F.col(c).alias(f"s_{c}") for c in sensor.columns if c not in ("deviceid", "event_ts")],
    )
    h = soh.withWatermark("event_ts", "10 minutes").select(
        F.col("deviceid").alias("h_device"),
        F.col("event_ts").alias("h_ts"),
        *[F.col(c).alias(f"h_{c}") for c in soh.columns if c not in ("deviceid", "event_ts")],
    )
    cond = (
        (F.col("s_device") == F.col("h_device"))
        & (F.col("h_ts") >= F.col("s_ts") - F.expr("INTERVAL 600 SECONDS"))
        & (F.col("h_ts") <= F.col("s_ts"))
    )
    joined = s.join(h, cond, "inner")
    return joined.withColumn(
        "heartbeat_age_s",
        (F.unix_micros(F.col("s_ts")) - F.unix_micros(F.col("h_ts"))) / 1_000_000,
    ).drop("h_device")
