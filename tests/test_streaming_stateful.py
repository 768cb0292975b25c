"""Stateful streaming operators (SURVEY.md §2 streaming semantics):
watermarked dedup (C1), session windows (C6), tumbling-window counts,
and the applyInPandasWithState battery-transition detector.

Each test streams two landing files as two micro-batches
(maxFilesPerTrigger=1) so state carries across batches and the second
batch's watermark can close windows opened by the first.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.streaming.stateful import (
    battery_transitions,
    streaming_dedup,
    streaming_sessions,
    streaming_windowed_counts,
    with_event_ts,
)

ROW_SCHEMA = StructType(
    [
        StructField("deviceid", IntegerType()),
        StructField("packetid", IntegerType()),
        StructField("date_time", IntegerType()),
        StructField("battery_voltage", DoubleType()),
        StructField("msg_class", StringType()),
    ]
)

T0 = 1_700_000_000  # 2023-11-14T22:13:20Z


def _row(device, packet, dt, bv=5.0, cls="soh"):
    return {
        "deviceid": device,
        "packetid": packet,
        "date_time": dt,
        "battery_voltage": bv,
        "msg_class": cls,
    }


def _write(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _run(spark, landing, transform, name, out_mode="append"):
    stream = (
        spark.readStream.schema(ROW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    q = (
        transform(with_event_ts(stream))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode(out_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.sql(f"SELECT * FROM {name}")


def test_streaming_dedup_across_batches(spark, tmp_path):
    """Retried downlinks (same deviceid+packetid) in the SAME and the NEXT
    micro-batch are dropped while inside the watermark delay."""
    landing = tmp_path / "landing"
    landing.mkdir()
    _write(landing / "b1.json", [
        _row(1, 100, T0),
        _row(1, 100, T0 + 5),      # in-batch duplicate
        _row(2, 200, T0 + 10),
    ])
    _write(landing / "b2.json", [
        _row(1, 100, T0 + 60),     # cross-batch duplicate (within 10 min)
        _row(3, 300, T0 + 120),
    ])
    out = _run(
        spark, landing,
        lambda s: streaming_dedup(s, ["deviceid", "packetid"]),
        "dedup_out",
    )
    got = {(r["deviceid"], r["packetid"]) for r in out.collect()}
    assert got == {(1, 100), (2, 200), (3, 300)}
    assert out.count() == 3


def test_streaming_sessions_close_on_watermark(spark, tmp_path):
    """Two close events form one session; a much later event advances the
    watermark past session end, so exactly that session is emitted."""
    landing = tmp_path / "landing"
    landing.mkdir()
    _write(landing / "b1.json", [
        _row(1, 1, T0),
        _row(1, 2, T0 + 600),          # same session (10 min gap < 30 min)
    ])
    _write(landing / "b2.json", [
        _row(1, 3, T0 + 7200),         # new session; watermark → T0+7200-600
    ])
    out = _run(
        spark, landing,
        lambda s: streaming_sessions(s),
        "sessions_out",
    )
    rows = out.collect()
    assert len(rows) == 1  # only the closed first session
    assert rows[0]["n_events"] == 2
    assert rows[0]["duration_s"] == 600


def test_streaming_windowed_counts(spark, tmp_path):
    """Day-1 tumbling window closes once day-2 data advances the
    watermark; late day-1 rows within delay still count."""
    landing = tmp_path / "landing"
    landing.mkdir()
    day = 86400
    d1 = (T0 // day) * day  # midnight of T0's day
    _write(landing / "b1.json", [
        _row(1, 1, d1 + 100, cls="soh"),
        _row(1, 2, d1 + 200, cls="soh"),
        _row(2, 3, d1 + 300, cls="sensor"),
    ])
    _write(landing / "b2.json", [
        _row(1, 4, d1 + 150, cls="soh"),       # late day-1 row, still open
        _row(3, 5, d1 + day + 7200, cls="soh"),  # day-2 → watermark closes day 1
    ])
    out = _run(
        spark, landing,
        lambda s: streaming_windowed_counts(s),
        "windows_out",
    )
    got = {(r["msg_class"]): r["n"] for r in out.collect()}
    assert got == {"soh": 3, "sensor": 1}  # day-1 window only; day 2 still open


def test_battery_transitions_edge_triggered(spark, tmp_path):
    """One alert per threshold crossing — not per low heartbeat — with the
    low/high flag carried across micro-batches in the state store."""
    landing = tmp_path / "landing"
    landing.mkdir()
    _write(landing / "b1.json", [
        _row(1, 1, T0, bv=5.0),
        _row(1, 2, T0 + 60, bv=3.5),   # enter_low
        _row(1, 3, T0 + 120, bv=3.6),  # still low → no output
    ])
    _write(landing / "b2.json", [
        _row(1, 4, T0 + 180, bv=3.9),  # still low (state carried) → no output
        _row(1, 5, T0 + 240, bv=4.5),  # exit_low
        _row(2, 6, T0 + 300, bv=3.0),  # first observation already low
    ])
    out = _run(spark, landing, battery_transitions, "transitions_out")
    rows = sorted(
        [(r["deviceid"], r["date_time"], r["transition"]) for r in out.collect()]
    )
    assert rows == [
        (1, T0 + 60, "enter_low"),
        (1, T0 + 240, "exit_low"),
        (2, T0 + 300, "enter_low"),
    ]


def test_progress_logger_captures_batches(spark, tmp_path):
    """Ops logging (SURVEY streaming table): the listener records one
    progress JSON per micro-batch with row counts, and tees to a file."""
    import json as _json
    import time as _time

    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.streaming.listener import (
        ProgressLogger,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    _write(landing / "b1.json", [_row(1, 1, T0), _row(1, 2, T0 + 60)])
    log_file = tmp_path / "ops.jsonl"
    listener = ProgressLogger(str(log_file))
    spark.streams.addListener(listener)
    try:
        out = _run(spark, landing, lambda s: s, "listener_out")
        assert out.count() == 2
        # listener bus is async — poll briefly
        for _ in range(60):
            if listener.progress and listener.terminated:
                break
            _time.sleep(0.5)
        assert sum(p["num_input_rows"] for p in listener.progress) == 2
        assert listener.started and listener.terminated
        lines = [_json.loads(l) for l in log_file.read_text().splitlines()]
        assert any(r["event"] == "progress" for r in lines)
    finally:
        spark.streams.removeListener(listener)


def test_stream_stream_interval_join(spark, tmp_path):
    """Sensor readings pick up the same device's heartbeats from the
    preceding 10 minutes — event-time interval join of two live streams
    (state bounded by watermark + interval)."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.streaming.joins import (
        sensor_with_recent_soh,
    )

    soh_dir = tmp_path / "soh"
    sensor_dir = tmp_path / "sensor"
    soh_dir.mkdir(); sensor_dir.mkdir()
    # device 1: heartbeats at T0 and T0+300; sensor reading at T0+360
    #   → both heartbeats in window (ages 360 and 60)
    # device 2: heartbeat at T0 but sensor reading at T0+3600 → too old
    _write(soh_dir / "s.json", [
        _row(1, 1, T0, bv=4.2), _row(1, 2, T0 + 300, bv=3.9), _row(2, 3, T0, bv=5.0),
    ])
    _write(sensor_dir / "r.json", [
        _row(1, 10, T0 + 360), _row(2, 11, T0 + 3600),
    ])

    def stream(d):
        return with_event_ts(spark.readStream.schema(ROW_SCHEMA).json(str(d)))

    joined = sensor_with_recent_soh(
        stream(sensor_dir).select("deviceid", "event_ts", "packetid"),
        stream(soh_dir).select("deviceid", "event_ts", "battery_voltage"),
    )
    q = (joined.writeStream.format("memory").queryName("ssj_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    rows = sorted(
        (r["s_device"], r["h_battery_voltage"], int(r["heartbeat_age_s"]))
        for r in spark.sql("SELECT * FROM ssj_out").collect()
    )
    assert rows == [(1, 3.9, 60), (1, 4.2, 360)]


def test_streaming_funnel_matches_batch_chain(spark, tmp_path):
    """The incremental funnel equals the batch min-timestamp chain when
    batches arrive in event-time order: strict after-previous-stage
    ordering, no rollback, per-user state = 3 timestamps."""
    from pyspark.sql.types import LongType

    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.streaming.stateful import (
        streaming_funnel,
    )

    ev_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts_s", IntegerType()),
            StructField("event_type", StringType()),
        ]
    )
    landing = tmp_path / "ev"
    landing.mkdir()

    def _ev(u, t, et):
        return {"user_id": u, "ts_s": T0 + t, "event_type": et}

    # batch 1: u1 view->click; u2 click (ignored: no view yet) then view;
    # u3 purchase (ignored) — batch 2: u1 purchase; u2 click+purchase
    # AFTER its view; u3 view only
    _write(landing / "b1.json", [
        _ev(1, 10, "view"), _ev(1, 20, "click"),
        _ev(2, 5, "click"), _ev(2, 8, "view"),
        _ev(3, 1, "purchase"),
    ])
    _write(landing / "b2.json", [
        _ev(1, 30, "purchase"),
        _ev(2, 9, "click"), _ev(2, 15, "purchase"),
        _ev(3, 2, "view"),
    ])
    stream = (
        spark.readStream.schema(ev_schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
        .withColumn("event_ts", F.timestamp_seconds(F.col("ts_s")))
    )
    q = (
        streaming_funnel(stream)
        .writeStream.format("memory")
        .queryName("funnel_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql(
        """SELECT user_id, max(stage) AS stage,
                  max(t1_us) AS t1, max(t2_us) AS t2, max(t3_us) AS t3
           FROM funnel_stream GROUP BY user_id"""
    ).collect()
    got = {r["user_id"]: (r["stage"], r["t1"], r["t2"], r["t3"]) for r in rows}
    us = lambda t: (T0 + t) * 1_000_000  # noqa: E731
    assert got[1] == (3, us(10), us(20), us(30))
    assert got[2] == (3, us(8), us(9), us(15))   # pre-view click ignored
    assert got[3] == (1, us(2), None, None)      # purchase-before-view ignored


def test_ewma_anomaly_stream_matches_batch_fragment(spark, tmp_path):
    """The streaming EWMA detector replays the batch x_ewma_anomaly
    fragment BIT-IDENTICALLY: residuals for the flagged rows equal the
    batch window computation exactly (no tolerance), state carries the
    ring across micro-batches, and quiet readings emit nothing."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans.tierk import (
        _EWMA_DEN,
        _EWMA_K,
        _EWMA_NUM,
    )
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.streaming.stateful import (
        ewma_anomaly_stream,
    )
    from pyspark.sql.window import Window

    # device 1: drifting baseline then a spike in batch 2 (state must
    # carry the ring across the file boundary); device 2: constant (quiet)
    b1 = [_row(1, i, T0 + i, bv=5.0 + 0.01 * i) for i in range(6)]
    b2 = [_row(1, 10, T0 + 10, bv=9.0), _row(1, 11, T0 + 11, bv=5.1)]
    quiet = [_row(2, 100 + i, T0 + i, bv=4.0) for i in range(8)]
    landing = tmp_path / "landing"
    landing.mkdir()
    _write(landing / "b1.json", b1 + quiet[:4])
    _write(landing / "b2.json", b2 + quiet[4:])

    out = _run(
        spark, landing,
        lambda s: ewma_anomaly_stream(s),
        "ewma_out",
    ).collect()

    # batch replay over the SAME rows with the registered fragment
    allrows = b1 + b2 + quiet
    bdf = spark.createDataFrame(
        [(r["deviceid"], r["date_time"], float(r["battery_voltage"]))
         for r in allrows],
        ["deviceid", "date_time", "value"],
    )
    w = Window.partitionBy("deviceid").orderBy("date_time")
    lagged = bdf.select(
        "deviceid", "date_time", "value",
        *[F.lag("value", j).over(w).alias(f"__lag{j}")
          for j in range(1, _EWMA_K + 1)],
    ).filter(F.col("__lag1").isNotNull())
    expected = {
        (r.deviceid, r.date_time): r.resid
        for r in lagged.select(
            "deviceid", "date_time",
            F.expr(f"value - ({_EWMA_NUM}) / ({_EWMA_DEN})").alias("resid"),
        ).collect()
        if abs(r.resid) >= 1.0
    }
    got = {(r.deviceid, r.date_time): r.resid for r in out}
    assert set(got) == set(expected)
    for k_ in got:
        assert got[k_] == expected[k_]  # exact float equality, no tolerance
    assert all(d == 1 for d, _ in got)  # the constant device stays quiet


def test_ewma_ttl_anchored_to_event_time_survives_watermark_jump(
    spark, tmp_path
):
    """Regression (round-8 review): the EWMA state TTL must anchor on the
    device's LAST EVENT TIME, not the current watermark.  The first
    batch's watermark is 0, so a watermark-anchored timeout (0 + ttl ≈
    1970+30d) fires for any device that skips ONE batch the moment the
    watermark jumps to real event time — wiping its ring and letting a
    later spike pass unflagged.  Here device 1 seeds its ring in batch 1,
    is silent in batch 2 (device 2 keeps the stream moving and the
    watermark jumping), and spikes in batch 3: the spike must be scored
    against the RETAINED ring."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.streaming.stateful import (
        ewma_anomaly_stream,
    )

    b1 = [_row(1, i, T0 + i, bv=5.0) for i in range(4)] + [
        _row(2, 100, T0, bv=4.0)
    ]
    b2 = [_row(2, 101, T0 + 1000, bv=4.0)]  # device 1 silent this batch
    b3 = [_row(1, 10, T0 + 2000, bv=9.0)]  # spike: resid 4.0 vs ring of 5.0
    landing = tmp_path / "landing"
    landing.mkdir()
    _write(landing / "b1.json", b1)
    _write(landing / "b2.json", b2)
    _write(landing / "b3.json", b3)
    # FileStreamSource orders batches by MODIFICATION TIME with no path
    # tie-break: three files written back-to-back tie and can run in any
    # order (observed b3,b1,b2).  Pin strictly increasing mtimes.
    import os as _os
    import time as _time

    now = _time.time()
    for i, f in enumerate(["b1.json", "b2.json", "b3.json"]):
        _os.utime(landing / f, (now + 10 * i, now + 10 * i))

    out = _run(
        spark, landing,
        lambda s: ewma_anomaly_stream(s),
        "ewma_ttl_out",
    ).collect()

    spike = [r for r in out if r.deviceid == 1 and r.date_time == T0 + 2000]
    assert len(spike) == 1, (
        "device 1's ring was evicted across the one-batch gap "
        f"(got rows: {sorted((r.deviceid, r.date_time) for r in out)})"
    )
    assert abs(spike[0].resid - 4.0) < 1e-9
