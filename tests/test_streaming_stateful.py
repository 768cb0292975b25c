"""Stateful streaming operators (SURVEY.md §2 streaming semantics):
watermarked dedup (C1), session windows (C6) and the
applyInPandasWithState battery-transition detector.

Each test streams two landing files as two micro-batches
(maxFilesPerTrigger=1) so state carries across batches and the second
batch's watermark can close windows opened by the first.
"""

from __future__ import annotations

import json

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
