"""Stateful Structured Streaming operators (SURVEY.md §2 "Streaming-only
semantics"; reference has NO stateful ops — its Lambda is stateless per
batch, hello.py:26-236).  SURVEY.md's stateful-ops row (line 448) names
streaming dedup (C1) as the only stateful op the mapping needs; this
module holds it, the C6 session-window variant, and the edge-triggered
battery alert detector (A14's alert rule carried across micro-batches).

All operators take an UNBOUNDED DataFrame (``spark.readStream``) and
return a transformed unbounded DataFrame; the caller attaches the sink.
Each needs an event-time ``TimestampType`` column — for stage rows that
is ``to_timestamp(from_unixtime(date_time))`` (the reference keeps
``date_time`` as int epoch-seconds, cdk_datalake_mvp_stack.py:466-468).

Scale notes (100 TB / 1000 executors): every operator here shuffles
exactly once on its grouping key; state lives in the executor state
store keyed by that same partitioning, so micro-batches only shuffle
NEW rows, never the state. Watermarks bound state size — without them
streaming dedup/session state grows forever.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def with_event_ts(df: DataFrame) -> DataFrame:
    """Derive the TimestampType event-time column from the reference's
    int epoch-seconds ``date_time`` (kept int at rest for fidelity)."""
    return df.withColumn("event_ts", F.to_timestamp(F.from_unixtime(F.col("date_time"))))


def streaming_dedup(stream: DataFrame, keys: list[str]) -> DataFrame:
    """C1 streaming: drop duplicate heartbeats (retried satellite
    downlinks) within a watermark.

    ``dropDuplicatesWithinWatermark`` keeps state only 10 minutes past the
    watermark, so state is bounded by (keys seen in the last 10 minutes) —
    the batch analog is ``exact_dedup`` (operators/dedup.py).
    """
    return stream.withWatermark("event_ts", "10 minutes").dropDuplicatesWithinWatermark(keys)


def streaming_sessions(stream: DataFrame) -> DataFrame:
    """C6 streaming: gap-based sessions via ``session_window`` — the
    streaming analog of ``operators.sessionize.gap_sessions`` (same
    30-minute gap). Emits one row per closed session once the
    watermark passes the session end."""
    return (
        stream.withWatermark("event_ts", "10 minutes")
        .groupBy(F.col("deviceid"), F.session_window(F.col("event_ts"), "30 minutes"))
        .agg(
            F.count("*").alias("n_events"),
            (
                F.unix_micros(F.max("event_ts")) - F.unix_micros(F.min("event_ts"))
            ).cast("bigint").alias("active_s"),
        )
        .select(
            F.col("deviceid"),
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            (F.col("active_s") / 1_000_000).cast("bigint").alias("duration_s"),
        )
    )


# ---------------------------------------------------------------------------
# Custom stateful operator: battery-health transition detector
# (applyInPandasWithState — the escape hatch for semantics session_window /
#  dropDuplicates can't express; mirrors the reference's latent alerting
#  purpose, hello.py:112-116,181-192, as edge-triggered instead of
#  level-triggered: alert once per crossing, not once per heartbeat.)
# ---------------------------------------------------------------------------

TRANSITION_SCHEMA = StructType(
    [
        StructField("deviceid", IntegerType()),
        StructField("date_time", IntegerType()),
        StructField("battery_voltage", DoubleType()),
        StructField("transition", StringType()),  # 'enter_low' | 'exit_low'
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("was_low", BooleanType()),
        StructField("last_seen", LongType()),
    ]
)


def battery_transitions(stream: DataFrame) -> DataFrame:
    """Edge-triggered low-battery detector: one output row per device per
    4.0 V threshold CROSSING (enter_low / exit_low), with the low/high flag
    carried across micro-batches in the state store.

    Rows inside one batch are processed in event order per device; the
    carried state is just (was_low, last_seen) — O(1) per device.
    """
    thr = 4.0

    def _detect(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        was_low, last_seen = state.get if state.exists else (None, 0)
        out_rows = []
        # One group's batch rows arrive as MULTIPLE Arrow chunks; sorting
        # per-chunk would process chunk 2's earlier timestamps after chunk
        # 1's later ones and drop them via the late-row guard. Concatenate
        # first, sort once (group state is O(1); the concat is bounded by
        # one device's rows in one micro-batch).
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values("date_time")
        for row in pdf.itertuples(index=False):
            if int(row.date_time) < int(last_seen):
                continue  # late duplicate of already-processed span
            is_low = bool(row.battery_voltage < thr)
            if was_low is None:
                if is_low:  # first observation already low → edge
                    out_rows.append(
                        (key[0], int(row.date_time),
                         float(row.battery_voltage), "enter_low")
                    )
            elif is_low != was_low:
                out_rows.append(
                    (key[0], int(row.date_time), float(row.battery_voltage),
                     "enter_low" if is_low else "exit_low")
                )
            was_low = is_low
            last_seen = int(row.date_time)
        state.update((bool(was_low) if was_low is not None else False, last_seen))
        if out_rows:
            yield pd.DataFrame(
                out_rows,
                columns=["deviceid", "date_time", "battery_voltage", "transition"],
            )

    return (
        stream.withWatermark("event_ts", "1 hour")
        .groupBy("deviceid")
        .applyInPandasWithState(
            _detect,
            outputStructType=TRANSITION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
