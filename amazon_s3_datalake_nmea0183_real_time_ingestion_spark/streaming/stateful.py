"""Stateful Structured Streaming operators (SURVEY.md §2 "Streaming-only
semantics"; reference has NO stateful ops — its Lambda is stateless per
batch, hello.py:26-236 — so these are the C1/C6 streaming variants plus
the sanctioned custom-stateful escape hatch the north star mandates).

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


def streaming_windowed_counts(stream: DataFrame) -> DataFrame:
    """Tumbling-window per-key counts with late-data handling — the
    watermarked analog of the stage table's daily event-time partitions
    (cdk_datalake_mvp_stack.py:214: y/m/d ≈ 1-day tumbling buckets) and
    the per-batch class counters (A22, hello.py:56-58)."""
    return (
        stream.withWatermark("event_ts", "1 hour")
        .groupBy(F.window(F.col("event_ts"), "1 day"), F.col("msg_class"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            "msg_class",
            "n",
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


# ---------------------------------------------------------------------------
# streaming funnel — cross-batch incremental counterpart of plans/tierd.py
# q_funnel (same strict min-timestamp chain, state = 3 timestamps/user)
# ---------------------------------------------------------------------------

FUNNEL_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("stage", IntegerType()),  # furthest stage reached (1..3)
        StructField("t1_us", LongType()),
        StructField("t2_us", LongType()),
        StructField("t3_us", LongType()),
    ]
)

_FUNNEL_STATE = StructType(
    [
        StructField("t1", LongType()),
        StructField("t2", LongType()),
        StructField("t3", LongType()),
        # state-format version marker: v1 checkpoints (3-field struct, 0 as
        # the unset sentinel) FAIL Spark's state-schema compatibility check
        # against this 4-field struct instead of silently resuming with
        # (0,0,0) reinterpreted as "stage 1 at epoch 0"
        StructField("ver", IntegerType()),
    ]
)


def streaming_funnel(stream: DataFrame) -> DataFrame:
    """Incremental ordered funnel: the exact fold q_funnel's chained
    conditional-min windows compute over a static table, carried across
    micro-batches — per-user state is THREE timestamps (O(1), whale-user
    safe), and a user emits a row whenever their furthest stage advances.

    Equivalence contract (tested): feeding the same events through any
    batch split IN EVENT-TIME ORDER yields per-user (t1,t2,t3) identical
    to the batch key.  Rows arriving later than an already-consumed
    event-time can only MISS conversions the batch plan would count
    (the state never rolls back); that's the same late-data posture as
    battery_transitions' last_seen guard, bounded by the watermark.

    State format v2 (round 4): unset stages are NULL, not 0 — the 0
    sentinel made an event at exactly epoch 0 unrepresentable.  The
    state struct carries a ``ver`` field precisely so a v1 checkpoint
    (3-field struct) fails Spark's state-schema compatibility check
    LOUDLY on upgrade instead of silently reinterpreting v1's (0,0,0)
    "no progress" as "stage 1 at epoch 0" — on that error, restart from
    a fresh checkpoint (replay the landing data; admission is
    idempotent).

    Two independent layers enforce that guard: Spark's state-schema
    compatibility check (``spark.sql.streaming.stateStore.stateSchemaCheck``,
    default true) rejects the 3-field struct at query start, and — in
    case an operator has that check DISABLED, where a v1 checkpoint
    would resume with ``ver`` silently NULL — the fold itself asserts
    ``ver == 2`` on every read and raises on anything else.  The same
    assert is the branch point a future v3 migration would hook.
    """
    s1, s2, s3 = "view", "click", "purchase"

    def _fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # NULL (not 0) is the unset sentinel: an event at exactly epoch 0
        # must still be able to set state.
        if state.exists:
            t1, t2, t3, ver = state.get
            # in-fold version assert: catches a v1 checkpoint resumed with
            # stateSchemaCheck disabled (ver arrives NULL) — the guard must
            # not depend solely on engine config
            if ver != 2:
                raise ValueError(
                    f"funnel state version {ver!r} != 2: incompatible "
                    "checkpoint — restart from a fresh checkpoint and "
                    "replay the landing data"
                )
        else:
            t1, t2, t3 = None, None, None
        pdf = pd.concat(list(pdfs), ignore_index=True)
        # Total fold order: event-time, then event id when present — without
        # the tie-break, same-timestamp rows fold in arrival order.
        order = ["event_ts"] + (["event_id"] if "event_id" in pdf.columns else [])
        pdf = pdf.sort_values(order, kind="mergesort")
        before = (t1, t2, t3)
        for row in pdf.itertuples(index=False):
            ts_us = int(row.event_ts.value // 1000)  # ns -> us
            et = row.event_type
            if et == s1 and t1 is None:
                t1 = ts_us
            elif et == s2 and t1 is not None and t2 is None and ts_us > t1:
                t2 = ts_us
            elif et == s3 and t2 is not None and t3 is None and ts_us > t2:
                t3 = ts_us
        state.update((t1, t2, t3, 2))
        if (t1, t2, t3) != before:
            stage = 3 if t3 is not None else (2 if t2 is not None else 1)
            yield pd.DataFrame(
                [(int(key[0]), stage, t1, t2, t3)],
                columns=["user_id", "stage", "t1_us", "t2_us", "t3_us"],
            )

    return (
        stream.withWatermark("event_ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            _fold,
            outputStructType=FUNNEL_SCHEMA,
            stateStructType=_FUNNEL_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# EWMA anomaly detector — the streaming twin of plans/tierk.x_ewma_anomaly
# ---------------------------------------------------------------------------

_EWMA_OUT_SCHEMA = StructType(
    [
        StructField("deviceid", IntegerType()),
        StructField("date_time", LongType()),
        StructField("value", DoubleType()),
        StructField("ewma", DoubleType()),
        StructField("resid", DoubleType()),
    ]
)
# state: most-recent-first ring of the last k values + late-row fence
from pyspark.sql.types import ArrayType  # noqa: E402  (module convention)

_EWMA_STATE_SCHEMA = StructType(
    [
        StructField("hist", ArrayType(DoubleType())),
        StructField("last_seen", LongType()),
    ]
)


def ewma_anomaly_stream(stream: DataFrame) -> DataFrame:
    """Per-device EWMA control chart over the stream (Roberts '59) — the
    streaming twin of the batch `x_ewma_anomaly` key: residual of each
    ``battery_voltage`` against the renormalized EWMA (beta 0.7) of the
    device's previous 8 values, emitting rows whose |residual| ≥ 1.0.  The
    batch key ranks a global top-50; a stream has no global rank, so the
    streaming contract is threshold-triggered alerts (the alert-sink
    shape of battery_transitions).

    The residual arithmetic REPLAYS the batch fragment bit-identically:
    the history ring is most-recent-first, weights beta^j accumulate in
    the same left-to-right order as the generated ``_EWMA_NUM`` /
    ``_EWMA_DEN`` expressions, and IEEE 754 does the rest — the
    equivalence test asserts EXACT float equality against the batch
    window computation, not a tolerance.

    Scale: state is an O(k) ring + one fence per device, keyed by the
    same partitioning the groupBy already shuffles on; micro-batches
    move only new rows.  Late rows behind the fence are skipped (the
    battery_transitions convention).  The watermark only drops late
    INPUT — it does not evict state — so retention is bounded by an
    EventTimeTimeout: a device silent for 30 days past the
    watermark has its ring+fence removed (the r7 ADVICE finding; without
    it state grew with the all-time device count).  A re-appearing
    device simply reseeds — the fence resets with the ring, so no stale
    fence can drop its first new reading.
    """
    kk = 8
    b = 0.7
    ttl = 30 * 24 * 3600 * 1000

    def _score(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # idle past TTL: drop the ring and fence; nothing to emit
            state.remove()
            return
        hist, last_seen = state.get if state.exists else ([], 0)
        hist = list(hist)
        out_rows = []
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values("date_time")
        for row in pdf.itertuples(index=False):
            dt = int(row.date_time)
            if dt < int(last_seen):
                continue
            v = float(row.battery_voltage)
            if hist:
                num = 0.0
                den = 0.0
                for j, h in enumerate(hist):
                    w = b ** j
                    num = num + h * w
                    den = den + w
                ewma = num / den
                resid = v - ewma
                if abs(resid) >= 1.0:
                    out_rows.append((key[0], dt, v, ewma, resid))
            hist = [v] + hist[: kk - 1]
            last_seen = dt
        state.update((hist, int(last_seen)))
        # Evict when the device has been idle for TTL of EVENT time.  The
        # anchor is the device's own last event time (date_time is epoch
        # seconds), NOT the current watermark: the first batch's watermark
        # is 0, so a watermark-anchored timeout (0 + ttl ≈ 1970+30d) would
        # fire for every one-batch-idle device the moment the watermark
        # jumps to real event time.  Floored at the watermark because
        # EventTimeTimeout requires a timestamp strictly ahead of it
        # (a device whose last reading is already behind the watermark
        # still gets its full TTL measured from "now" in event time).
        anchor = max(int(last_seen) * 1000, state.getCurrentWatermarkMs())
        state.setTimeoutTimestamp(anchor + ttl)
        if out_rows:
            yield pd.DataFrame(
                out_rows,
                columns=["deviceid", "date_time", "value", "ewma", "resid"],
            )

    return (
        stream.withWatermark("event_ts", "1 hour")
        .groupBy("deviceid")
        .applyInPandasWithState(
            _score,
            outputStructType=_EWMA_OUT_SCHEMA,
            stateStructType=_EWMA_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
