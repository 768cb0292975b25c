"""Catalog/table maintenance jobs (SURVEY.md §2 A20; reference: the nightly
Glue crawler, cdk_datalake_mvp_stack.py:320-335).

The crawler runs with ``update_behavior: LOG, delete_behavior: LOG`` —
schema drift is DETECTED and reported, never applied; the declared schema
stays authoritative (SURVEY.md §1.3). ``schema_drift_report`` reproduces
exactly that contract. ``compact_partition`` is the at-rest analog of the
Firehose 64 MB buffer intent: rewrite a partition's many small files into
few large ones (BASELINE.md "output file sizing").

``pipeline_maintenance`` is the crawler pass: it reads the stage zone
once, logs drift from that read's schema and hands one stored
projection of it to every stage monitor (``stage_quality_report``,
``drift_psi_report`` and the ``*_monitor_report`` functions), each of
which takes the stage frame as its first argument.  Each statistic a
monitor reports has one implementation, in ``operators/stats.py``,
shared with the registered key it mirrors: a monitor applies its own
NULL screen, builds its recent-vs-history split (``_epoch_day`` days,
``_recent_window_flag``), calls the core and collects its row(s) into
a plain dict.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.stats import (
    AUC,
    MW_Z,
    benford,
    cusum,
    diff_in_diff,
    gini,
    kaplan_meier,
    ks_test,
    mase,
    rank_sum,
    smoothed_kl,
    smoothed_psi,
    sprt,
)
from ..storage import release_scope, stored

# the recent-vs-history monitors compare the last RECENT_DAYS epoch-days
# with everything before them
RECENT_DAYS = 7
Z_CRIT = 1.959964  # two-sided 5 %
# the stage columns the monitors read: pipeline_maintenance stores this
# projection of its one stage read and hands it to every monitor
MONITOR_COLUMNS = (
    "deviceid", "packetid", "date_time", "battery_voltage",
    "solar_panel_voltage", "no_messages_sent_since_last_power_cycle",
)


def schema_drift_report(observed: StructType, declared: StructType) -> list[tuple]:
    """Diff the OBSERVED schema (what the files hold) against the
    DECLARED schema — report, don't apply (crawler LOG behavior).

    Returns one ``(column, declared_type, observed_type, status)`` tuple
    per column of the union, sorted by column, with status in ``ok |
    type_changed | added | missing`` (added = in files only; missing =
    declared only).
    """
    dec = {f.name.lower(): f.dataType.simpleString() for f in declared.fields}
    obs = {f.name.lower(): f.dataType.simpleString() for f in observed.fields}
    rows = []
    for name in sorted(dec.keys() | obs.keys()):
        d, o = dec.get(name), obs.get(name)
        if d is None:
            status = "added"
        elif o is None:
            status = "missing"
        elif d != o:
            status = "type_changed"
        else:
            status = "ok"
        rows.append((name, d, o, status))
    return rows


def compact_partition(spark: SparkSession, table_path: str, partition_expr: str) -> int:
    """Rewrite one Hive partition's files into one file (small-file
    compaction; the 64 MB Firehose buffering intent applied
    retroactively). Returns the number of rows rewritten.

    The rewrite is staged under ``{table_path}/_compact_tmp/``: partition
    discovery skips ``_``-prefixed directories, so a reader of the table
    during compaction (or after a crash before the swap) never sees the
    staged copy as a second partition.  A delete or rename the file
    system refuses raises instead of reporting success.

    Scale note: compaction is per-partition (`partition_expr` like
    ``year=2023/month=11/day=14``), so a fleet of compaction tasks
    parallelizes across partitions with no shuffle — each task is a
    coalesce-rewrite of one directory.
    """
    part_dir = f"{table_path}/{partition_expr}"
    df = spark.read.parquet(part_dir)
    n = df.count()
    tmp = f"{table_path}/_compact_tmp/{partition_expr}"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    # atomic-ish swap through the Hadoop FS API (works for local + HDFS/S3A)
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI.create(table_path), conf
    )
    src = jvm.org.apache.hadoop.fs.Path(tmp)
    dst = jvm.org.apache.hadoop.fs.Path(part_dir)
    if not fs.delete(dst, True):
        raise RuntimeError(f"compaction could not delete {part_dir}; rewrite left at {tmp}")
    if not fs.rename(src, dst):
        raise RuntimeError(f"compaction could not move {tmp} to {part_dir}")
    return n


def refresh_rollup(spark: SparkSession, stage_path: str, rollup_path: str,
                   touched_keys: list[tuple]) -> int:
    """Continuous-aggregate maintenance (the hypertable-rollup analog):
    keep a materialized daily-per-device rollup of ``stage`` fresh by
    recomputing ONLY the event-day partitions a micro-batch touched.

    Partition-level incremental view maintenance: the rollup is a pure
    function of stage, so recomputing touched (year, month, day)
    partitions from the source of truth is idempotent under batch replay
    — no partial-aggregate merge state to corrupt (replaying a batch
    recomputes the same partitions to the same values; contrast a
    delta-merge scheme, where replay double-counts unless gated).
    Dynamic partition overwrite rewrites exactly the touched directories
    and leaves every other partition's files untouched.

    At 100 TB: a micro-batch touches a handful of event days (late data
    included — SURVEY.md §7.4.5), so each refresh scans only those
    partitions of stage (partition pruning on the y/m/d filter), not the
    table; the rollup write shuffles once on its group keys.

    ``touched_keys``: [(year, month, day), ...] — int partition values.
    Returns the number of rollup rows (re)written.
    """
    from functools import reduce

    from pyspark.sql import functions as F

    if not touched_keys:
        return 0
    pred = reduce(
        lambda a, b: a | b,
        [
            (F.col("year") == y) & (F.col("month") == m) & (F.col("day") == d)
            for (y, m, d) in touched_keys
        ],
    )
    agg = (
        spark.read.parquet(stage_path)
        .filter(pred)
        .groupBy("deviceid", "year", "month", "day")
        .agg(
            F.count("*").alias("n_heartbeats"),
            F.round(F.avg("battery_voltage"), 4).alias("avg_battery_voltage"),
            F.round(F.avg("solar_panel_voltage"), 4).alias("avg_solar_voltage"),
            F.min("date_time").alias("first_seen"),
            F.max("date_time").alias("last_seen"),
        )
    )
    n = agg.count()
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            agg.repartition("year", "month", "day")
            .write.mode("overwrite")
            .partitionBy("year", "month", "day")
            .parquet(rollup_path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return n


DRIFT_DEFAULT_COLUMNS: dict[str, str] = {
    # 1-volt bins: wide enough to be stable per-batch, narrow enough that a
    # fleet-wide voltage regression moves mass across bins
    "battery_voltage": "CAST(floor(battery_voltage) AS STRING)",
    # categorical: the device-mix profile (a fleet segment going silent or
    # a new fleet joining shifts this before any value column moves)
    "deviceid": "CAST(deviceid AS STRING)",
}


def _drift_counts(df: DataFrame, columns: dict[str, str]) -> DataFrame:
    """(column, bucket, n) counts for every monitored column in ONE job —
    the per-column bucket maps are unioned before the single groupBy, so
    the profile costs one scan + one tiny shuffle regardless of how many
    dimensions are monitored (same economics as stage_quality_report)."""
    parts = [
        df.select(
            F.lit(col).alias("column"),
            F.coalesce(F.expr(expr), F.lit("__null__")).alias("bucket"),
        )
        for col, expr in columns.items()
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.groupBy("column", "bucket").agg(F.count("*").alias("n"))


def drift_psi_report(stage: DataFrame, profile_path: str) -> dict:
    """Population-stability-index drift of the stage zone against a
    PERSISTED reference profile, per monitored column (bucket
    expressions in ``DRIFT_DEFAULT_COLUMNS``).

    First call (no profile at ``profile_path``): the current bucket
    profile is written as the reference and the report says
    ``bootstrapped``; delete the profile to re-bootstrap.  Every later
    call scores the current profile against it, smoothing over the
    observed bucket count; ``drifted`` reads psi > 0.2.

    Returns ``{"bootstrapped": bool, "columns": {col: {"psi": float,
    "drifted": bool, "n_ref": int, "n_cur": int}}}``.
    Core: ``operators/stats.py::smoothed_psi`` (also ``x_drift_psi``).
    """
    import os as _os

    cur = _drift_counts(stage, DRIFT_DEFAULT_COLUMNS)
    if not _os.path.isdir(profile_path):
        cur.write.mode("overwrite").parquet(profile_path)
        return {"bootstrapped": True, "columns": {}}
    ref = stage.sparkSession.read.parquet(profile_path).select(
        "column", "bucket", F.col("n").alias("n_ref")
    )
    joined = (
        ref.join(
            cur.select("column", "bucket", F.col("n").alias("n_cur")),
            ["column", "bucket"],
            "full_outer",
        )
        .fillna(0, ["n_ref", "n_cur"])
    )
    tot = joined.groupBy("column").agg(
        F.sum("n_ref").alias("t_ref"),
        F.sum("n_cur").alias("t_cur"),
        F.count("*").alias("k"),
    )
    scored = smoothed_psi(
        # one row per monitored column; estimated from the stage scan
        joined.join(F.broadcast(tot), "column"), "column", F.col("k")
    ).collect()  # control-plane: one row per monitored column
    return {
        "bootstrapped": False,
        "columns": {
            r["column"]: {
                "psi": round(float(r["psi_raw"]), 6),
                "drifted": bool(r["psi_raw"] > 0.2),
                "n_ref": int(r["t_ref"]),
                "n_cur": int(r["t_cur"]),
            }
            for r in scored
        },
    }


def _epoch_day() -> Column:
    """UTC epoch-day bucket of ``date_time`` (floor(epoch/86400)) — a
    pure integer with NO session-timezone dependency (to_date/
    from_unixtime renders in the session TZ, so the same stage data
    produced different day boundaries per deployment TZ — the r8 ADVICE
    lesson).  ONE definition so every
    monitor in this module shares identical day boundaries."""
    return F.floor(F.col("date_time").cast("bigint") / F.lit(86400)).cast("bigint")


def _recent_window_flag(v: DataFrame, flag: str) -> DataFrame:
    """Tag each row of ``v`` (which carries a ``day`` epoch-day column)
    with 1 = in the last ``RECENT_DAYS`` days of the observed range,
    0 = baseline: one 1-row max-day aggregate broadcast-crossJoined in.
    ONE definition so every recent-vs-history monitor shares identical
    window boundaries — the ``_epoch_day`` precedent: a future
    cutoff-semantics fix must have exactly one place to land."""
    mx = v.agg(F.max("day").alias("max_day"))
    return (
        v.crossJoin(mx)
        .withColumn(
            flag,
            (F.col("day") > F.col("max_day") - F.lit(RECENT_DAYS)).cast("int"),
        )
        .drop("max_day")
    )


def timeseries_monitor_report(stage: DataFrame) -> dict:
    """Per-device CUSUM (a sustained upward shift of the daily mean of
    ``battery_voltage``) and seasonal-naive MASE (is the daily total still
    forecastable) over UTC epoch-day series.

    Returns ``{key: {"n_days": int, "cusum_alarms": int,
    "alarm_latest": bool, "cusum_max": float | None, "mase": float |
    None, "mase_n_scored": int}}``.  ``mase`` is None until a device
    has more than 7 days, or when the naive MAE is 0.  A
    NULL-key row belongs to no device.
    Cores: ``operators/stats.py::cusum`` and ``::mase`` (also
    ``x_cusum_changepoint`` and ``x_forecast_mase``).
    """
    df = stage.filter(
        F.col("battery_voltage").isNotNull() & F.col("deviceid").isNotNull()
    )
    d = df.groupBy(
        F.col("deviceid").alias("k"), _epoch_day().alias("day")
    ).agg(F.avg("battery_voltage").alias("x"), F.sum("battery_voltage").alias("tot"))
    c = cusum(d, "k").groupBy("k").agg(
        F.count("*").alias("n_days"),
        F.sum(F.coalesce(F.col("alarm"), F.lit(0))).alias("cusum_alarms"),
        F.max_by("alarm", "day").alias("alarm_latest"),
        F.max("cusum").alias("cusum_max"),
    )
    rows = c.join(mase(d, "k", "tot"), "k").collect()  # one per device
    return {
        r["k"]: {
            "n_days": int(r["n_days"]),
            "cusum_alarms": int(r["cusum_alarms"]),
            "alarm_latest": bool(r["alarm_latest"]),
            "cusum_max": (
                None if r["cusum_max"] is None
                else round(float(r["cusum_max"]), 6)
            ),
            "mase": None if r["mase"] is None else round(float(r["mase"]), 6),
            "mase_n_scored": int(r["n_scored"]),
        }
        for r in rows
    }


def sprt_monitor_report(stage: DataFrame) -> dict:
    """Wald SPRT of H1: P(``battery_voltage < 11.0``) = 0.22 against H0: = 0.18
    (α = β = 0.05)
    over the daily fleet rollup, replayed over the append-only stage
    zone each pass, so the sticky first-crossing verdict can never
    un-happen.  A row whose predicate is NULL is a trial, not a success.

    Returns ``{"n_days": int, "cum_n": int, "cum_k": int, "llr": float,
    "decision": "continue"|"reject_h0"|"accept_h0",
    "decided_day": int | None}``.
    Core: ``operators/stats.py::sprt`` (also ``x_sprt``).
    """
    # a NULL-timestamp row has no day: unscreened it would form a NULL day
    # that the running sum orders first, adding a day and its trials
    df = stage.filter(F.col("date_time").isNotNull())
    d = df.groupBy(_epoch_day().alias("day")).agg(
        F.count("*").alias("n"),
        # coalesce per row so an all-NULL day yields k = 0, not a NULL
        # that poisons the cumulative LLR
        F.sum(
            F.coalesce(F.expr("battery_voltage < 11.0").cast("int"), F.lit(0))
        ).alias("k"),
    )
    rows = (
        sprt(d, 0.18, 0.22, 0.05, 0.05)
        .orderBy(F.col("day").desc())
        .limit(1)
        .collect()
    )
    if not rows:
        return {
            "n_days": 0, "cum_n": 0, "cum_k": 0, "llr": 0.0,
            "decision": "continue", "decided_day": None,
        }
    r = rows[0]
    return {
        "n_days": int(r["n_days"]),
        "cum_n": int(r["cum_n"]),
        "cum_k": int(r["cum_k"]),
        "llr": round(float(r["llr"]), 6),
        "decision": r["decision"],
        "decided_day": (
            None if r["decided_day"] is None else int(r["decided_day"])
        ),
    }


def mann_whitney_monitor_report(stage: DataFrame) -> dict:
    """Mann–Whitney rank-sum shift of ``battery_voltage``: the last
    ``RECENT_DAYS`` UTC epoch-days against all prior history ("did the
    distribution shift this week", with no mean/variance assumption).

    Returns ``{"n_recent": int, "n_baseline": int, "u_recent": float,
    "z": float | None, "shifted": bool, "direction": "up" | "down" |
    None}``.  ``shifted`` reads the 4-dp z against ``Z_CRIT``; "up" =
    recent values stochastically larger.  An empty window or a
    zero-variance pool reads z None.
    Core: ``operators/stats.py::rank_sum`` + ``MW_Z`` (also
    ``x_mann_whitney``).
    """
    # a NULL-timestamp row belongs to neither window: unscreened it would
    # land in the baseline and shift every later cumulative rank
    df = stage.filter(
        F.col("battery_voltage").isNotNull() & F.col("date_time").isNotNull()
    )
    v = df.select(F.col("battery_voltage").alias("val"), _epoch_day().alias("day"))
    row = rank_sum(
        _recent_window_flag(v, "is_recent"), [], "val", "is_recent"
    ).selectExpr(
        "n_a", "n_b", "CAST(u2a AS DOUBLE) / 2.0 AS u_a", f"round({MW_Z}, 4) AS z"
    ).first()  # control-plane: one row
    if row["n_a"] is None:
        return {"n_recent": 0, "n_baseline": 0, "u_recent": 0.0,
                "z": None, "shifted": False, "direction": None}
    n_a, n_b = int(row["n_a"]), int(row["n_b"])
    z = None if row["z"] is None else float(row["z"])
    if n_a == 0 or n_b == 0:
        z = None
    shifted = z is not None and abs(z) > Z_CRIT
    direction = None
    if shifted:
        direction = "up" if z > 0 else "down"
    return {
        "n_recent": n_a,
        "n_baseline": n_b,
        "u_recent": float(row["u_a"]) if row["u_a"] is not None else 0.0,
        "z": z,
        "shifted": shifted,
        "direction": direction,
    }


def ks_monitor_report(stage: DataFrame) -> dict:
    """Exact two-sample Kolmogorov–Smirnov drift of ``battery_voltage``:
    the last ``RECENT_DAYS`` UTC epoch-days against all prior history at
    α = 0.05.  The
    binless gate: it sees any shape change (a variance blow-up, a new
    mode) that leaves the median, the mean and every PSI bin untouched.
    ``reject`` compares the unrounded D and critical value.

    Returns ``{"n_recent": int, "n_baseline": int, "ks_d": float | None,
    "crit": float | None, "reject": bool, "at_value": float | None}``.
    An empty stage, or a store younger than the window (no baseline),
    reads ks_d/crit/at_value None and never fires.
    Core: ``operators/stats.py::ks_test`` (also ``x_ks_test``).
    """
    df = stage.filter(
        F.col("battery_voltage").isNotNull() & F.col("date_time").isNotNull()
    )
    v = df.select(F.col("battery_voltage").alias("val"), _epoch_day().alias("day"))
    samples = _recent_window_flag(v, "is_recent").select(
        "val",
        F.col("is_recent").alias("c1"),
        (1 - F.col("is_recent")).alias("c2"),
    )
    r = ks_test(samples, "val", 1.3581015157406195).first()  # control-plane: one row
    silent = {"n_recent": 0, "n_baseline": 0, "ks_d": None, "crit": None,
              "reject": False, "at_value": None}
    if r["n1"] is None:
        return silent
    n1, n2 = int(r["n1"]), int(r["n2"])
    if n1 == 0 or n2 == 0:  # no baseline yet (store younger than window)
        silent["n_recent"], silent["n_baseline"] = n1, n2
        return silent
    return {
        "n_recent": n1,
        "n_baseline": n2,
        "ks_d": round(float(r["ks_d"]), 6),
        "crit": round(float(r["crit"]), 6),
        "reject": bool(r["reject"]),
        "at_value": float(r["at_value"]),
    }


def did_monitor_report(stage: DataFrame, split_day: int | None = None) -> dict:
    """2×2 difference-in-differences of ``battery_voltage`` for a rollout
    that hit part of the fleet (``deviceid % 2 = 1``) at UTC epoch-day
    ``split_day`` (None: the midpoint of the observed range): the
    rollout's effect net of whatever moved the whole fleet.

    Returns ``{"cells": {"treat_post"|"treat_pre"|"ctrl_post"|
    "ctrl_pre": {"n": int, "mean": float | None}}, "split_day": int,
    "did": float | None, "se": float | None, "z": float | None,
    "significant": bool}``; did/se/z stay None until every cell holds
    at least two rows, and ``significant`` reads the 4-dp z.
    Core: ``operators/stats.py::diff_in_diff`` (also ``x_diff_in_diff``).
    """
    # a row whose timestamp or treat predicate is NULL belongs to no cell
    df = stage.filter(
        F.col("battery_voltage").isNotNull() & F.col("date_time").isNotNull()
    )
    e = df.select(
        F.expr("deviceid % 2 = 1").cast("int").alias("treat"),
        F.col("battery_voltage").alias("val"),
        _epoch_day().alias("day"),
    ).filter(F.col("treat").isNotNull())
    if split_day is None:
        sp = e.agg(
            (
                F.min("day")
                + F.floor((F.max("day") - F.min("day")) / F.lit(2.0)).cast(
                    "bigint"
                )
            ).alias("split_d")
        )
    else:
        sp = stage.sparkSession.range(1).select(
            F.lit(int(split_day)).cast("bigint").alias("split_d")
        )
    cells = e.crossJoin(sp).select(
        "treat", (F.col("day") >= F.col("split_d")).cast("int").alias("post"), "val"
    )
    r = diff_in_diff(cells).crossJoin(sp).first()  # control-plane: one row
    names = {"treat_post": "11", "treat_pre": "10",
             "ctrl_post": "01", "ctrl_pre": "00"}
    result = {
        "cells": {
            name: {
                "n": int(r[f"n{s}"] or 0),
                "mean": None if r[f"m{s}"] is None else round(float(r[f"m{s}"]), 4),
            }
            for name, s in names.items()
        },
        "split_day": 0 if r["split_d"] is None else int(r["split_d"]),
        "did": None, "se": None, "z": None, "significant": False,
    }
    if r["se"] is not None:
        result["did"] = round(float(r["did"]), 4)
        result["se"] = round(float(r["se"]), 4)
        if r["z"] is not None:
            result["z"] = round(float(r["z"]), 4)
            result["significant"] = abs(result["z"]) > Z_CRIT
    return result


def survival_monitor_report(stage: DataFrame) -> dict:
    """Kaplan–Meier device survival: per device, time from its first
    reading to its first low-battery (``battery_voltage < 11.0``) reading
    in 7-day buckets, RIGHT-CENSORED
    at its last reading when the event never fired.

    Returns ``{"n_devices": int, "n_events": int, "n_censored": int,
    "median_survival_days": int | None, "km_curve": [{"t": int,
    "n_risk": int, "d": int, "c": int, "km": float}, ...]}``.
    ``median_survival_days`` is the start day (t·7) of the
    first bucket where Ŝ(t) ≤ 0.5.  NULL-timestamp / NULL-device rows
    belong to no lifetime; a NULL voltage is not an event.
    Core: ``operators/stats.py::kaplan_meier`` (also ``x_survival``).
    """
    df = stage.filter(
        F.col("date_time").isNotNull() & F.col("deviceid").isNotNull()
    )
    day = _epoch_day()
    per_dev = (
        df.select(
            F.col("deviceid").alias("dev"),
            day.alias("day"),
            F.when(F.expr("battery_voltage < 11.0"), day).alias("event_day"),
        )
        .groupBy("dev")
        .agg(
            F.min("day").alias("first_day"),
            F.max("day").alias("last_day"),
            F.min("event_day").alias("event_day"),
        )
    )
    life = per_dev.select(
        F.floor(
            (F.coalesce(F.col("event_day"), F.col("last_day")) - F.col("first_day"))
            / F.lit(7.0)
        )
        .cast("int")
        .alias("t"),
        F.col("event_day").isNotNull().cast("int").alias("event"),
    )
    curve = [
        {"t": int(r["t"]), "n_risk": int(r["n_risk"]), "d": int(r["d"]),
         "c": int(r["c"]), "km": float(r["km"])}
        # control-plane: calendar-bounded bucket table
        for r in kaplan_meier(life).orderBy("t").collect()
    ]
    return {
        "n_devices": sum(p["d"] + p["c"] for p in curve),
        "n_events": sum(p["d"] for p in curve),
        "n_censored": sum(p["c"] for p in curve),
        "median_survival_days": next(
            (p["t"] * 7 for p in curve if p["km"] <= 0.5), None
        ),
        "km_curve": curve,
    }


def auc_monitor_report(stage: DataFrame) -> dict:
    """Does a fixed scorer (``solar_panel_voltage``, pinned at 6 dp) still
    rank-discriminate a binary outcome (``battery_voltage < 10.0``)?
    Exact ROC AUC for the last ``RECENT_DAYS`` UTC epoch-days and for all prior
    history.  Drift is judged on discrimination |2·AUC − 1|, which does
    not depend on the scorer's sign convention: ``degraded`` fires when
    the recent discrimination fell more than 0.1 below
    baseline.

    Returns ``{"n_recent": int, "n_baseline": int, "auc_recent":
    float | None, "auc_baseline": float | None,
    "delta_discrimination": float | None, "degraded": bool}``.  A window
    with no rows or one label class reads auc None and never fires.
    Core: ``operators/stats.py::rank_sum`` + ``AUC`` (also ``x_auc``).
    """
    score = F.expr("solar_panel_voltage")
    label = F.expr("battery_voltage < 10.0")
    # NULL score/label/ts rows belong to no window and no rank
    v = stage.filter(
        score.isNotNull() & label.isNotNull() & F.col("date_time").isNotNull()
    ).select(
        F.round(score, 6).alias("score_r"),
        label.cast("int").alias("label"),
        _epoch_day().alias("day"),
    )
    cells = rank_sum(
        _recent_window_flag(v, "win"), ["win"], "score_r", "label"
    ).selectExpr(
        "win", "CAST(nn AS BIGINT) AS n", f"round({AUC}, 6) AS auc"
    ).collect()  # control-plane: <= 2 rows (recent / baseline)
    by_win = {int(row["win"]): row for row in cells}
    rec, base = by_win.get(1), by_win.get(0)
    n_recent = int(rec["n"]) if rec else 0
    n_baseline = int(base["n"]) if base else 0
    auc_recent = float(rec["auc"]) if rec and rec["auc"] is not None else None
    auc_baseline = (
        float(base["auc"]) if base and base["auc"] is not None else None
    )
    delta = None
    if auc_recent is not None and auc_baseline is not None:
        delta = round(
            abs(2.0 * auc_recent - 1.0) - abs(2.0 * auc_baseline - 1.0), 6
        )
    return {
        "n_recent": n_recent,
        "n_baseline": n_baseline,
        "auc_recent": auc_recent,
        "auc_baseline": auc_baseline,
        "delta_discrimination": delta,
        "degraded": delta is not None and delta < -0.1,
    }


def benford_monitor_report(stage: DataFrame) -> dict:
    """Benford first-digit gate on a naturally multiplicative counter
    (``no_messages_sent_since_last_power_cycle``): a firmware bug that
    clamps, fabricates or truncates it drifts from the log-law.  The verdict is Nigrini's MAD of the
    nine digit proportions (scale-free; chi-square, reported, grows with
    N): close ≤ 0.006 < acceptable ≤ 0.012 < marginal ≤ 0.015 <
    nonconforming, and ``conforming`` = MAD ≤ 0.015.  Fewer than
    100 usable rows → MAD and verdict None.

    Returns ``{"n_total": int, "digits": {d: {"n", "expected_r",
    "chi_r"}}, "chi_total": float, "mad": float | None,
    "mad_verdict": str | None, "conforming": bool | None}``.
    Core: ``operators/stats.py::benford`` (also ``x_benford``).
    """
    # Screen to the digit-extractable domain before the ANSI casts:
    # values in (0, 1) have no first digit under the integer-prefix
    # extraction; NaN compares GREATER than any number in Spark and would
    # throw in floor→BIGINT; 9.0e18 stays clear of the 2^63 cast overflow
    # (it also drops genuine BIGINTs in [9.0e18, 2^63), all digit 9 — a
    # slight digit-9 undercount, acceptable for a drift gate).
    value = "no_messages_sent_since_last_power_cycle"
    vd = F.col(value).cast("double")
    df = stage.filter(
        F.col(value).isNotNull() & ~F.isnan(vd) & (vd >= 1.0) & (vd < 9.0e18)
    )
    rows = benford(df, value).orderBy("digit").collect()  # control-plane: 9 rows
    n_total = int(rows[0]["big_n"])
    digits: dict[int, dict] = {}
    chi_total, mad_sum = 0.0, 0.0
    for r in rows:
        chi = 0.0 if r["chi"] is None else round(float(r["chi"]), 6)
        digits[int(r["digit"])] = {
            "n": int(r["n"]),
            "expected_r": round(float(r["expected"]), 6),
            "chi_r": chi,
        }
        chi_total += chi
        mad_sum += 0.0 if r["dev"] is None else float(r["dev"])
    if n_total < 100:
        mad = mad_verdict = conforming = None
    else:
        mad = round(mad_sum / 9.0, 6)
        mad_verdict = (
            "close" if mad <= 0.006
            else "acceptable" if mad <= 0.012
            else "marginal" if mad <= 0.015
            else "nonconforming"
        )
        conforming = mad <= 0.015
    return {
        "n_total": n_total,
        "digits": digits,
        "chi_total": round(chi_total, 4),
        "mad": mad,
        "mad_verdict": mad_verdict,
        "conforming": conforming,
    }


def gini_monitor_report(stage: DataFrame) -> dict:
    """Is ingest volume concentrating on few ``deviceid`` values this
    week?  Gini of the per-key row counts for the last ``RECENT_DAYS``
    UTC epoch-days and for all prior history; ``concentrating`` fires
    when the recent Gini rose more than 0.05 above
    baseline.

    Returns ``{"n_recent": int, "n_baseline": int, "k_recent": int,
    "k_baseline": int, "gini_recent": float | None, "gini_baseline":
    float | None, "delta": float | None, "concentrating": bool}``.  An
    empty window reads None and never fires.
    Core: ``operators/stats.py::gini`` (also ``x_gini_concentration``).
    """
    # NULL key/ts rows belong to no device and no window
    v = stage.filter(
        F.col("deviceid").isNotNull() & F.col("date_time").isNotNull()
    ).select(F.col("deviceid").alias("k"), _epoch_day().alias("day"))
    g = (
        _recent_window_flag(v, "win")
        .groupBy("win", "k")
        .agg(F.count("*").alias("c"))
    )
    cells = gini(g, "win", "k", "c").select(
        "win", "n", F.col("tot").cast("bigint").alias("tot"),
        F.round("gini", 6).alias("gini"),
    ).collect()  # control-plane: <= 2 rows (recent / baseline)
    by_win = {int(row["win"]): row for row in cells}
    rec, base = by_win.get(1), by_win.get(0)
    gini_recent = float(rec["gini"]) if rec else None
    gini_baseline = float(base["gini"]) if base else None
    delta = None
    if gini_recent is not None and gini_baseline is not None:
        delta = round(gini_recent - gini_baseline, 6)
    return {
        "n_recent": int(rec["tot"]) if rec else 0,
        "n_baseline": int(base["tot"]) if base else 0,
        "k_recent": int(rec["n"]) if rec else 0,
        "k_baseline": int(base["n"]) if base else 0,
        "gini_recent": gini_recent,
        "gini_baseline": gini_baseline,
        "delta": delta,
        "concentrating": delta is not None and delta > 0.05,
    }


def source_kl_monitor_report(stage: DataFrame) -> dict:
    """Did the traffic mix over ``deviceid`` shift this
    week?  KL(p_recent ‖ p_baseline) in nats with +0.5 Laplace counts
    on the union category scaffold, so a category seen in only one
    window adds a large but finite term; ``shifted`` = kl > 0.1.

    Returns ``{"n_recent": int, "n_baseline": int, "k_categories": int,
    "kl_nats": float | None, "shifted": bool}``.  Either window empty →
    kl None (smoothing alone would fabricate a uniform mix to compare).
    Core: ``operators/stats.py::smoothed_kl`` (also ``x_source_kl``).
    """
    v = stage.filter(
        F.col("deviceid").isNotNull() & F.col("date_time").isNotNull()
    ).select(F.col("deviceid").alias("cat"), _epoch_day().alias("day"))
    # one row per category holding both windows' counts (a = recent,
    # t - a = baseline): every category seen in either window has a row
    g = (
        _recent_window_flag(v, "win")
        .groupBy("cat")
        .agg(F.count("*").alias("t"), F.sum("win").alias("a"))
        .select(
            "t",
            "a",
            (F.col("a").cast("double") + 0.5).alias("cs_r"),
            ((F.col("t") - F.col("a")).cast("double") + 0.5).alias("cs_b"),
        )
    )
    tot = g.agg(
        F.sum("a").alias("n_r"),
        F.sum(F.col("t") - F.col("a")).alias("n_b"),
        F.count("*").alias("k"),
    )
    row = (
        smoothed_kl(g, [], "cs_r", "cs_b")
        .crossJoin(tot)
        .select(F.round("kl", 6).alias("kl"), "n_r", "n_b", "k")
        .first()
    )  # control-plane: 1 row
    if row["k"] == 0:
        return {"n_recent": 0, "n_baseline": 0, "k_categories": 0,
                "kl_nats": None, "shifted": False}
    n_recent, n_baseline = int(row["n_r"]), int(row["n_b"])
    kl = float(row["kl"]) if row["kl"] is not None else None
    if n_recent == 0 or n_baseline == 0:
        kl = None  # smoothing alone must not fabricate a comparison
    return {
        "n_recent": n_recent,
        "n_baseline": n_baseline,
        "k_categories": int(row["k"]),
        "kl_nats": kl,
        "shifted": kl is not None and kl > 0.1,
    }


def heavy_hitters_monitor_report(stage: DataFrame) -> dict:
    """Is one ``deviceid`` value swamping recent ingest, and which?  A
    count-min sketch (Cormode & Muthukrishnan '05) over the last
    ``RECENT_DAYS`` UTC epoch-days; its top-10 heavy hitters are
    adjudicated against the exact recount, and ``flooding`` fires when
    the top key's share exceeds 0.5.  A sketch estimate
    below the exact count (a broken build or probe) flips ``cms_sound``.

    Returns ``{"n_recent": int, "k_distinct_recent": int, "top":
    [{"key": str, "exact_n": int, "est": int, "overcount": int,
    "share": float}, ...], "top_share": float | None, "flooding": bool,
    "cms_sound": bool | None, "max_overcount": int | None}``.  An empty
    window reads empty/None and never fires.
    Operators: ``operators/sketches.py`` (also ``x_heavy_hitters``).
    With an unbounded key universe, build with ``cms_from_stream`` and
    an external candidate list instead of the exact recount.
    """
    from ..operators.sketches import cms_estimate, cms_from_counts

    v = stage.filter(
        F.col("deviceid").isNotNull() & F.col("date_time").isNotNull()
    ).select(
        F.col("deviceid").cast("string").alias("k"),
        _epoch_day().alias("day"),
    )
    recent = _recent_window_flag(v, "win").filter(F.col("win") == 1)
    # the fleet-sized count table feeds THREE consumers (sketch build,
    # top-k, totals) across two actions — stored so the corpus
    # scan+count runs once
    cnt = stored(recent.groupBy("k").agg(F.count("*").alias("exact_n")))
    sketch = cms_from_counts(cnt, "k", "exact_n")
    topk = (
        cnt.orderBy(F.col("exact_n").desc(), F.col("k").asc()).limit(10)
    )
    est = cms_estimate(topk, sketch, "k")
    rows = est.orderBy(
        F.col("exact_n").desc(), F.col("k").asc()
    ).collect()  # control-plane: <= k rows
    tot = cnt.agg(
        F.sum("exact_n").alias("n"), F.count("*").alias("kd")
    ).collect()[0]  # control-plane: 1 row
    n_recent = int(tot["n"]) if tot["n"] is not None else 0
    if n_recent == 0:
        return {"n_recent": 0, "k_distinct_recent": 0, "top": [],
                "top_share": None, "flooding": False, "cms_sound": None,
                "max_overcount": None}
    top = [
        {
            "key": r["k"],
            "exact_n": int(r["exact_n"]),
            "est": int(r["est"]),
            "overcount": int(r["est"]) - int(r["exact_n"]),
            "share": round(int(r["exact_n"]) / n_recent, 6),
        }
        for r in rows
    ]
    top_share = top[0]["share"]
    return {
        "n_recent": n_recent,
        "k_distinct_recent": int(tot["kd"]),
        "top": top,
        "top_share": top_share,
        "flooding": top_share > 0.5,
        "cms_sound": all(t["overcount"] >= 0 for t in top),
        "max_overcount": max(t["overcount"] for t in top),
    }


def sketch_store_monitor_report(stage: DataFrame, as_of_day: int | None = None) -> dict:
    """Per-day HyperLogLog sketch-store health: for each of the last
    ``RECENT_DAYS`` UTC epoch-days, the day's distinct-``deviceid``
    sketch (``hll_sketch_agg``, lgConfigK 12) against the exact
    per-day distinct, and the union of the daily sketches
    (``hll_union_agg``) against the exact window distinct — the
    mergeability a persisted sketch store rests on.  A day without rows
    counts into ``missing_days``.

    The default window is anchored at the observed max day, which sees
    leading and interior gaps but not a trailing one (a stalled ingest
    re-anchors the window at the last day that arrived).  Pass
    ``as_of_day`` (the caller's UTC epoch-day, e.g. ``int(time.time())
    // 86400``) to anchor at now: stall days then count as missing, and
    a fully stalled store reads n_days 0 with missing_days = the
    expected span.  A store with no rows at all reads empty/None.

    Returns ``{"days": [{"day": int, "exact": int, "est": int,
    "rel_err": float, "ok": bool}, ...], "n_days": int, "missing_days":
    int, "union_exact": int, "union_est": int, "union_ok": bool | None,
    "healthy": bool | None}``; ``healthy`` iff every per-day estimate
    and the union estimate sit within 5 % relative error (lgK 12 ⇒
    ~1.6 % stderr, so 5 % is a 3σ gate).  Built-in ``hll_*`` functions
    (also ``x_active_users_hll``).
    """
    v = stage.filter(
        F.col("deviceid").isNotNull() & F.col("date_time").isNotNull()
    ).select(F.col("deviceid").alias("k"), _epoch_day().alias("day"))
    if as_of_day is not None:
        # wall-clock anchoring: the window is fixed at the caller's
        # "now", so a trailing ingest gap cannot re-anchor it (docstring)
        recent = v.filter(
            (F.col("day") > F.lit(as_of_day - RECENT_DAYS))
            & (F.col("day") <= F.lit(as_of_day))
        )
    else:
        recent = _recent_window_flag(v, "win").filter(F.col("win") == 1)
    # the calendar-sized daily sketch table feeds two actions (per-day
    # readout, union readout) — stored so the corpus-sized sketch build
    # runs once (the union-exact and age-bounds aggregates below are
    # separate column-pruned scans by necessity — neither is derivable
    # from the per-day table)
    daily = stored(recent.groupBy("day").agg(
        F.hll_sketch_agg("k", F.lit(12)).alias("sk"),
        F.countDistinct("k").alias("exact"),
    ))
    per_day = daily.select(
        "day", "exact", F.hll_sketch_estimate("sk").alias("est")
    ).orderBy("day").collect()  # control-plane: <= RECENT_DAYS rows
    if not per_day:
        empty = {"days": [], "n_days": 0, "missing_days": 0,
                 "union_exact": 0, "union_est": 0, "union_ok": None,
                 "healthy": None}
        if as_of_day is not None:
            # wall-clock mode: an empty window over a NON-empty store is
            # a complete ingest stall — surface the whole expected span
            # as missing (an empty store stays empty/None: docstring)
            b = v.agg(
                F.min("day").alias("lo"), F.max("day").alias("hi")
            ).collect()[0]  # control-plane: 1 row
            if b["lo"] is not None:
                empty["missing_days"] = max(
                    0, min(RECENT_DAYS, as_of_day - int(b["lo"]) + 1)
                )
        return empty
    union_row = daily.agg(
        # all daily sketches share lg_k, so the union needs no
        # allowDifferentLgConfigK (the optional second arg is that
        # boolean, NOT a lgK override)
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    ).collect()[0]  # control-plane: 1 row
    union_exact = int(
        recent.agg(F.countDistinct("k").alias("x")).collect()[0]["x"]
    )  # control-plane: 1 row
    bounds = v.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    ).collect()[0]  # control-plane: 1 row (over ALL history, so a
    # leading gap — store older than the window but early window-days
    # empty — counts as missing, not as a shorter window)

    def _ok(exact: int, est: int) -> tuple[float, bool]:
        rel = round(abs(est - exact) / exact, 6)  # day present ⇒ exact >= 1
        return rel, rel <= 0.05

    days = []
    for r in per_day:
        rel, ok = _ok(int(r["exact"]), int(r["est"]))
        days.append({"day": int(r["day"]), "exact": int(r["exact"]),
                     "est": int(r["est"]), "rel_err": rel, "ok": ok})
    # expected day count: the recent window span, clipped to the STORE's
    # observed age (global min day) so a younger-than-window stage zone
    # isn't flagged as gapped on day one; in wall-clock mode the span
    # anchors at as_of_day, so trailing stall days count as missing
    anchor = int(bounds["hi"]) if as_of_day is None else as_of_day
    expected = min(RECENT_DAYS, anchor - int(bounds["lo"]) + 1)
    union_est = int(union_row["est"])
    _, union_ok = _ok(union_exact, union_est)
    return {
        "days": days,
        "n_days": len(days),
        "missing_days": expected - len(days),
        "union_exact": union_exact,
        "union_est": union_est,
        "union_ok": union_ok,
        "healthy": union_ok and all(d["ok"] for d in days),
    }


def stage_quality_report(stage: DataFrame) -> dict[str, int]:
    """Data-quality gate over the stage zone (the per-partition analog of
    the x_data_checks lake gate): key-field null counts, battery-voltage
    domain range, and duplicate delivery detection — ALL computed in one
    map-side-combined aggregate job, so the gate costs a single scan no
    matter how many constraints ride it.

    Returns ``{check_name: violation_count}`` (plain dict, like
    pipeline_maintenance's report).
    """
    row = stage.agg(
        F.count(F.when(F.col("deviceid").isNull(), 1)).alias("null_deviceid"),
        F.count(F.when(F.col("date_time").isNull(), 1)).alias("null_date_time"),
        F.count(
            F.when(
                F.col("battery_voltage").isNotNull()
                & ~F.col("battery_voltage").between(0.0, 100.0),
                1,
            )
        ).alias("battery_out_of_range"),
        (
            F.count("*")
            # struct() is never null, so null-keyed rows still count as
            # ONE delivery each (bare count_distinct would drop them and
            # overstate duplicates)
            - F.countDistinct(F.struct("deviceid", "packetid", "date_time"))
        ).alias("duplicate_deliveries"),
    ).first()
    return {k: int(row[k]) for k in row.asDict()}


def pipeline_maintenance(spark: SparkSession, stage_path: str, declared: StructType) -> dict:
    """One crawler pass — the in-engine analog of the reference's nightly
    Glue crawler (``cron(0 4 * * ? *)``, cdk_datalake_mvp_stack.py:320-335).
    Like the crawler, it runs beside the stream on its own schedule, never
    inside a micro-batch.  Readers scan the stage zone by path, so there
    is no catalog table whose partitions need recovering.

    The pass reads the stage zone once.  That read's schema is the
    observed side of the LOG-only (never applied) drift report, so the
    pass sees what the files hold now.  A ``MONITOR_COLUMNS`` projection
    of it is stored once and handed to every stage monitor; its blocks
    are freed before the pass returns.  The PSI reference profile lives
    at ``<lake>/maintenance/drift_profile``, beside ``stage/``.

    Returns ``{"drift": [(column, declared, observed, status), ...],
    "drift_status_counts": {...}, "monitors": {name: report}}``, where
    ``name`` is the monitor's function name without its
    ``_monitor_report`` / ``_report`` suffix — a plain dict, no Spark
    objects.  A stage zone that does not exist yet reports nothing.
    """
    import os as _os
    from collections import Counter

    report: dict = {"drift": [], "drift_status_counts": {}, "monitors": {}}
    if not _os.path.isdir(stage_path):
        return report
    df = spark.read.parquet(stage_path)
    report["drift"] = schema_drift_report(df.schema, declared)
    report["drift_status_counts"] = dict(Counter(r[3] for r in report["drift"]))
    lake = _os.path.dirname(stage_path.rstrip("/"))
    with release_scope():
        stage = stored(df.select(*MONITOR_COLUMNS))
        report["monitors"] = {
            "stage_quality": stage_quality_report(stage),
            "drift_psi": drift_psi_report(
                stage, _os.path.join(lake, "maintenance", "drift_profile")
            ),
            "timeseries": timeseries_monitor_report(stage),
            "sprt": sprt_monitor_report(stage),
            "mann_whitney": mann_whitney_monitor_report(stage),
            "ks": ks_monitor_report(stage),
            "did": did_monitor_report(stage),
            "survival": survival_monitor_report(stage),
            "auc": auc_monitor_report(stage),
            "benford": benford_monitor_report(stage),
            "gini": gini_monitor_report(stage),
            "source_kl": source_kl_monitor_report(stage),
            "heavy_hitters": heavy_hitters_monitor_report(stage),
            "sketch_store": sketch_store_monitor_report(stage),
        }
    return report
