"""Catalog/table maintenance jobs (SURVEY.md §2 A20; reference: the nightly
Glue crawler, cdk_datalake_mvp_stack.py:320-335).

The crawler runs with ``update_behavior: LOG, delete_behavior: LOG`` —
schema drift is DETECTED and reported, never applied; the declared schema
stays authoritative (SURVEY.md §1.3). ``schema_drift_report`` reproduces
exactly that contract. ``compact_partition`` is the at-rest analog of the
Firehose 64 MB buffer intent: rewrite a partition's many small files into
few large ones (BASELINE.md "output file sizing").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..storage import stored


def schema_drift_report(spark: SparkSession, path: str,
                        declared: StructType, fmt: str = "parquet") -> DataFrame:
    """Diff the OBSERVED schema of the files at ``path`` against the
    DECLARED schema — report, don't apply (crawler LOG behavior).

    Returns one row per column union: ``column, declared_type,
    observed_type, status`` with status in ``ok | type_changed | added |
    missing`` (added = in files only; missing = declared only).

    Inference cost note: parquet/json footer-based inference reads
    metadata, not data — safe to run as a scheduled job at any scale.
    """
    if fmt == "parquet":
        observed = spark.read.parquet(path).schema
    elif fmt == "json":
        observed = spark.read.json(path).schema
    else:
        raise ValueError(f"unsupported format: {fmt}")

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
    return spark.createDataFrame(
        rows, "column string, declared_type string, observed_type string, status string"
    )


def compact_partition(spark: SparkSession, table_path: str, partition_expr: str,
                      target_files: int = 1) -> int:
    """Rewrite one Hive partition's files into ``target_files`` files
    (small-file compaction; the 64 MB Firehose buffering intent applied
    retroactively). Returns the number of rows rewritten.

    Scale note: compaction is per-partition (`partition_expr` like
    ``year=2023/month=11/day=14``), so a fleet of compaction tasks
    parallelizes across partitions with no shuffle — each task is a
    coalesce-rewrite of one directory.
    """
    part_dir = f"{table_path}/{partition_expr}"
    df = spark.read.parquet(part_dir)
    n = df.count()
    tmp = f"{part_dir}__compact_tmp"
    df.coalesce(target_files).write.mode("overwrite").parquet(tmp)
    # atomic-ish swap through the Hadoop FS API (works for local + HDFS/S3A)
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI.create(table_path), conf
    )
    src = jvm.org.apache.hadoop.fs.Path(tmp)
    dst = jvm.org.apache.hadoop.fs.Path(part_dir)
    fs.delete(dst, True)
    fs.rename(src, dst)
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


def drift_psi_report(
    spark: SparkSession,
    stage_path: str,
    profile_path: str,
    columns: dict[str, str] | None = None,
    threshold: float = 0.2,
) -> dict:
    """Population-stability-index drift monitor over the stage zone — the
    maintenance-cadence counterpart of the batch ``x_drift_psi`` key
    (plans/tiere.py), with a PERSISTED reference-period profile instead of
    a same-table midpoint split.

    First call (no profile at ``profile_path``): the current bucket
    profile is WRITTEN as the reference period and the report says
    ``bootstrapped``.  Every later call compares the current stage
    distribution against that frozen profile per monitored column, with
    the same smoothed PSI the batch key uses (Siddiqi '06; +0.5/bucket
    Laplace smoothing so empty buckets don't produce ±inf) and the same
    0.2 industry drift threshold.  Re-bootstrap by deleting the profile
    (e.g. after an intentional fleet change).

    Scale: the profile is bucket-count sized (columns × buckets rows —
    KBs at any corpus size), so both the persisted artifact and the
    full-outer bucket join are driver-trivial; the only data-sized work
    is the one profile scan, which at 100 TB should read only the recent
    event-date partitions (partition-pruned by the caller's cadence).

    Returns ``{"bootstrapped": bool, "columns": {col: {"psi": float|None,
    "drifted": bool, "n_ref": int, "n_cur": int}}}`` (plain dict,
    foreachBatch-safe).
    """
    import os as _os

    cols = columns or DRIFT_DEFAULT_COLUMNS
    cur = _drift_counts(spark.read.parquet(stage_path), cols)
    if not _os.path.isdir(profile_path):
        cur.write.mode("overwrite").parquet(profile_path)
        return {"bootstrapped": True, "columns": {}}
    ref = spark.read.parquet(profile_path).select(
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
    p = (F.col("n_ref") + 0.5) / (F.col("t_ref") + 0.5 * F.col("k"))
    q = (F.col("n_cur") + 0.5) / (F.col("t_cur") + 0.5 * F.col("k"))
    scored = (
        # one row per monitored column; estimated from the stage scan
        joined.join(F.broadcast(tot), "column")
        .groupBy("column")
        .agg(
            F.sum((p - q) * F.log(p / q)).alias("psi_raw"),
            F.max("t_ref").alias("t_ref"),
            F.max("t_cur").alias("t_cur"),
        )
        .collect()  # control-plane: one row per monitored column
    )
    return {
        "bootstrapped": False,
        "columns": {
            r["column"]: {
                "psi": round(float(r["psi_raw"]), 6),
                "drifted": bool(r["psi_raw"] > threshold),
                "n_ref": int(r["t_ref"]),
                "n_cur": int(r["t_cur"]),
            }
            for r in scored
        },
    }


def _epoch_day(ts_col: str) -> Column:
    """UTC epoch-day bucket (floor(epoch/86400)) — a pure integer with NO
    session-timezone dependency (to_date/from_unixtime renders in the
    session TZ, so the same stage data produced different day boundaries
    per deployment TZ — the r8 ADVICE lesson).  ONE definition so every
    monitor in this module shares identical day boundaries."""
    return F.floor(F.col(ts_col).cast("bigint") / F.lit(86400)).cast("bigint")


def timeseries_monitor_report(
    spark: SparkSession,
    stage_path: str,
    value_col: str = "battery_voltage",
    key_col: str = "deviceid",
    ts_col: str = "date_time",
    cusum_k_sigma: float = 0.25,
    cusum_alarm_sigma: float = 3.0,
    season: int = 7,
) -> dict:
    """Per-device time-series health monitors at the maintenance cadence —
    the streaming-maintenance twins of the batch ``x_cusum_changepoint``
    and ``x_forecast_mase`` keys (plans/tierk.py), the way
    ``drift_psi_report`` twins ``x_drift_psi``: a monitor that only runs
    in batch mode isn't a monitor.

    ONE stage scan feeds ONE daily rollup per device (map-side
    combinable: avg for the CUSUM level series, sum for the MASE totals
    series), then both statistics ride the tiny per-device day series.
    Days are UTC epoch-day integers (floor(epoch/86400)) so boundaries —
    and therefore alarms — are identical under every deployment session
    timezone (r8 ADVICE):

    - **CUSUM** (Page '54, identical formula to the batch key including
      the S'_0 = 0 floor): C_t = S'_t − min(0, S'_1..S'_t) with drift
      allowance k = ``cusum_k_sigma``·σ, alarm at C_t >
      ``cusum_alarm_sigma``·σ — sustained upward mean shift per device.
    - **MASE** (Hyndman–Koehler IJF'06): seasonal-naive (lag-``season``)
      forecast of daily totals scored by MAE and scaled by the one-step
      naive MAE — "is this device's daily volume still forecastable".

    Returns ``{key: {"n_days": int, "cusum_alarms": int,
    "alarm_latest": bool, "cusum_max": float, "mase": float|None,
    "mase_n_scored": int}}`` (plain dict, foreachBatch-safe; one row per
    device is control-plane at any corpus size).  ``mase`` is None until
    a device has > ``season`` days of history or when both MAEs are 0.

    Scale: the corpus-sized work is the single daily rollup; every
    window after it runs over (devices × days) rows.  At 100 TB the
    caller's cadence should partition-prune the stage scan to the
    monitoring lookback window.
    """
    from pyspark.sql.window import Window as W

    df = spark.read.parquet(stage_path).filter(F.col(value_col).isNotNull())
    # Day buckets via the shared _epoch_day (session-TZ independent)
    d = df.groupBy(
        F.col(key_col).alias("k"),
        _epoch_day(ts_col).alias("day"),
    ).agg(
        F.avg(value_col).alias("x"),
        F.sum(value_col).alias("tot"),
    )
    wk = W.partitionBy("k")
    wo = W.partitionBy("k").orderBy("day")
    wrun = wo.rowsBetween(W.unboundedPreceding, W.currentRow)
    m = d.select(
        "k", "day", "x", "tot",
        F.avg("x").over(wk).alias("mu0"),
        F.stddev_samp("x").over(wk).alias("sd"),
        F.lag("tot", season).over(wo).alias("f_seasonal"),
        F.lag("tot", 1).over(wo).alias("f_naive"),
    ).withColumn(
        "sp",
        F.sum(
            F.col("x") - F.col("mu0") - F.lit(cusum_k_sigma) * F.col("sd")
        ).over(wrun),
    ).withColumn(
        "cusum", F.col("sp") - F.least(F.lit(0.0), F.min("sp").over(wrun))
    ).withColumn(
        "alarm",
        (
            F.col("cusum") > F.lit(cusum_alarm_sigma) * F.col("sd")
        ).cast("int"),
    )
    last = W.partitionBy("k").orderBy(F.col("day").desc())
    rows = (
        m.withColumn("rn", F.row_number().over(last))
        .groupBy("k")
        .agg(
            F.count("*").alias("n_days"),
            F.sum(F.coalesce(F.col("alarm"), F.lit(0))).alias("cusum_alarms"),
            F.max(F.when(F.col("rn") == 1, F.col("alarm"))).alias("alarm_latest"),
            F.max("cusum").alias("cusum_max"),
            F.avg(F.abs(F.col("tot") - F.col("f_seasonal"))).alias("mae"),
            F.avg(F.abs(F.col("tot") - F.col("f_naive"))).alias("naive_mae"),
            F.count(F.col("f_seasonal")).alias("mase_n_scored"),
        )
        .collect()  # control-plane: one row per monitored device
    )
    out: dict = {}
    for r in rows:
        mase = None
        if (
            r["mase_n_scored"] > 0
            and r["naive_mae"] is not None
            and r["naive_mae"] > 0.0
        ):
            mase = round(float(r["mae"]) / float(r["naive_mae"]), 6)
        out[r["k"]] = {
            "n_days": int(r["n_days"]),
            "cusum_alarms": int(r["cusum_alarms"]),
            "alarm_latest": bool(r["alarm_latest"]),
            "cusum_max": (
                round(float(r["cusum_max"]), 6)
                if r["cusum_max"] is not None
                else None
            ),
            "mase": mase,
            "mase_n_scored": int(r["mase_n_scored"]),
        }
    return out


def sprt_monitor_report(
    spark: SparkSession,
    stage_path: str,
    success_expr: str = "battery_voltage < 11.0",
    ts_col: str = "date_time",
    p0: float = 0.18,
    p1: float = 0.22,
    alpha: float = 0.05,
    beta: float = 0.05,
) -> dict:
    """Wald SPRT sequential rate monitor at the maintenance cadence — the
    streaming-maintenance twin of the batch ``x_sprt`` key
    (plans/tierl.py), the way ``timeseries_monitor_report`` twins
    x_cusum_changepoint/x_forecast_mase: the sequential test's native
    habitat IS the stream, where someone peeks at every batch.

    Tests H1: P(``success_expr``) = ``p1`` against H0: = ``p0`` on the
    daily fleet rollup (default: the low-battery-reading rate), with the
    Wald boundaries log((1−β)/α) / log(β/(1−α)).  The decision is STICKY
    exactly as in the batch key: the test STOPS at its first boundary
    crossing — recomputing over the append-only stage zone replays the
    full daily sequence, so the first-crossing day (and therefore the
    verdict) can never un-happen even if later data drags the LLR back
    across the boundary (precedence on the running min of each
    boundary's first crossing day; reject wins a same-day tie, matching
    x_sprt).

    Days are UTC epoch-days (floor(epoch/86400)) like the CUSUM/MASE
    monitor — no session-timezone dependence.

    Returns ``{"n_days": int, "cum_n": int, "cum_k": int, "llr": float,
    "decision": "continue"|"reject_h0"|"accept_h0",
    "decided_day": int | None}`` (plain dict, foreachBatch-safe).

    Scale: the corpus-sized work is ONE map-side-combinable daily count;
    the cumulative LLR and crossing scan ride the calendar-sized day
    series, and only the final row is collected.  At 100 TB the caller's
    cadence should partition-prune the scan to the monitoring window —
    or fold the daily (n, k) pairs into a persisted rollup and replay
    the LLR from that, since the statistic depends on the data only
    through the per-day counts.
    """
    import math as _math

    from pyspark.sql.window import Window as W

    c1 = _math.log(p1 / p0)
    c2 = _math.log((1.0 - p1) / (1.0 - p0))
    up = _math.log((1.0 - beta) / alpha)
    lo = _math.log(beta / (1.0 - alpha))
    df = spark.read.parquet(stage_path)
    d = df.groupBy(_epoch_day(ts_col).alias("day")).agg(
        F.count("*").alias("n"),
        # a row whose predicate is NULL (e.g. NULL voltage) is a trial
        # that was NOT a success — coalesce per row so an all-NULL day
        # yields k = 0, not a NULL that poisons the cumulative LLR
        F.sum(
            F.coalesce(F.expr(success_expr).cast("int"), F.lit(0))
        ).alias("k"),
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    c = d.select(
        "day",
        F.sum("n").over(w).cast("bigint").alias("cum_n"),
        F.sum("k").over(w).cast("bigint").alias("cum_k"),
    )
    llr = F.col("cum_k") * F.lit(c1) + (F.col("cum_n") - F.col("cum_k")) * F.lit(c2)
    x = c.select(
        "day",
        "cum_n",
        "cum_k",
        llr.alias("llr"),
        F.min(F.when(llr >= F.lit(up), F.col("day"))).over(w).alias("day_up"),
        F.min(F.when(llr <= F.lit(lo), F.col("day"))).over(w).alias("day_lo"),
        F.count("*").over(w).alias("n_days"),
    )
    rows = x.orderBy(F.col("day").desc()).limit(1).collect()
    if not rows:
        return {
            "n_days": 0, "cum_n": 0, "cum_k": 0, "llr": 0.0,
            "decision": "continue", "decided_day": None,
        }
    r = rows[0]
    day_up, day_lo = r["day_up"], r["day_lo"]
    if day_up is not None and (day_lo is None or day_up <= day_lo):
        decision, decided = "reject_h0", int(day_up)
    elif day_lo is not None:
        decision, decided = "accept_h0", int(day_lo)
    else:
        decision, decided = "continue", None
    return {
        "n_days": int(r["n_days"]),
        "cum_n": int(r["cum_n"]),
        "cum_k": int(r["cum_k"]),
        "llr": round(float(r["llr"]), 6),
        "decision": decision,
        "decided_day": decided,
    }


def _recent_window_flag(v: DataFrame, flag: str, recent_days: int) -> DataFrame:
    """Tag each row of ``v`` (which carries a ``day`` epoch-day column)
    with 1 = in the last ``recent_days`` days of the observed range,
    0 = baseline: one 1-row max-day aggregate broadcast-crossJoined in.
    ONE definition so every recent-vs-history monitor (Mann–Whitney,
    AUC) shares identical window boundaries — the ``_epoch_day``
    precedent: a future cutoff-semantics fix must have exactly one
    place to land."""
    mx = v.agg(F.max("day").alias("max_day"))
    return (
        v.crossJoin(mx)
        .withColumn(
            flag,
            (F.col("day") > F.col("max_day") - F.lit(recent_days)).cast("int"),
        )
        .drop("max_day")
    )


def mann_whitney_monitor_report(
    spark: SparkSession,
    stage_path: str,
    value_col: str = "battery_voltage",
    ts_col: str = "date_time",
    recent_days: int = 7,
    z_crit: float = 1.959964,
) -> dict:
    """Mann–Whitney rank-sum distribution-shift monitor at the
    maintenance cadence — the streaming-maintenance twin of the batch
    ``x_mann_whitney`` key (plans/tierm.py), the way
    ``sprt_monitor_report`` twins x_sprt: the last ``recent_days``
    UTC epoch-days of ``value_col`` readings against all prior history,
    answering "did the metric's DISTRIBUTION shift this week" without
    the mean/variance assumptions that break CUSUM under heavy tails
    (CUSUM watches the mean; THIS watches stochastic dominance).

    Same exact machinery as the batch key: pooled tie-averaged ranks on
    2×-scaled BIGINT half-unit ranks over the distinct-value support
    table, tie correction Σ(t³−t) accumulated in DOUBLE (CAST-first, the
    r9 ADVICE overflow fix), z = (U − n_r·n_b/2)/sqrt(·) with a nullif
    guard so a zero-variance pool reads NULL, not ANSI DIVIDE_BY_ZERO.

    Returns ``{"n_recent": int, "n_baseline": int, "u_recent": float,
    "z": float | None, "shifted": bool, "direction":
    "up" | "down" | None}`` (plain dict, foreachBatch-safe).  ``shifted``
    reads the 4-dp-rounded z against ``z_crit``; ``direction`` is the
    sign of the shift ("up" = recent values stochastically larger).
    Empty windows (no history yet, or no recent rows) report z = None.

    Scale: ONE map-side-combinable (value, window) count over the
    corpus plus a 1-row max-day broadcast; rank arithmetic rides the
    distinct-value support table (x_ks_test economics).  No corpus sort.
    """
    from pyspark.sql.window import Window as W

    # NULL-timestamp rows can't be assigned to either window: without the
    # ts screen they'd silently land in the BASELINE (is_recent evaluates
    # NULL -> counted in t but not a), biasing every later value's
    # cumulative rank c and the tie correction while joining neither
    # sample.  Screen both columns up front.
    df = spark.read.parquet(stage_path).filter(
        F.col(value_col).isNotNull() & F.col(ts_col).isNotNull()
    )
    day = _epoch_day(ts_col)
    v = df.select(F.col(value_col).alias("val"), day.alias("day"))
    g = (
        _recent_window_flag(v, "is_recent", recent_days)
        .groupBy("val")
        .agg(F.count("*").alias("t"), F.sum("is_recent").alias("a"))
    )
    w = W.orderBy("val").rowsBetween(W.unboundedPreceding, -1)
    r = g.withColumn("c", F.coalesce(F.sum("t").over(w), F.lit(0)))
    s = r.agg(
        # DECIMAL(38,0) rank-sum accumulator, same reason as the batch
        # key: one a·(2c+t+1) product nears 2^63 at ~2e12 pooled rows
        F.sum(
            F.col("a").cast("decimal(18,0)")
            * (2 * F.col("c") + F.col("t") + 1).cast("decimal(19,0)")
        ).alias("r_a2"),
        F.sum("a").alias("n_a"),
        F.sum(F.col("t") - F.col("a")).alias("n_b"),
        F.sum(
            F.col("t").cast("double") * F.col("t") * F.col("t") - F.col("t")
        ).alias("tsum"),
    )
    rows = s.selectExpr(
        "n_a", "n_b",
        "CAST(r_a2 - CAST(n_a AS DECIMAL(19,0)) * (n_a + 1) AS DOUBLE)"
        " / 2.0 AS u_a",
        "round((CAST(r_a2 - CAST(n_a AS DECIMAL(19,0)) * (n_a + 1)"
        " AS DOUBLE) / 2.0"
        " - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)"
        " / nullif(sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *"
        " ((CAST(n_a + n_b AS DOUBLE) + 1.0) - CAST(tsum AS DOUBLE) /"
        " nullif(CAST(n_a + n_b AS DOUBLE)"
        " * (CAST(n_a + n_b AS DOUBLE) - 1.0), 0.0))), 0.0), 4) AS z",
    ).collect()  # control-plane: one row
    if not rows or rows[0]["n_a"] is None:
        return {"n_recent": 0, "n_baseline": 0, "u_recent": 0.0,
                "z": None, "shifted": False, "direction": None}
    row = rows[0]
    n_a, n_b = int(row["n_a"]), int(row["n_b"])
    z = None if row["z"] is None else float(row["z"])
    if n_a == 0 or n_b == 0:
        z = None
    shifted = z is not None and abs(z) > z_crit
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


def ks_monitor_report(
    spark: SparkSession,
    stage_path: str,
    value_col: str = "battery_voltage",
    ts_col: str = "date_time",
    recent_days: int = 7,
    c_alpha: float = 1.3581015157406195,  # c(0.05) = sqrt(-ln(0.025)/2)
) -> dict:
    """Exact two-sample Kolmogorov–Smirnov drift monitor at the
    maintenance cadence — the streaming-maintenance twin of the batch
    ``x_ks_test`` key (plans/tierl.py), the VERDICT r13 #6 echo: the
    last ``recent_days`` UTC epoch-days of ``value_col`` readings
    against all prior history, D = sup|F_recent − F_baseline| over the
    pooled support with the α = 0.05 distribution-free critical value
    c(α)·√((n₁+n₂)/(n₁n₂)).  The BINLESS gate in the drift row: PSI
    (``drift_psi_report``) compares 10 coarse bins against a stored
    profile, Mann–Whitney reads stochastic dominance (a DIRECTIONAL
    shift), KS sees any SHAPE difference — a variance blow-up or a new
    mode that leaves the median, the mean, and every PSI bin mass
    untouched.

    Same exact machinery as the batch key: the supremum is found in
    EXACT INTEGER arithmetic — at each pooled value |cum₁·n₂ − cum₂·n₁|
    is a BIGINT, so the argmax and the smallest-value tie-break are
    integer comparisons; only the final normalization and the critical
    value are doubles, and ``reject`` compares those two UNROUNDED
    doubles (the reported ``ks_d``/``crit`` are 6-dp displays).  The
    BIGINT cross-product bound d_num ≤ n₁·n₂ overflows past ~3e9 rows
    per side — at that scale normalize per-row in DECIMAL(38,0) or
    subsample, exactly as the batch key documents.

    Returns ``{"n_recent": int, "n_baseline": int, "ks_d": float | None,
    "crit": float | None, "reject": bool, "at_value": float | None}``
    (plain dict, foreachBatch-safe).  An empty stage, or a store younger
    than the window (no baseline yet), reads ks_d/crit/at_value None and
    never fires.

    Scale: ONE map-side-combinable (value, window) conditional count
    over the corpus plus the 1-row max-day broadcast; the cumulative
    sums and the integer max ride the distinct-value SUPPORT table, not
    the corpus (x_ks_test economics).  No corpus sort.
    """
    from pyspark.sql.window import Window as W

    # NULL ts rows belong to neither window; NULL values to neither
    # sample — screen both up front (the mann_whitney precedent)
    df = spark.read.parquet(stage_path).filter(
        F.col(value_col).isNotNull() & F.col(ts_col).isNotNull()
    )
    v = df.select(
        F.col(value_col).alias("val"), _epoch_day(ts_col).alias("day")
    )
    g = (
        _recent_window_flag(v, "is_recent", recent_days)
        .groupBy("val")
        .agg(
            F.sum("is_recent").cast("bigint").alias("c1"),
            F.sum(1 - F.col("is_recent")).cast("bigint").alias("c2"),
        )
    )
    wcum = W.orderBy("val").rowsBetween(W.unboundedPreceding, W.currentRow)
    w_all = W.partitionBy()
    c = g.select(
        "val",
        F.sum("c1").over(wcum).cast("bigint").alias("cum1"),
        F.sum("c2").over(wcum).cast("bigint").alias("cum2"),
        F.sum("c1").over(w_all).cast("bigint").alias("n1"),
        F.sum("c2").over(w_all).cast("bigint").alias("n2"),
    )
    d = c.select(
        "val",
        "n1",
        "n2",
        F.abs(
            F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1")
        ).alias("d_num"),
    ).withColumn("d_max", F.max("d_num").over(w_all))
    rows = (
        d.filter(F.col("d_num") == F.col("d_max"))
        .groupBy()
        .agg(
            F.any_value("n1").alias("n1"),
            F.any_value("n2").alias("n2"),
            F.any_value("d_max").alias("d_max"),
            F.min("val").alias("at_value"),
        )
        .collect()
    )  # control-plane: one row
    silent = {"n_recent": 0, "n_baseline": 0, "ks_d": None, "crit": None,
              "reject": False, "at_value": None}
    if not rows or rows[0]["n1"] is None:
        return silent
    r = rows[0]
    n1, n2 = int(r["n1"]), int(r["n2"])
    if n1 == 0 or n2 == 0:  # no baseline yet (store younger than window)
        silent["n_recent"], silent["n_baseline"] = n1, n2
        return silent
    ks_raw = int(r["d_max"]) / (n1 * float(n2))
    crit_raw = c_alpha * ((n1 + float(n2)) / (n1 * float(n2))) ** 0.5
    return {
        "n_recent": n1,
        "n_baseline": n2,
        "ks_d": round(ks_raw, 6),
        "crit": round(crit_raw, 6),
        "reject": ks_raw > crit_raw,
        "at_value": float(r["at_value"]),
    }


def did_monitor_report(
    spark: SparkSession,
    stage_path: str,
    treat_expr: str = "deviceid % 2 = 1",
    value_col: str = "battery_voltage",
    ts_col: str = "date_time",
    split_day: int | None = None,
    z_crit: float = 1.959964,
) -> dict:
    """2×2 difference-in-differences monitor at the maintenance cadence —
    the streaming-maintenance twin of the batch ``x_diff_in_diff`` key
    (plans/tierm.py): when a rollout hits PART of the fleet (a firmware
    cohort, a hardware batch — ``treat_expr``) at a known UTC epoch-day
    boundary (``split_day``; derived midpoint of the observed range when
    None), DiD = (treated post−pre) − (control post−pre) isolates the
    rollout's effect on ``value_col`` from whatever moved the WHOLE
    fleet at the same time — the readout the randomized-split monitors
    (SPRT/Welch) cannot give, because a rollout is not a coin flip.

    Same estimator as the batch key: four (n, mean, var_samp) cells in
    one map-side-combinable pass, large-sample SE = sqrt(Σ v_c/n_c),
    z = DiD/SE with the shared nullif guard (zero-variance cells read
    NULL z on every engine, never ANSI DIVIDE_BY_ZERO), significance on
    the 4-dp-rounded z.  Days are UTC epoch-days like every monitor here.

    Returns ``{"cells": {"treat_post"|"treat_pre"|"ctrl_post"|
    "ctrl_pre": {"n": int, "mean": float | None}}, "split_day": int,
    "did": float | None, "se": float | None, "z": float | None,
    "significant": bool}`` (plain dict, foreachBatch-safe); ``did``/
    ``z`` are None until all four cells have data.

    Scale: ONE moments pass grouped by (treat, post) — four
    partial-merging cells — plus a 1-row min/max broadcast when the
    split is derived.  The 100 TB rollout readout is this shape.
    """
    # Rows whose timestamp or treat predicate evaluates NULL belong to no
    # 2x2 cell — unscreened they'd create phantom (treat, NULL)/(NULL, post)
    # cells that both distort the derived split midpoint and break the
    # four-cell accounting below.
    df = spark.read.parquet(stage_path).filter(
        F.col(value_col).isNotNull() & F.col(ts_col).isNotNull()
    )
    day = _epoch_day(ts_col)
    e = df.select(
        F.expr(treat_expr).cast("int").alias("treat"),
        F.col(value_col).alias("val"),
        day.alias("day"),
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
        e = e.crossJoin(sp)
    else:
        e = e.withColumn("split_d", F.lit(int(split_day)).cast("bigint"))
    cell = e.groupBy(
        "treat", (F.col("day") >= F.col("split_d")).cast("int").alias("post")
    ).agg(
        F.count("*").alias("n"),
        F.avg("val").alias("m"),
        F.var_samp("val").alias("v"),
        F.max("split_d").alias("split_d"),
    )
    rows = cell.collect()  # control-plane: <= 4 rows
    cells = {(r["treat"], r["post"]): r for r in rows}
    names = {
        (1, 1): "treat_post", (1, 0): "treat_pre",
        (0, 1): "ctrl_post", (0, 0): "ctrl_pre",
    }
    out_cells = {}
    for key, name in names.items():
        r = cells.get(key)
        out_cells[name] = {
            "n": int(r["n"]) if r is not None else 0,
            "mean": round(float(r["m"]), 4) if r is not None else None,
        }
    split_out = (
        int(rows[0]["split_d"]) if rows else
        (int(split_day) if split_day is not None else 0)
    )
    result = {
        "cells": out_cells, "split_day": split_out,
        "did": None, "se": None, "z": None, "significant": False,
    }
    # membership check first: len(cells) >= 4 does NOT imply the four
    # CANONICAL cells are present (a degenerate corpus can populate other
    # (treat, post) combinations), and indexing a missing one would raise
    if any(
        k not in cells or cells[k]["v"] is None or cells[k]["n"] < 2
        for k in names
    ):
        return result
    m11, m10 = float(cells[(1, 1)]["m"]), float(cells[(1, 0)]["m"])
    m01, m00 = float(cells[(0, 1)]["m"]), float(cells[(0, 0)]["m"])
    import math as _math

    did = (m11 - m10) - (m01 - m00)
    se = _math.sqrt(
        sum(
            float(cells[k]["v"]) / float(cells[k]["n"])
            for k in names
        )
    )
    result["did"] = round(did, 4)
    result["se"] = round(se, 4)
    if se > 0.0:
        z = round(did / se, 4)
        result["z"] = z
        result["significant"] = abs(z) > z_crit
    return result


def survival_monitor_report(
    spark: SparkSession,
    stage_path: str,
    event_expr: str = "battery_voltage < 11.0",
    device_col: str = "deviceid",
    ts_col: str = "date_time",
    bucket_days: int = 7,
) -> dict:
    """Kaplan–Meier device-survival monitor at the maintenance cadence —
    the streaming-maintenance twin of the batch ``x_survival`` key
    (plans/tierm.py), completing the fleet-health trio with the
    Mann–Whitney shift and DiD rollout monitors: per device, TIME TO
    FIRST ``event_expr`` reading (default: the first low-battery
    reading, the SPRT monitor's predicate) measured from the device's
    first appearance, RIGHT-CENSORED at its last reading when the event
    never fired.  A naive "fraction of devices gone low" rate counts
    the still-healthy fleet as if observation had finished — exactly
    the bias the product-limit estimator removes, and the readout that
    tells a hardware-batch story ("how long do these devices LIVE?")
    none of the trend monitors can.

    Same estimator as the batch key: lifetimes bucket into
    ``bucket_days``-day buckets, n_risk is the suffix sum of bucket
    sizes, each factor (n−d)/n rounds at 6 dp, and Ŝ(t) is the
    order-pinned sequential fold round(acc·f, 6).  The corpus-sized
    work is ONE map-side-combinable per-device (min day, min event
    day, max day) rollup; the bucket table is CALENDAR-bounded
    (observation span / bucket_days rows), so the suffix sum and the
    KM fold run driver-side over a control-plane-sized collect —
    unlike the oracle-paired batch key there is no cross-engine hash
    to pin, so the fold needn't ride a HOF.

    Returns ``{"n_devices": int, "n_events": int, "n_censored": int,
    "median_survival_days": int | None, "km_curve": [{"t": int,
    "n_risk": int, "d": int, "c": int, "km": float}, ...]}`` (plain
    dict, foreachBatch-safe).  ``median_survival_days`` is the start
    day (t·bucket_days) of the first bucket where Ŝ(t) ≤ 0.5, None
    while the fleet's survival stays above half.  NULL-timestamp /
    NULL-device rows belong to no lifetime and are screened; rows
    where ``event_expr`` evaluates NULL simply aren't events.
    """
    df = spark.read.parquet(stage_path).filter(
        F.col(ts_col).isNotNull() & F.col(device_col).isNotNull()
    )
    day = _epoch_day(ts_col)
    per_dev = (
        df.select(
            F.col(device_col).alias("dev"),
            day.alias("day"),
            F.when(F.expr(event_expr), day).alias("event_day"),
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
            (
                F.coalesce(F.col("event_day"), F.col("last_day"))
                - F.col("first_day")
            )
            / F.lit(float(bucket_days))
        )
        .cast("int")
        .alias("t"),
        F.col("event_day").isNotNull().cast("int").alias("event"),
    )
    bucket = (
        life.groupBy("t")
        .agg(
            F.sum("event").alias("d"),
            F.sum(F.lit(1) - F.col("event")).alias("c"),
            F.count("*").alias("m"),
        )
        .orderBy("t")
        .collect()  # control-plane: calendar-bounded bucket table
    )
    if not bucket:
        return {"n_devices": 0, "n_events": 0, "n_censored": 0,
                "median_survival_days": None, "km_curve": []}

    def _r6(x: float) -> float:
        # HALF_UP at 6 dp on the shortest decimal repr — Spark/DuckDB
        # round() semantics, NOT Python's builtin banker's rounding, so
        # the fold stays value-identical to the batch twin's
        # round(acc*f, 6) recurrence on exact half-ties
        from decimal import ROUND_HALF_UP, Decimal

        return float(
            Decimal(repr(x)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    total = sum(int(r["m"]) for r in bucket)
    at_risk, curve, km, median = total, [], 1.0, None
    for r in bucket:
        t, d, c = int(r["t"]), int(r["d"]), int(r["c"])
        factor = _r6((at_risk - d) / at_risk)
        km = _r6(km * factor)
        curve.append({"t": t, "n_risk": at_risk, "d": d, "c": c, "km": km})
        if median is None and km <= 0.5:
            median = t * bucket_days
        at_risk -= d + c
    return {
        "n_devices": total,
        "n_events": sum(p["d"] for p in curve),
        "n_censored": sum(p["c"] for p in curve),
        "median_survival_days": median,
        "km_curve": curve,
    }


def auc_monitor_report(
    spark: SparkSession,
    stage_path: str,
    score_expr: str = "solar_panel_voltage",
    label_expr: str = "battery_voltage < 10.0",
    ts_col: str = "date_time",
    recent_days: int = 7,
    drop_threshold: float = 0.1,
) -> dict:
    """Scorer-discrimination drift monitor at the maintenance cadence —
    the streaming-maintenance twin of the batch ``x_auc`` key
    (plans/tierm.py), the way ``mann_whitney_monitor_report`` twins
    x_mann_whitney (VERDICT r10 #4's scorer-eval cadence): exact ROC
    AUC of a fixed scorer (``score_expr``) against a binary outcome
    (``label_expr``) computed SEPARATELY for the last ``recent_days``
    UTC epoch-days and for all prior history, answering "does the
    scorer still rank-discriminate the outcome this week".  The default
    pair audits whether solar-panel voltage still rank-predicts the
    low-battery alert condition — a sensor fault or firmware change
    that decouples them shows up here before any mean/trend monitor
    moves.

    Same rank-identity machinery as the batch key (Hanley & McNeil:
    AUC is the normalized Mann–Whitney U): tie-averaged ranks over the
    per-window DISTINCT-SCORE support table (scores pinned at 6 dp),
    rank sums accumulated in DECIMAL(38,0) for the same ~2e12-row
    overflow headroom as the MW monitor, AUC = (R₊ − n₊(n₊+1)/2)/
    (n₊·n₋) with a nullif guard so a single-class window reads None,
    not ANSI DIVIDE_BY_ZERO.

    Because AUC is invariant under monotone transforms but DIRECTION
    depends on the scorer's sign convention (low solar → low battery
    gives AUC < 0.5), drift is judged on DISCRIMINATION |2·AUC − 1|
    (the Gini magnitude): ``degraded`` fires when the recent window's
    discrimination fell more than ``drop_threshold`` below baseline.

    Returns ``{"n_recent": int, "n_baseline": int, "auc_recent":
    float | None, "auc_baseline": float | None,
    "delta_discrimination": float | None, "degraded": bool}`` (plain
    dict, foreachBatch-safe).  Windows with no rows or only one label
    class report auc = None and never fire the flag.

    Scale: one map-side-combinable (window, score, label) count over
    the corpus plus a 1-row max-day broadcast; the rank window rides
    the per-window distinct-score support (≤ 10⁶ + 1 distinct 6-dp
    scores regardless of corpus size); the final collect is ≤ 2 rows.
    No corpus sort.
    """
    from pyspark.sql.window import Window as W

    df = spark.read.parquet(stage_path)
    score = F.expr(score_expr)
    label = F.expr(label_expr)
    # NULL score/label/ts rows belong to no window and no rank — the
    # same screen-first hygiene as the MW/DiD/KM monitors (a NULL label
    # would count in t but join neither class, biasing every later
    # score's cumulative rank c).
    v = df.filter(
        score.isNotNull() & label.isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.round(score, 6).alias("score_r"),
        label.cast("int").alias("label"),
        _epoch_day(ts_col).alias("day"),
    )
    g = (
        _recent_window_flag(v, "win", recent_days)
        .groupBy("win", "score_r")
        .agg(F.count("*").alias("t"), F.sum("label").alias("pos"))
    )
    w = (
        W.partitionBy("win")
        .orderBy("score_r")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    r = g.withColumn("c", F.coalesce(F.sum("t").over(w), F.lit(0)))
    cells = (
        r.groupBy("win")
        .agg(
            F.sum(
                F.col("pos").cast("decimal(18,0)")
                * (2 * F.col("c") + F.col("t") + 1).cast("decimal(19,0)")
            ).alias("r_pos2"),
            F.sum("pos").alias("n_pos"),
            F.sum(F.col("t") - F.col("pos")).alias("n_neg"),
        )
        .selectExpr(
            "win", "CAST(n_pos + n_neg AS BIGINT) AS n",
            "round(CAST(r_pos2 - CAST(n_pos AS DECIMAL(19,0)) * (n_pos + 1)"
            " AS DOUBLE)"
            " / nullif(2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE),"
            " 0.0), 6) AS auc",
        )
        .collect()  # control-plane: <= 2 rows (recent / baseline)
    )
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
        "degraded": delta is not None and delta < -drop_threshold,
    }


def benford_monitor_report(
    spark: SparkSession,
    stage_path: str,
    value_col: str = "no_messages_sent_since_last_power_cycle",
    min_n: int = 100,
) -> dict:
    """Benford first-significant-digit forensic gate at the maintenance
    cadence — the streaming-maintenance twin of the batch ``x_benford``
    key (plans/tierl.py), the maintenance "Benford gate" of
    VERDICT r10 #4: the digit-1–9 distribution of ``value_col``
    (a naturally multiplicative counter — the default is the messages-
    since-power-cycle counter) against N·log10(1+1/d).  A firmware bug
    that clamps, fabricates, or truncates the counter drifts from the
    log-law; no reference sample is needed — the law IS the reference.

    The headline verdict is Nigrini's MAD (mean absolute deviation of
    the nine digit PROPORTIONS from Benford), because chi-square power
    grows with N — at fleet scale chi² flags immaterial deviations, so
    it is REPORTED (with the digit table) but the ``conforming`` flag
    reads the scale-free MAD against Nigrini's 0.015 nonconformity
    bound.  ``mad_verdict`` grades close ≤ 0.006 < acceptable ≤ 0.012
    < marginal ≤ 0.015 < nonconforming.  Fewer than ``min_n`` usable
    rows → conforming None (small-sample digit tests are noise).

    Returns ``{"n_total": int, "digits": {d: {"n", "expected_r",
    "chi_r"}}, "chi_total": float, "mad": float | None,
    "mad_verdict": str | None, "conforming": bool | None}`` (plain
    dict, foreachBatch-safe).

    Scale: digit extraction is floor → BIGINT → string prefix (never
    float formatting), then ONE map-side-combinable ≤ 9-group count;
    the spine/chi²/MAD fold runs driver-side on those ≤ 9 cells —
    control-plane, same economics as the batch key's 9-row tail.
    """
    import math

    # Screen to the digit-extractable domain BEFORE the ANSI casts: the
    # family convention (x_benford screens o_totalprice >= 1.0 — values
    # in (0,1) have no first digit under the integer-prefix extraction),
    # plus NaN (which compares GREATER than any numeric in Spark, so it
    # passes >= 1 and then throws in floor→BIGINT under ANSI) and the
    # 2^63 cast-overflow bound for double-typed columns (review r11).
    # The 9.0e18 bound is DELIBERATELY conservative (ADVICE r11): it
    # also drops legitimate BIGINTs in [9.0e18, 2^63) — all first-digit
    # 9, ~2.4% of the signed-64 range — because a double that close to
    # 2^63 can round UP across the cast boundary and overflow under
    # ANSI.  Counters that genuinely reach that magnitude will slightly
    # undercount the digit-9 cell; acceptable for a drift gate.
    vd = F.col(value_col).cast("double")
    counts = (
        spark.read.parquet(stage_path)
        .filter(
            F.col(value_col).isNotNull()
            & ~F.isnan(vd)
            & (vd >= 1.0)
            & (vd < 9.0e18)
        )
        .select(
            F.substring(
                F.floor(F.col(value_col)).cast("bigint").cast("string"), 1, 1
            )
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
        .collect()  # control-plane: <= 9 cells
    )
    obs = {int(r["digit"]): int(r["n"]) for r in counts}
    n_total = sum(obs.values())
    digits: dict[int, dict] = {}
    chi_total, mad_sum = 0.0, 0.0
    for d in range(1, 10):
        p = math.log10(1.0 + 1.0 / d)
        n = obs.get(d, 0)
        if n_total:
            expected = n_total * p
            chi = round((n - expected) ** 2 / expected, 6)
            mad_sum += abs(n / n_total - p)
        else:
            expected, chi = 0.0, 0.0
        digits[d] = {"n": n, "expected_r": round(expected, 6), "chi_r": chi}
        chi_total += chi
    if n_total < min_n:
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


def gini_monitor_report(
    spark: SparkSession,
    stage_path: str,
    key_col: str = "deviceid",
    ts_col: str = "date_time",
    recent_days: int = 7,
    jump_threshold: float = 0.05,
) -> dict:
    """Ingest-concentration drift monitor at the maintenance cadence —
    the streaming-maintenance twin of the batch ``x_gini_concentration``
    key (plans/tierk.py), the way ``benford_monitor_report`` twins
    x_benford (VERDICT r11 #5's cadence-echo ask): the Gini coefficient
    of the per-``key_col`` row-count distribution computed SEPARATELY
    for the last ``recent_days`` UTC epoch-days and for all prior
    history, answering "is ingest volume concentrating on few devices
    this week".  A stuck retry loop, a chatty firmware rollout, or a
    fleet-wide outage that silences all but a few gateways shows up as
    a Gini jump before any per-device trend monitor accumulates enough
    history to alarm.

    Same sorted-rank identity as the batch key (G = 2·Σ(i·xᵢ)/(n·Σx)
    − (n+1)/n, ranks = deterministic (count, key) row_numbers): Σ(i·xᵢ)
    and Σx are EXACT sums over the per-window device-count table, so
    each window's Gini is one fixed-order double expression over exact
    integers, rounded at 6 dp like the batch key.  Rank-sum headroom:
    i·c ≤ (#devices)·(rows/device); accumulated in DECIMAL(38,0) for
    the same ~2e12-row magnitudes the MW/AUC monitors argue.

    Returns ``{"n_recent": int, "n_baseline": int, "k_recent": int,
    "k_baseline": int, "gini_recent": float | None, "gini_baseline":
    float | None, "delta": float | None, "concentrating": bool}``
    (plain dict, foreachBatch-safe).  An empty window reads None and
    never fires; ``concentrating`` fires when the recent Gini rose more
    than ``jump_threshold`` above baseline.

    Scale: one map-side-combinable (window, key) count over the corpus
    plus a 1-row max-day broadcast; the rank window rides the
    per-window DEVICE-cardinality table (fleet-sized, not corpus-
    sized); the final collect is ≤ 2 rows.  No corpus sort.
    """
    from pyspark.sql.window import Window as W

    df = spark.read.parquet(stage_path)
    # NULL key/ts rows belong to no device and no window — the same
    # screen-first hygiene as the MW/AUC monitors.
    v = df.filter(
        F.col(key_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(F.col(key_col).alias("k"), _epoch_day(ts_col).alias("day"))
    g = (
        _recent_window_flag(v, "win", recent_days)
        .groupBy("win", "k")
        .agg(F.count("*").alias("c"))
    )
    w = W.partitionBy("win").orderBy(F.col("c").asc(), F.col("k").asc())
    r = g.select("win", "c", F.row_number().over(w).alias("i"))
    cells = (
        r.groupBy("win")
        .agg(
            F.count("*").alias("n"),
            F.sum("c").alias("tot"),
            F.sum(
                F.col("i").cast("decimal(19,0)")
                * F.col("c").cast("decimal(19,0)")
            ).alias("wsum"),
        )
        .selectExpr(
            "win", "n", "CAST(tot AS BIGINT) AS tot",
            "round(2.0 * CAST(wsum AS DOUBLE)"
            " / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE))"
            " - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) AS gini",
        )
        .collect()  # control-plane: <= 2 rows (recent / baseline)
    )
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
        "concentrating": delta is not None and delta > jump_threshold,
    }


def source_kl_monitor_report(
    spark: SparkSession,
    stage_path: str,
    cat_col: str = "deviceid",
    ts_col: str = "date_time",
    recent_days: int = 7,
    kl_threshold: float = 0.1,
) -> dict:
    """Categorical-mix drift monitor at the maintenance cadence — the
    streaming-maintenance twin of the batch ``x_source_kl`` key
    (plans/tierg.py), completing the two-sample family: PSI
    (drift_psi_report) bins a NUMERIC column against a persisted
    profile, Mann–Whitney tests a numeric distribution recent-vs-
    history, THIS reads KL(p_recent ‖ p_baseline) in nats over a
    CATEGORICAL column's mix — "did traffic composition shift this
    week", e.g. one device class going silent or a new talker ID
    flooding in.

    Same smoothing convention as the batch key: +0.5 Laplace counts on
    the UNION category scaffold (both windows densified over all
    categories seen in either), so the KL is finite by construction —
    a category present recently but absent from baseline contributes a
    large-but-finite term instead of ∞.  Same 6-dp round.

    Returns ``{"n_recent": int, "n_baseline": int, "k_categories": int,
    "kl_nats": float | None, "shifted": bool}`` (plain dict,
    foreachBatch-safe).  Either window empty → kl None, no verdict
    (smoothing alone would otherwise fabricate a uniform recent mix
    and "compare" it).

    Scale: one map-side-combinable (category, window) count over the
    corpus plus a 1-row max-day broadcast; smoothing/normalizing rides
    the category-cardinality table with two 1-row broadcast totals;
    the final collect is 1 row.  No corpus sort.
    """
    df = spark.read.parquet(stage_path)
    v = df.filter(
        F.col(cat_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(F.col(cat_col).alias("cat"), _epoch_day(ts_col).alias("day"))
    # one (category) row holding both windows' counts: a = recent,
    # t - a = baseline — the union scaffold falls out for free (any
    # category seen in either window has a row; absent sides smooth)
    g = (
        _recent_window_flag(v, "win", recent_days)
        .groupBy("cat")
        .agg(F.count("*").alias("t"), F.sum("win").alias("a"))
        .select(
            "cat",
            "t",
            "a",
            (F.col("a").cast("double") + 0.5).alias("cs_r"),
            ((F.col("t") - F.col("a")).cast("double") + 0.5).alias("cs_b"),
        )
    )
    tot = g.agg(
        F.sum("cs_r").alias("ts_r"),
        F.sum("cs_b").alias("ts_b"),
        F.sum("a").alias("n_r"),
        F.sum(F.col("t") - F.col("a")).alias("n_b"),
        F.count("*").alias("k"),
    )
    term = (F.col("cs_r") / F.col("ts_r")) * F.log(
        (F.col("cs_r") / F.col("ts_r")) / (F.col("cs_b") / F.col("ts_b"))
    )
    rows = (
        g.crossJoin(tot)
        .agg(
            F.round(F.sum(term), 6).alias("kl"),
            F.first("n_r").alias("n_r"),
            F.first("n_b").alias("n_b"),
            F.first("k").alias("k"),
        )
        .collect()  # control-plane: 1 row
    )
    if not rows or rows[0]["k"] is None or int(rows[0]["k"]) == 0:
        return {"n_recent": 0, "n_baseline": 0, "k_categories": 0,
                "kl_nats": None, "shifted": False}
    row = rows[0]
    n_recent, n_baseline = int(row["n_r"]), int(row["n_b"])
    kl = float(row["kl"]) if row["kl"] is not None else None
    if n_recent == 0 or n_baseline == 0:
        kl = None  # smoothing alone must not fabricate a comparison
    return {
        "n_recent": n_recent,
        "n_baseline": n_baseline,
        "k_categories": int(row["k"]),
        "kl_nats": kl,
        "shifted": kl is not None and kl > kl_threshold,
    }


def heavy_hitters_monitor_report(
    spark: SparkSession,
    stage_path: str,
    key_col: str = "deviceid",
    ts_col: str = "date_time",
    recent_days: int = 7,
    k: int = 10,
    share_threshold: float = 0.5,
    depth: int = 4,
    width: int = 1024,
) -> dict:
    """Token-flood monitor at the maintenance cadence — the streaming-
    maintenance twin of the batch ``x_heavy_hitters`` key
    (plans/tieri.py), the way gini/source-KL twin their batch keys
    (VERDICT r12 #7's suggested echo): the count-min sketch (Cormode &
    Muthukrishnan '05, operators/sketches.py) built over the last
    ``recent_days`` UTC epoch-days of ``key_col`` traffic, its top-``k``
    heavy hitters adjudicated against the exact recount, and a flood
    verdict — "is one key swamping recent ingest, and WHICH".  Gini
    says concentration rose; THIS names the keys doing it and prices
    the sketch you'd deploy to watch for them between census runs.

    Same grid, hashes, and never-underestimates invariant as the batch
    key: cells come from ``cms_from_counts`` over the exact per-key
    recount (cell-identical to the production ``cms_from_stream`` by
    associativity — the equivalence is pytest-pinned on corpus data),
    estimates from ``cms_estimate``'s broadcast-probe min.  A broken
    sketch build/probe flips ``cms_sound``.

    Returns ``{"n_recent": int, "k_distinct_recent": int, "top":
    [{"key": str, "exact_n": int, "est": int, "overcount": int,
    "share": float}, ...], "top_share": float | None, "flooding": bool,
    "cms_sound": bool | None, "max_overcount": int | None}`` (plain
    dict, foreachBatch-safe).  An empty window reads empty/None and
    never fires.

    Scale: the corpus-sized work is ONE map-side-combinable (key)
    count over the recent window; the sketch is ≤ depth·width rows and
    broadcasts into the k-row estimate probe; top-k rides a fleet-sized
    count table; the final collect is ≤ k + 1 rows.  With an UNBOUNDED
    key universe (raw tokens, not device ids), drop the exact side for
    ``cms_from_stream`` + an external candidate list — the report shape
    and the sketch economics (partial state capped at depth·width
    counters per partition) are unchanged; the exact recount here is
    the adjudication side, exactly as in the batch key.
    """
    from ..operators.sketches import cms_estimate, cms_from_counts

    df = spark.read.parquet(stage_path)
    v = df.filter(
        F.col(key_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.col(key_col).cast("string").alias("k"),
        _epoch_day(ts_col).alias("day"),
    )
    recent = _recent_window_flag(v, "win", recent_days).filter(
        F.col("win") == 1
    )
    # the fleet-sized count table feeds THREE consumers (sketch build,
    # top-k, totals) across two actions — stored so the corpus
    # scan+count runs once
    cnt = stored(recent.groupBy("k").agg(F.count("*").alias("exact_n")))
    sketch = cms_from_counts(cnt, "k", "exact_n", depth=depth, width=width)
    topk = (
        cnt.orderBy(F.col("exact_n").desc(), F.col("k").asc()).limit(k)
    )
    est = cms_estimate(topk, sketch, "k", depth=depth, width=width)
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
        "flooding": top_share > share_threshold,
        "cms_sound": all(t["overcount"] >= 0 for t in top),
        "max_overcount": max(t["overcount"] for t in top),
    }


def dedup_census_monitor_report(
    spark: SparkSession,
    corpus_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    max_df: int = 10,
    dup_mass_threshold: float = 0.2,
) -> dict:
    """Near-dup census monitor at the maintenance cadence — the
    streaming-maintenance twin of the batch ``x_dedup_census`` key
    (plans/tierg.py), the VERDICT r13 #6 echo: run the GUARDED near-dup
    pipeline (rare-shingle inverted index, ``max_df`` boilerplate
    screen, exact Jaccard scores, connected components — the
    x_dedup_census configuration exactly) over the document batch at
    ``corpus_path`` and publish the cluster-size census plus a
    template-flood verdict.  The Gini/heavy-hitter monitors say ingest
    CONCENTRATION rose; THIS localizes it in document space — how much
    of the arriving batch is near-duplicate mass (``dup_mass``), and
    WHICH template family is the largest (``top_template`` = the
    biggest cluster's min-id representative), the alarm the guarded
    dedup knobs (max_df/max_bucket) exist to absorb.

    Unlike the stage-zone monitors this one is BATCH-anchored, not
    recent-window-anchored: a census is published per ingest batch
    (``corpus_path`` IS the batch in a foreachBatch deployment), and
    cross-batch near-dup state is the dedup ledger's job
    (``x_dedup_ledger_near``, plans/tierc.py) — re-censusing all
    history every cadence would redo the ledger's work quadratically.

    Returns ``{"n_docs": int, "n_clusters": int, "census":
    [{"cluster_size": int, "n_clusters": int, "n_docs": int}, ...],
    "dup_mass": float | None, "max_cluster": int | None,
    "top_template": {"cluster_id": ..., "size": int} | None,
    "flooding": bool}`` (plain dict, foreachBatch-safe); ``census`` is
    ascending by cluster_size.  An empty batch reads empty/None and
    never fires; ``flooding`` fires when the share of docs sitting in
    size ≥ 2 clusters exceeds ``dup_mass_threshold``.

    Scale: the corpus-sized work is the guarded dedup path itself
    (worst bucket bounded at max_df² pairs; CC rides pair-sized edges)
    — the census on top is two keyed counts over the label table, and
    the collects are control-plane-sized: the size histogram
    (≤ distinct-sizes rows) and the 1-row top cluster.  The
    cluster-size table feeds both, so it is stored once.
    """
    from ..operators.dedup import connected_components, ngram_jaccard_pairs

    df = spark.read.parquet(corpus_path)
    corpus = df.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    edges = ngram_jaccard_pairs(
        corpus, threshold=threshold, max_df=max_df
    ).select("id_a", "id_b")
    labels = connected_components(edges, corpus.select("doc_id"))
    cs = stored(labels.groupBy("cluster_id").agg(F.count("*").alias("sz")))
    census_rows = (
        cs.groupBy("sz")
        .agg(F.count("*").alias("n_clusters"))
        .orderBy("sz")
        .collect()
    )  # control-plane: <= distinct-cluster-sizes rows
    if not census_rows:
        return {"n_docs": 0, "n_clusters": 0, "census": [],
                "dup_mass": None, "max_cluster": None,
                "top_template": None, "flooding": False}
    top = cs.orderBy(
        F.col("sz").desc(), F.col("cluster_id").asc()
    ).limit(1).collect()[0]  # control-plane: 1 row
    census = [
        {"cluster_size": int(r["sz"]), "n_clusters": int(r["n_clusters"]),
         "n_docs": int(r["sz"]) * int(r["n_clusters"])}
        for r in census_rows
    ]
    n_docs = sum(c["n_docs"] for c in census)
    dup_docs = sum(c["n_docs"] for c in census if c["cluster_size"] >= 2)
    dup_mass = round(dup_docs / n_docs, 6)  # census non-empty ⇒ n_docs ≥ 1
    return {
        "n_docs": n_docs,
        "n_clusters": sum(c["n_clusters"] for c in census),
        "census": census,
        "dup_mass": dup_mass,
        "max_cluster": census[-1]["cluster_size"],
        "top_template": {"cluster_id": top["cluster_id"],
                         "size": int(top["sz"])},
        "flooding": dup_mass > dup_mass_threshold,
    }


def sketch_store_monitor_report(
    spark: SparkSession,
    stage_path: str,
    key_col: str = "deviceid",
    ts_col: str = "date_time",
    recent_days: int = 7,
    lg_k: int = 12,
    tol: float = 0.05,
    as_of_day: int | None = None,
) -> dict:
    """Per-day HLL sketch-store health monitor at the maintenance
    cadence — the streaming-maintenance twin of the batch
    ``x_active_users_hll`` key (plans/tierl.py), the other VERDICT r12
    #7 echo: for each of the last ``recent_days`` UTC epoch-days, build
    the day's HyperLogLog distinct-``key_col`` sketch
    (``hll_sketch_agg``, same lgConfigK as the batch key) and adjudicate
    its estimate against the exact per-day distinct; then UNION the
    daily sketches across the window (``hll_union_agg``) and adjudicate
    the union against the exact window distinct — the mergeability
    invariant the whole persisted-sketch-store dashboard economics
    rests on, checked at cadence.  A day with rows missing from the
    window also surfaces (``missing_days``): an ingestion gap reads as
    absent state, not a silently-shorter average.

    Window anchoring and the trailing-gap blind spot (ADVICE r13): the
    default window is DATA-anchored at the observed max day
    (``_recent_window_flag``, shared with every recent-vs-history
    monitor), which catches leading and interior gaps but is inherently
    blind to a TRAILING gap — a complete ingest stall re-anchors the
    window at the last day that did arrive and reads as a full window.
    Pass ``as_of_day`` (the caller's wall-clock UTC epoch-day, e.g.
    ``int(time.time()) // 86400``) to anchor the window at now instead:
    the window becomes (as_of_day - recent_days, as_of_day], stall days
    count into ``missing_days``, and a fully stalled store reads
    n_days 0 with missing_days = the expected span (healthy stays the
    estimate-quality verdict — None with nothing to adjudicate — while
    missing_days carries the gap signal, same as the default mode).  A
    store with no rows at all still reads empty/None and never fires:
    with no observed state the monitor cannot distinguish "stalled"
    from "never deployed".

    Returns ``{"days": [{"day": int, "exact": int, "est": int,
    "rel_err": float, "ok": bool}, ...], "n_days": int, "missing_days":
    int, "union_exact": int, "union_est": int, "union_ok": bool | None,
    "healthy": bool | None}`` (plain dict, foreachBatch-safe).  An
    empty window reads empty/None and never fires; ``healthy`` is True
    iff every per-day estimate AND the union estimate sit within
    ``tol`` relative error (lgK 12 ⇒ ~1.6 % stderr, so 5 % is a 3σ
    gate; fleet-sized daily cardinalities sit in the sketch's sparse
    regime where the estimate is exact).

    Scale: the corpus-sized work is ONE map-side-combinable per-day
    aggregate (partial state = one 4 KB sketch per day per partition,
    plus the exact-distinct adjudication side — drop the exact columns
    in production and the pass is pure sketch); the union rides the
    ≤ ``recent_days``-row daily table; the final collect is
    ≤ recent_days + 1 rows.  Persist the daily sketches next to the
    stage zone and this health row needs no corpus rescan at all —
    the x_active_users_hll store economics, monitored.
    """
    df = spark.read.parquet(stage_path)
    v = df.filter(
        F.col(key_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(F.col(key_col).alias("k"), _epoch_day(ts_col).alias("day"))
    if as_of_day is not None:
        # wall-clock anchoring: the window is fixed at the caller's
        # "now", so a trailing ingest gap cannot re-anchor it (docstring)
        recent = v.filter(
            (F.col("day") > F.lit(as_of_day - recent_days))
            & (F.col("day") <= F.lit(as_of_day))
        )
    else:
        recent = _recent_window_flag(v, "win", recent_days).filter(
            F.col("win") == 1
        )
    # the calendar-sized daily sketch table feeds two actions (per-day
    # readout, union readout) — stored so the corpus-sized sketch build
    # runs once (the union-exact and age-bounds aggregates below are
    # separate column-pruned scans by necessity — neither is derivable
    # from the per-day table)
    daily = stored(recent.groupBy("day").agg(
        F.hll_sketch_agg("k", F.lit(lg_k)).alias("sk"),
        F.countDistinct("k").alias("exact"),
    ))
    per_day = daily.select(
        "day", "exact", F.hll_sketch_estimate("sk").alias("est")
    ).orderBy("day").collect()  # control-plane: <= recent_days rows
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
                    0, min(recent_days, as_of_day - int(b["lo"]) + 1)
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
        return rel, rel <= tol

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
    expected = min(recent_days, anchor - int(bounds["lo"]) + 1)
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


def pipeline_maintenance(
    spark: SparkSession,
    stage_path: str,
    declared: StructType,
    catalog_tables: list[str] | None = None,
) -> dict:
    """One crawler pass — the in-engine analog of the reference's nightly
    Glue crawler (``cron(0 4 * * ? *)``, cdk_datalake_mvp_stack.py:320-335):
    LOG (never apply) schema drift on the stage zone and discover new
    partitions for the registered ``catalog_tables``.

    Like the crawler, it runs beside the stream on its own schedule, never
    inside a micro-batch.  The data monitors (``stage_quality_report``,
    ``drift_psi_report``, ``timeseries_monitor_report`` and the other
    ``*_monitor_report`` functions) are separate calls on the same
    schedule.

    Returns ``{"drift": [(column, declared, observed, status), ...],
    "drift_status_counts": {...}, "recovered_tables": [...]}`` — a plain
    dict, no Spark objects.
    """
    import os as _os

    report: dict = {"drift": [], "drift_status_counts": {}, "recovered_tables": []}
    if _os.path.isdir(stage_path):
        drift = schema_drift_report(spark, stage_path, declared)
        rows = [
            (r["column"], r["declared_type"], r["observed_type"], r["status"])
            for r in drift.collect()
        ]
        report["drift"] = rows
        counts: dict[str, int] = {}
        for _, _, _, status in rows:
            counts[status] = counts.get(status, 0) + 1
        report["drift_status_counts"] = counts
    for t in catalog_tables or []:
        if spark.catalog.tableExists(t):
            spark.catalog.recoverPartitions(t)
            report["recovered_tables"].append(t)
    return report


def analyze_tables(spark: SparkSession, tables: list[str],
                   columns: dict[str, list[str]] | None = None) -> dict[str, str]:
    """A20+ maintenance: compute catalog statistics so the cost-based
    optimizer has real cardinalities — table-level row/size stats plus
    optional per-column min/max/NDV histograms (``columns[table]``).

    At 100 TB this is what makes Catalyst's CBO join reordering and
    broadcast decisions correct: without ANALYZE, Spark falls back to
    file-size estimates that ignore selectivity.  Run it after large
    loads/compactions, like the reference's nightly crawler cadence
    (cdk_datalake_mvp_stack.py:325).

    Returns {table: catalog statistics string} for report/assertion.
    """
    out: dict[str, str] = {}
    for t in tables:
        spark.sql(f"ANALYZE TABLE {t} COMPUTE STATISTICS")
        cols = (columns or {}).get(t)
        if cols:
            col_list = ", ".join(cols)
            spark.sql(f"ANALYZE TABLE {t} COMPUTE STATISTICS FOR COLUMNS {col_list}")
        desc = spark.sql(f"DESCRIBE TABLE EXTENDED {t}").collect()
        stats = [r["data_type"] for r in desc if r["col_name"] == "Statistics"]
        out[t] = stats[0] if stats else ""
    return out


def stage_quality_report(spark: SparkSession, stage_path: str) -> dict[str, int]:
    """Data-quality gate over the stage zone (the per-partition analog of
    the x_data_checks lake gate): key-field null counts, battery-voltage
    domain range, and duplicate delivery detection — ALL computed in one
    map-side-combined aggregate job, so the gate costs a single scan no
    matter how many constraints ride it.

    Returns ``{check_name: violation_count}`` (plain dict, like
    pipeline_maintenance's report).
    """
    df = spark.read.parquet(stage_path)
    row = df.agg(
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
