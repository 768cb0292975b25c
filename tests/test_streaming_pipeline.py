"""End-to-end pipeline test (SURVEY.md §5.2.3): mixed SOH/sensor/unknown
envelopes through one streaming trigger; assert stage parquet, raw-zone
tees, alert sink, error routing — lifecycle §3.1-3.2."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.schemas import STAGE_COLUMNS
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.sources.fixtures import envelope_rows
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.streaming import start_pipeline


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("pipeline")
    landing = root / "landing"
    landing.mkdir()
    with open(landing / "batch-0001.json", "w") as f:
        for row in envelope_rows(n_soh=6, n_sensor=5, n_unknown=2):
            f.write(json.dumps(row) + "\n")
    results = []
    q = start_pipeline(
        spark,
        str(landing),
        str(root / "lake"),
        str(root / "ckpt"),
        available_now=True,
        results=results,
    )
    q.awaitTermination(180)
    return root / "lake", results


def test_batch_counters(lake):
    _, results = lake
    assert len(results) == 1
    assert results[0].counts == {"soh": 6, "sensor": 5, "unknown": 2}


def test_stage_rows_and_schema(spark, lake):
    lake_dir, _ = lake
    stage = spark.read.parquet(str(lake_dir / "stage"))
    # only SOH reaches stage (hello.py:194-199); 30 cols + 3 partition keys
    assert stage.count() == 6
    assert sorted(stage.columns) == sorted(STAGE_COLUMNS + ["year", "month", "day"])
    # event-time partitioning: fixture date_time ~ 2023-11-14 epoch
    parts = {r["year"] for r in
             stage.select(F.col("year").cast("string")).distinct().collect()}
    assert parts == {"2023"}
    # geocode enrichment landed (broadcast dim join)
    assert stage.filter(F.col("country").isNull()).count() == 0


def test_raw_zone_tees(spark, lake):
    lake_dir, _ = lake
    for cls, n in [("soh", 6), ("sensor", 5), ("unknown", 2)]:
        raw = spark.read.json(str(lake_dir / "raw" / cls))
        assert raw.count() == n, cls
        # processing-time partitions exist
        assert {"year", "month", "day"} <= set(raw.columns)


def test_alert_sink(spark, lake):
    lake_dir, _ = lake
    alerts = spark.read.parquet(str(lake_dir / "alerts"))
    # fixtures: i%3==0 → sv=10 (low solar, i=0,3), i%4==0 → bv=3.5 (low batt, i=0,4)
    by_type = {r["alert_type"]: r["cnt"] for r in
               alerts.groupBy("alert_type").agg(F.count("*").alias("cnt")).collect()}
    assert by_type == {"low_battery+low_solar": 1, "low_solar": 1, "low_battery": 1}


def test_error_route_on_bad_payload(spark, tmp_path):
    """A malformed SOH payload (valid base64, invalid JSON) routes to
    error/ and is excluded from stage (cdk_datalake_mvp_stack.py:213)."""
    import base64

    landing = tmp_path / "landing"
    landing.mkdir()
    rows = envelope_rows(n_soh=2, n_sensor=0, n_unknown=0)
    rows[0]["data"] = base64.b64encode(b"{this is not json").decode()
    with open(landing / "b.json", "w") as f:
        for row in rows:
            f.write(json.dumps(row) + "\n")
    q = start_pipeline(spark, str(landing), str(tmp_path / "lake"),
                       str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(180)
    stage = spark.read.parquet(str(tmp_path / "lake" / "stage"))
    assert stage.count() == 1
    errors = spark.read.json(str(tmp_path / "lake" / "error"))
    assert errors.count() == 1
    assert errors.first()["recordId"] == rows[0]["recordId"]


def test_incremental_second_trigger(spark, tmp_path):
    """New landing files are picked up incrementally by a second
    available-now run over the same checkpoint (exactly-once per batch).

    Self-contained (own landing/lake/ckpt): mutating the module-scoped
    ``lake`` fixture would make the module order-dependent."""
    landing = tmp_path / "landing"
    landing.mkdir()
    with open(landing / "batch-0001.json", "w") as f:
        for row in envelope_rows(n_soh=6, n_sensor=0, n_unknown=0):
            f.write(json.dumps(row) + "\n")
    results = []
    q = start_pipeline(spark, str(landing), str(tmp_path / "lake"),
                       str(tmp_path / "ckpt"), available_now=True, results=results)
    q.awaitTermination(180)
    with open(landing / "batch-0002.json", "w") as f:
        for row in envelope_rows(n_soh=3, n_sensor=0, n_unknown=0):
            f.write(json.dumps(row) + "\n")
    q = start_pipeline(spark, str(landing), str(tmp_path / "lake"),
                       str(tmp_path / "ckpt"), available_now=True, results=results)
    q.awaitTermination(180)
    stage = spark.read.parquet(str(tmp_path / "lake" / "stage"))
    assert stage.count() == 9  # 6 + 3, first batch NOT reprocessed
    assert len(results) == 2 and results[1].counts == {"soh": 3}


def test_absent_class_writes_no_raw_files(spark, tmp_path):
    """The per-class counts come from an Observation on the classified
    frame, not from a job of their own; a class with no rows still gets
    no raw-zone directory.  A batch without SOH rows (whose stage write
    AQE would reduce to an empty relation, dropping the observed scan)
    and an empty batch still report their counts."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.geocode import (
        build_geo_dim,
    )
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.sources.fixtures import (
        envelope_df,
    )
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.streaming.pipeline import (
        process_batch,
    )

    geo = build_geo_dim(spark)
    lake = tmp_path / "lake"
    res = process_batch(envelope_df(spark, n_soh=3, n_sensor=0, n_unknown=0),
                        0, str(lake), geo)
    assert res.counts == {"soh": 3}
    assert (lake / "raw" / "soh").is_dir()
    assert not (lake / "raw" / "sensor").exists()
    assert not (lake / "raw" / "unknown").exists()

    no_soh = tmp_path / "no_soh"
    res = process_batch(envelope_df(spark, n_soh=0, n_sensor=2, n_unknown=1),
                        1, str(no_soh), geo)
    assert res.counts == {"sensor": 2, "unknown": 1}
    assert not (no_soh / "raw" / "soh").exists()
    assert (no_soh / "raw" / "sensor").is_dir()

    empty = tmp_path / "empty"
    res = process_batch(envelope_df(spark, n_soh=0, n_sensor=0, n_unknown=0),
                        2, str(empty), geo)
    assert res.counts == {}
    assert not (empty / "raw").exists()


def test_corrupt_envelope_line_routes_to_error(spark, tmp_path):
    """A landing line that isn't valid JSON at all (envelope-level
    corruption, not just a bad inner payload) must not kill the batch:
    the schema-projected null row classifies as SOH (null data is not
    double-encoded) and falls into the error route."""
    landing = tmp_path / "landing"
    landing.mkdir()
    rows = envelope_rows(n_soh=2, n_sensor=1, n_unknown=0)
    with open(landing / "b.json", "w") as f:
        f.write(json.dumps(rows[0]) + "\n")
        f.write("this is not json at all {{{\n")
        for row in rows[1:]:
            f.write(json.dumps(row) + "\n")
    q = start_pipeline(spark, str(landing), str(tmp_path / "lake"),
                       str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(180)
    stage = spark.read.parquet(str(tmp_path / "lake" / "stage"))
    assert stage.count() == 2          # the two good SOH rows
    errors = spark.read.json(str(tmp_path / "lake" / "error"))
    assert errors.count() == 1         # the corrupt line, durably parked


def test_rollup_incremental_refresh(spark, tmp_path):
    """Continuous aggregate: the rollup equals a full re-aggregation of
    stage after every batch, and a batch only rewrites the event-day
    partitions it touched (dynamic partition overwrite leaves other days'
    files untouched)."""
    import base64
    import glob
    import os

    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.sources.fixtures import soh_data

    def envelope(rid, dev, data):
        return {
            "recordId": f"rec-{rid:04d}", "packetId": 1000 + rid,
            "deviceType": 1, "deviceId": 100 + dev, "userApplicationId": 7,
            "organizationId": 42, "len": 64, "status": 0,
            "hiveRxTime": "2023-11-14 22:00:00", "data": data,
        }

    landing = tmp_path / "landing"
    landing.mkdir()
    lake = tmp_path / "lake"
    DAY_A, DAY_B = 1_700_000_000, 1_700_000_000 + 3 * 86_400  # Nov 14 / Nov 17

    def run_available_now():
        q = start_pipeline(spark, str(landing), str(lake), str(tmp_path / "ckpt"),
                           available_now=True, maintain_rollup=True)
        q.awaitTermination(180)

    def assert_rollup_matches_stage():
        stage = spark.read.parquet(str(lake / "stage"))
        expected = (
            stage.groupBy("deviceid", "year", "month", "day")
            .agg(
                F.count("*").alias("n_heartbeats"),
                F.round(F.avg("battery_voltage"), 4).alias("avg_battery_voltage"),
                F.round(F.avg("solar_panel_voltage"), 4).alias("avg_solar_voltage"),
                F.min("date_time").alias("first_seen"),
                F.max("date_time").alias("last_seen"),
            )
        )
        # partitioned read-back reorders partition cols to the end — compare
        # on an explicit column order
        cols = ["deviceid", "year", "month", "day", "n_heartbeats",
                "avg_battery_voltage", "avg_solar_voltage", "first_seen", "last_seen"]
        rollup = spark.read.parquet(str(lake / "rollup_daily_device")).select(*cols)
        assert sorted(map(tuple, rollup.collect())) == sorted(
            map(tuple, expected.select(*cols).collect())
        )

    with open(landing / "b1.json", "w") as f:
        for i in range(4):
            f.write(json.dumps(envelope(i, i % 2, soh_data(i, d=DAY_A))) + "\n")
    run_available_now()
    assert_rollup_matches_stage()

    day_a_files = sorted(glob.glob(str(lake / "rollup_daily_device/year=*/month=*/day=14/*.parquet")))
    assert day_a_files
    mtimes_before = [os.path.getmtime(p) for p in day_a_files]

    with open(landing / "b2.json", "w") as f:
        for i in range(3):
            f.write(json.dumps(envelope(100 + i, i % 2, soh_data(i, d=DAY_B))) + "\n")
    run_available_now()
    assert_rollup_matches_stage()
    # day-A partition untouched by day-B batch
    assert [os.path.getmtime(p) for p in day_a_files] == mtimes_before

    # replaying a batch's refresh is idempotent (recompute, not delta-merge)
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.sources.maintenance import (
        refresh_rollup,
    )

    touched = [
        (r["year"], r["month"], r["day"])
        for r in spark.read.parquet(str(lake / "stage"))
        .select("year", "month", "day").distinct().collect()
    ]
    refresh_rollup(spark, str(lake / "stage"), str(lake / "rollup_daily_device"), touched)
    assert_rollup_matches_stage()
    # and the replay leaves exactly one row per (device, day) group — a
    # delta-merge scheme would have doubled them
    rollup = spark.read.parquet(str(lake / "rollup_daily_device"))
    assert (
        rollup.groupBy("deviceid", "year", "month", "day").count()
        .filter(F.col("count") > 1).count() == 0
    )


def test_ingest_to_queryable_within_two_triggers(spark, tmp_path):
    """End-to-end latency gate (BASELINE.md: ingest → queryable ≤ 2
    trigger intervals, from the reference's 60 s Firehose buffer,
    cdk_datalake_mvp_stack.py:166). Runs the REAL processing-time trigger
    at a scaled-down interval: after a warm-up record pays one-time
    JVM/codegen/sink-init cost, a newly landed record must be visible in
    stage parquet within 2 × trigger."""
    import time

    landing = tmp_path / "landing"
    landing.mkdir()
    lake = tmp_path / "lake"
    trigger = 6
    q = start_pipeline(
        spark, str(landing), str(lake), str(tmp_path / "ckpt"),
        trigger_seconds=trigger,
    )

    def stage_count() -> int:
        try:
            return spark.read.parquet(str(lake / "stage")).count()
        except Exception:
            return 0  # sink dir not created yet

    try:
        with open(landing / "warm.json", "w") as f:
            for row in envelope_rows(n_soh=1, n_sensor=0, n_unknown=0):
                f.write(json.dumps(row) + "\n")
        deadline = time.monotonic() + 120
        while stage_count() < 1 and time.monotonic() < deadline:
            time.sleep(0.5)
        warm = stage_count()
        assert warm >= 1, "warm-up record never reached stage"

        with open(landing / "probe.json", "w") as f:
            for row in envelope_rows(n_soh=2, n_sensor=0, n_unknown=0):
                f.write(json.dumps(row) + "\n")
        t0 = time.monotonic()
        bound = 2 * trigger
        while stage_count() < warm + 2 and time.monotonic() - t0 < bound + 30:
            time.sleep(0.25)
        latency = time.monotonic() - t0
        assert stage_count() >= warm + 2, "probe records never reached stage"
        assert latency <= bound, (
            f"ingest→queryable took {latency:.1f}s, bound is {bound}s (2 triggers)"
        )
    finally:
        q.stop()


def test_late_event_lands_in_old_event_date_partition(spark, tmp_path):
    """Late-data drill under the real processing-time trigger cadence
    (reference fidelity: stage partitions derive from the EVENT epoch
    ``d`` — cdk_datalake_mvp_stack.py:214,232-234 — never from arrival
    time): a record arriving in a LATER trigger with a 30-day-old event
    timestamp must land in its old event-date partition directory, while
    its raw-zone tee partitions by processing date (today) — the two
    partition schemes must diverge on exactly this row."""
    import datetime
    import glob
    import time

    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.sources.fixtures import (
        soh_data,
    )

    def envelope(rid: str, data: str) -> dict:
        return {
            "recordId": rid, "packetId": 1, "deviceType": 1, "deviceId": 101,
            "userApplicationId": 7, "organizationId": 42, "len": 64,
            "status": 0, "hiveRxTime": "2023-11-14 22:00:00", "data": data,
        }

    landing = tmp_path / "landing"
    landing.mkdir()
    lake = tmp_path / "lake"
    trigger = 5
    # a batch's result is appended only after ALL its sinks (stage AND the
    # raw tees) are written, so waiting on results never stops the query
    # between the stage write and the tee
    results = []
    q = start_pipeline(
        spark, str(landing), str(lake), str(tmp_path / "ckpt"),
        trigger_seconds=trigger, results=results,
    )
    try:
        # trigger 1: an on-time record (event epoch 1700000000 → 2023-11-14)
        with open(landing / "ontime.json", "w") as f:
            f.write(json.dumps(envelope("rec-ontime", soh_data(0))) + "\n")
        deadline = time.monotonic() + 120
        while len(results) < 1 and time.monotonic() < deadline:
            time.sleep(0.5)
        assert len(results) >= 1, "on-time record's batch never finished"

        # trigger 2+: a LATE record — event epoch 30 days older
        late_epoch = 1_700_000_000 - 30 * 86_400  # 2023-10-15 UTC
        with open(landing / "late.json", "w") as f:
            f.write(json.dumps(envelope("rec-late", soh_data(0, d=late_epoch))) + "\n")
        t0 = time.monotonic()
        while len(results) < 2 and time.monotonic() - t0 < 2 * trigger + 30:
            time.sleep(0.25)
        assert len(results) >= 2, "late record's batch never finished"
    finally:
        q.stop()

    stage = spark.read.parquet(str(lake / "stage"))
    # the late row is the only one in its 30-day-old event-date partition
    # (stage's 30-col schema drops recordId — raw zones keep it); partition
    # values read back as ints
    late = stage.filter(
        (F.col("year") == 2023) & (F.col("month") == 10) & (F.col("day") == 15)
    ).collect()
    assert len(late) == 1
    on_time = stage.filter(F.col("month") == 11)
    assert on_time.count() == 1  # the trigger-1 row stayed in 2023-11-14
    # the physical partition directory exists — late data appended to an
    # OLD event-date prefix, exactly the Firehose dynamic-partitioning shape
    assert glob.glob(str(lake / "stage" / "year=2023" / "month=10" / "day=15" / "*.parquet"))
    # raw tee for the same record partitions by PROCESSING date = today —
    # in UTC: the session pins spark.sql.session.timeZone=UTC, so
    # current_timestamp-derived partitions are UTC dates (local
    # date.today() would be a day behind for hours on any host west of
    # UTC)
    today = datetime.datetime.now(datetime.timezone.utc).date()
    raw = spark.read.json(str(lake / "raw" / "soh"))
    raw_late = raw.filter(F.col("recordId") == "rec-late").collect()
    assert len(raw_late) == 1
    assert (raw_late[0]["year"], raw_late[0]["month"], raw_late[0]["day"]) == (
        today.year, today.month, today.day,
    )


def _stage_files_by_day(lake) -> dict[tuple[int, int, int], int]:
    import glob
    import os

    out = {}
    for d in glob.glob(str(lake / "stage" / "year=*" / "month=*" / "day=*")):
        parts = dict(p.split("=") for p in d.split("/")[-3:])
        key = (int(parts["year"]), int(parts["month"]), int(parts["day"]))
        out[key] = len(glob.glob(os.path.join(d, "*.parquet")))
    return out


def test_stage_files_per_day_fans_out_bounded(spark, tmp_path, monkeypatch):
    """A day with more rows than ``STAGE_ROWS_PER_FILE`` rolls over to
    ceil(rows / STAGE_ROWS_PER_FILE) stage files instead of growing one
    file without bound.  Directory layout and rows are unchanged; the
    file count per day partition follows that day's own rows and is > 1
    somewhere (the rollover actually happened)."""
    import math

    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.geocode import (
        build_geo_dim,
    )
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.sources.fixtures import (
        envelope_df,
    )
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.streaming import (
        pipeline,
    )

    lake = tmp_path / "lake"
    env = envelope_df(spark, n_soh=24, n_sensor=0, n_unknown=0)
    monkeypatch.setattr(pipeline, "STAGE_ROWS_PER_FILE", 6)
    res = pipeline.process_batch(env, 0, str(lake), build_geo_dim(spark))
    assert res.counts == {"soh": 24}
    stage = spark.read.parquet(str(lake / "stage"))
    assert stage.count() == 24
    # the repartition puts each day in one writer task, so the rollover
    # count is exact: one file per started block of 6 of that day's rows
    expected = {
        (r["year"], r["month"], r["day"]): math.ceil(r["count"] / 6)
        for r in stage.groupBy("year", "month", "day").count().collect()
    }
    files = _stage_files_by_day(lake)
    assert files == expected
    assert max(files.values()) <= 4
    assert max(files.values()) >= 2  # the rollover actually happened somewhere


def test_stage_writes_one_file_per_event_day_by_default(spark, tmp_path):
    """Under the default ``STAGE_ROWS_PER_FILE`` a batch of ordinary size
    writes exactly one stage file per event-day partition (the Firehose
    one-object-per-flush shape)."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.geocode import (
        build_geo_dim,
    )
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.sources.fixtures import (
        envelope_df,
    )
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.streaming.pipeline import (
        process_batch,
    )

    lake = tmp_path / "lake"
    env = envelope_df(spark, n_soh=24, n_sensor=0, n_unknown=0)
    process_batch(env, 0, str(lake), build_geo_dim(spark))
    files = _stage_files_by_day(lake)
    assert files and set(files.values()) == {1}
    assert spark.read.parquet(str(lake / "stage")).count() == 24


def test_stage_file_cap_is_per_day(spark, tmp_path, monkeypatch):
    """The per-file cap applies to each event day, not to the batch: a
    batch above the cap whose days each hold fewer rows than the cap
    (a many-day backfill) still writes one stage file per day."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.geocode import (
        build_geo_dim,
    )
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.sources.fixtures import (
        envelope_df,
    )
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.streaming import (
        pipeline,
    )

    lake = tmp_path / "lake"
    # hourly events: 96 rows over 5 days, at most 24 rows in any day
    env = envelope_df(spark, n_soh=96, n_sensor=0, n_unknown=0)
    monkeypatch.setattr(pipeline, "STAGE_ROWS_PER_FILE", 30)
    # at test scale AQE merges tiny shuffle partitions, which would hide a
    # write that splits days across tasks (production-size partitions
    # stay split) — pin it off so each task's output is visible
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        pipeline.process_batch(env, 0, str(lake), build_geo_dim(spark))
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    per_day = spark.read.parquet(str(lake / "stage")).groupBy(
        "year", "month", "day").count().collect()
    assert sum(r["count"] for r in per_day) == 96 > 30
    assert max(r["count"] for r in per_day) < 30
    files = _stage_files_by_day(lake)
    assert len(files) == len(per_day) >= 3
    assert set(files.values()) == {1}


def test_process_batch_job_budget(spark, tmp_path):
    """One static 3-class batch costs at most 9 Spark jobs: the per-class
    counters and the capped stage write must not add one."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.geocode import (
        build_geo_dim,
    )
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.sources.fixtures import (
        envelope_df,
    )
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.streaming.pipeline import (
        process_batch,
    )

    geo = build_geo_dim(spark)
    env = envelope_df(spark, n_soh=6, n_sensor=5, n_unknown=2)
    sc = spark.sparkContext
    group = f"process-batch-budget-{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        res = process_batch(env, 0, str(tmp_path / "lake"), geo)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert res.counts == {"soh": 6, "sensor": 5, "unknown": 2}
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 9


def test_max_bytes_per_trigger_splits_batches(spark, tmp_path):
    """maxBytesPerTrigger (Firehose's 64 MB size buffer,
    cdk_datalake_mvp_stack.py:167) must reach the file source: a byte cap
    smaller than any single file forces one-file micro-batches, so four
    landing files drain as four batches under availableNow."""
    landing = tmp_path / "landing"
    landing.mkdir()
    for b in range(4):
        with open(landing / f"batch-{b:04d}.json", "w") as f:
            for row in envelope_rows(n_soh=2, n_sensor=1, n_unknown=0):
                f.write(json.dumps(row) + "\n")
    results = []
    q = start_pipeline(
        spark, str(landing), str(tmp_path / "lake"), str(tmp_path / "ckpt"),
        available_now=True, max_bytes_per_trigger=1, results=results,
    )
    q.awaitTermination(180)
    assert len(results) == 4
    assert all(r.counts == {"soh": 2, "sensor": 1} for r in results)


def _drain(spark, tmp_path) -> None:
    """Drain the landing dir into the lake (one available-now run over the
    test's checkpoint)."""
    q = start_pipeline(
        spark, str(tmp_path / "landing"), str(tmp_path / "lake"),
        str(tmp_path / "ckpt"), available_now=True,
    )
    q.awaitTermination(180)


def _land(tmp_path, name: str, rows: list[dict]) -> None:
    with open(tmp_path / "landing" / name, "w") as f:
        for row in rows:
            f.write(json.dumps(row) + "\n")


def test_maintenance_cadence_emits_drift_report(spark, tmp_path):
    """The crawler-cron analog runs beside the stream: after each drain of
    two landed files, one ``pipeline_maintenance`` pass reports LOG-only
    schema drift over stage with every column status ok, and runs all 14
    stage monitors off its one read.  Each monitor's report equals the
    monitor called directly on the stage zone (PSI bootstraps its profile
    on the first pass and scores on the second), the one-scan quality
    gate counts the duplicate deliveries so far, and the pass leaves no
    stored blocks behind."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.schemas import (
        STAGE_SCHEMA,
    )
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.sources import (
        maintenance,
    )

    declared = StructType(
        STAGE_SCHEMA.fields
        + [StructField(c, IntegerType()) for c in ("year", "month", "day")]
    )
    stage = str(tmp_path / "lake" / "stage")
    profile = str(tmp_path / "lake" / "maintenance" / "drift_profile")
    sc = spark.sparkContext
    (tmp_path / "landing").mkdir()
    for n_files in (2, 4):
        for b in range(n_files - 2, n_files):
            _land(tmp_path, f"batch-{b:04d}.json",
                  envelope_rows(n_soh=2, n_sensor=0, n_unknown=0))
        _drain(spark, tmp_path)
        cached = set(dict(sc._jsc.getPersistentRDDs()).keys())
        rep = maintenance.pipeline_maintenance(spark, stage, declared)
        # the pass frees every block it stored (a subset, not equality:
        # the drain's own asynchronous unpersist may land during the pass)
        assert set(dict(sc._jsc.getPersistentRDDs()).keys()) <= cached
        # declared stage schema + y/m/d partition ints — no drift
        assert set(rep["drift_status_counts"]) == {"ok"}
        assert rep["drift_status_counts"]["ok"] == len(rep["drift"])
        monitors = rep["monitors"]
        assert set(monitors) == {
            "stage_quality", "drift_psi", "timeseries", "sprt", "mann_whitney",
            "ks", "did", "survival", "auc", "benford", "gini", "source_kl",
            "heavy_hitters", "sketch_store",
        }
        df = spark.read.parquet(stage)
        for name, got in monitors.items():
            if name == "drift_psi":
                continue
            fn = getattr(maintenance, f"{name}_monitor_report", None) or getattr(
                maintenance, f"{name}_report"
            )
            assert got == fn(df), name
        # PSI: the first pass writes the reference profile, the second
        # scores the stage zone against it
        if n_files == 2:
            assert monitors["drift_psi"] == {"bootstrapped": True, "columns": {}}
        else:
            assert monitors["drift_psi"]["bootstrapped"] is False
            assert monitors["drift_psi"] == maintenance.drift_psi_report(df, profile)
        # the quality gate catches the synthetic files REPLAYING
        # identical envelopes: k files of the same 2 rows leave
        # 2*(k-1) duplicate deliveries in stage
        assert rep["monitors"]["stage_quality"] == {
            "null_deviceid": 0,
            "null_date_time": 0,
            "battery_out_of_range": 0,
            "duplicate_deliveries": 2 * (n_files - 1),
        }


def test_maintenance_drift_monitor_flags_planted_voltage_shift(spark, tmp_path):
    """The PSI drift monitor on the maintenance schedule: the first pass
    persists the reference-period profile; a later pass scores the stage
    distribution against it.  Batches 0-1 carry a healthy 4.2 V fleet
    (bootstrap period); batches 2-3 carry a planted 12.4 V shift — the
    second pass must flag battery_voltage as drifted while the unchanged
    device mix stays quiet."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.sources.fixtures import (
        soh_data,
    )
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.sources.maintenance import (
        drift_psi_report,
    )

    def envs(batch: int, bv: float) -> list[dict]:
        rows = []
        for i in range(4):
            rid = batch * 10 + i
            rows.append(
                {
                    "recordId": f"rec-{rid:04d}",
                    "packetId": 2000 + rid,
                    "deviceType": 1,
                    "deviceId": 100 + i % 2,
                    "userApplicationId": 7,
                    "organizationId": 42,
                    "len": 64,
                    "status": 0,
                    "hiveRxTime": f"2023-11-14 22:{rid:02d}:00",
                    "data": soh_data(i, bv=bv),
                }
            )
        return rows

    stage = str(tmp_path / "lake" / "stage")
    profile = str(tmp_path / "lake" / "maintenance" / "drift_profile")
    (tmp_path / "landing").mkdir()

    def land_and_report(batches: range, bv: float) -> dict:
        for b in batches:
            _land(tmp_path, f"batch-{b:04d}.json", envs(b, bv=bv))
        _drain(spark, tmp_path)
        return drift_psi_report(spark.read.parquet(stage), profile)

    # pass 1 froze the healthy-period profile
    assert land_and_report(range(0, 2), 4.2) == {"bootstrapped": True, "columns": {}}
    cols = land_and_report(range(2, 4), 12.4)["columns"]
    # half the stage mass moved from the 4 V bin to the 12 V bin
    assert cols["battery_voltage"]["drifted"]
    assert cols["battery_voltage"]["psi"] > 0.2
    assert cols["battery_voltage"]["n_ref"] == 8
    assert cols["battery_voltage"]["n_cur"] == 16
    # the device mix is identical in both periods — no false alarm
    assert not cols["deviceid"]["drifted"]

    # the profile is PERSISTED: a restarted stream (same lake + checkpoint)
    # keeps comparing against the original healthy-period reference, not
    # re-bootstrapping from the now-polluted stage
    rep2 = land_and_report(range(4, 6), 12.4)
    cols2 = rep2["columns"]
    assert rep2["bootstrapped"] is False
    assert cols2["battery_voltage"]["n_ref"] == 8      # original reference
    assert cols2["battery_voltage"]["n_cur"] == 24     # 16 + 2 new batches
    assert cols2["battery_voltage"]["drifted"]


def test_maintenance_timeseries_monitor_flags_sustained_shift(spark, tmp_path):
    """The CUSUM/MASE time-series monitors (streaming twins of
    x_cusum_changepoint / x_forecast_mase) on the maintenance schedule: a
    healthy 20-day voltage level followed by a sustained 12.4 V shift
    must trip the per-device CUSUM alarm in the post-shift pass, while
    the healthy-period pass stays quiet."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.sources.fixtures import (
        soh_data,
    )
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.sources.maintenance import (
        timeseries_monitor_report,
    )

    day_noon = 1_699_963_200  # 2023-11-14 12:00 UTC — mid-day, no UTC-midnight straddle

    def envs(days: range, bv: float) -> list[dict]:
        rows = []
        for day in days:
            rows.append(
                {
                    "recordId": f"rec-{day:04d}",
                    "packetId": 3000 + day,
                    "deviceType": 1,
                    "deviceId": 100,
                    "userApplicationId": 7,
                    "organizationId": 42,
                    "len": 64,
                    "status": 0,
                    "hiveRxTime": "2023-11-14 22:00:00",
                    "data": soh_data(0, bv=bv, d=day_noon + day * 86400),
                }
            )
        return rows

    stage = str(tmp_path / "lake" / "stage")
    (tmp_path / "landing").mkdir()
    batches = [
        envs(range(0, 10), 4.2),    # healthy
        envs(range(10, 20), 4.2),   # healthy
        envs(range(20, 25), 12.4),  # sustained shift
        envs(range(25, 30), 12.4),
    ]
    reports = []
    for first in (0, 2):
        for b in (first, first + 1):
            _land(tmp_path, f"batch-{b:04d}.json", batches[b])
        _drain(spark, tmp_path)
        reports.append(timeseries_monitor_report(spark.read.parquet(stage)))
    healthy = reports[0][100]
    assert healthy["n_days"] == 20
    assert healthy["cusum_alarms"] == 0 and not healthy["alarm_latest"]
    shifted = reports[1][100]
    assert shifted["n_days"] == 30
    assert shifted["cusum_alarms"] >= 1 and shifted["alarm_latest"]
    assert shifted["cusum_max"] > 0
    assert shifted["mase_n_scored"] == 30 - 7
    assert shifted["mase"] is not None  # daily totals scored once history > season


def test_multi_stream_routing_isolated(spark, tmp_path):
    """POST /{stream-name} parity (cdk_datalake_mvp_stack.py:273-279,295):
    two device fleets ingest through one base endpoint but land in fully
    isolated per-stream prefixes — independent stage outputs, counters,
    and checkpoints (a new file for fleet A re-triggers ONLY fleet A)."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.streaming import (
        start_streams,
        stream_route,
    )

    base = str(tmp_path / "multi")
    ra = stream_route(base, "fleet-a")
    rb = stream_route(base, "fleet-b")
    assert ra.landing_dir != rb.landing_dir
    assert ra.checkpoint_dir != rb.checkpoint_dir

    import os

    os.makedirs(ra.landing_dir), os.makedirs(rb.landing_dir)
    with open(os.path.join(ra.landing_dir, "b0.json"), "w") as f:
        for row in envelope_rows(n_soh=4, n_sensor=1, n_unknown=0):
            f.write(json.dumps(row) + "\n")
    with open(os.path.join(rb.landing_dir, "b0.json"), "w") as f:
        for row in envelope_rows(n_soh=2, n_sensor=0, n_unknown=3):
            f.write(json.dumps(row) + "\n")

    results: dict = {}
    qs = start_streams(spark, base, ["fleet-a", "fleet-b"],
                       results=results, available_now=True)
    assert set(qs) == {"fleet-a", "fleet-b"}
    for q in qs.values():
        q.awaitTermination(180)

    # independent per-stream counters and stage rows
    assert results["fleet-a"][0].counts == {"soh": 4, "sensor": 1}
    assert results["fleet-b"][0].counts == {"soh": 2, "unknown": 3}
    assert spark.read.parquet(os.path.join(ra.lake_dir, "stage")).count() == 4
    assert spark.read.parquet(os.path.join(rb.lake_dir, "stage")).count() == 2

    # checkpoint isolation: new data for fleet-a only; fleet-b's restart
    # drains nothing (its checkpoint already covers its landing dir)
    with open(os.path.join(ra.landing_dir, "b1.json"), "w") as f:
        for row in envelope_rows(n_soh=3, n_sensor=0, n_unknown=0):
            f.write(json.dumps(row) + "\n")
    qs2 = start_streams(spark, base, ["fleet-a", "fleet-b"],
                        results=results, available_now=True)
    for q in qs2.values():
        q.awaitTermination(180)
    assert spark.read.parquet(os.path.join(ra.lake_dir, "stage")).count() == 7
    assert spark.read.parquet(os.path.join(rb.lake_dir, "stage")).count() == 2
    assert len(results["fleet-a"]) == 2
    assert len(results["fleet-b"]) == 1  # no second batch for fleet-b


def test_stream_route_rejects_path_escapes():
    """Stream names are API-Gateway path params: a name that could escape
    its S3 prefix must be rejected before any filesystem path is built."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.streaming import (
        stream_route,
    )

    for bad in ("../other", "a/b", "", ".hidden", "a b", "x" * 65):
        with pytest.raises(ValueError):
            stream_route("/tmp/base", bad)
    ok = stream_route("/tmp/base", "fleet_A-01")
    assert ok.landing_dir.endswith("landing/fleet_A-01")
