#!/usr/bin/env python
"""Ingest-pipeline throughput benchmark (the reference's core function:
near-real-time ingestion, README.md:8).

Synthesizes N mixed-class envelopes, lands them as JSON-line files, drains
them through the full streaming pipeline (classify → raw tees → SOH parse →
geocode join → 30-col flatten → partitioned stage parquet + error + alert
sinks) with one availableNow run, then runs one crawler pass
(``pipeline_maintenance``: schema-drift log plus every stage monitor) over
the drained lake, timed apart from the drain, and prints ONE JSON line::

    {"metric": "ingest_throughput", "records": N, "seconds": S,
     "records_per_s": R, "soh_rows_staged": K, "maintenance_s": M}

The default 200k-envelope run stages 180k SOH rows over 43 event days ×
450 devices.

Usage: python tools/ingest_bench.py [n_records] [n_files] [--latency [trigger_s]]

``--latency`` measures the BASELINE.md end-to-end target instead of
throughput: run the pipeline on its REAL processing-time trigger, land a
record while it runs, and report arrival → stage-queryable seconds
against the ≤ 2-trigger bound (the reference's Firehose 60 s buffer →
"queryable within two buffer flushes"). Exit code 1 if the bound fails.
"""

from __future__ import annotations

import base64
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.types import IntegerType, StructField, StructType

from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.schemas import STAGE_SCHEMA
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.session import get_spark
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.sources.fixtures import (
    pimd8_sentence,
    soh_data,
)
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.sources.maintenance import (
    pipeline_maintenance,
)
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.streaming import start_pipeline

# the stage zone's declared schema: the stage columns plus the
# year/month/day partition ints read back from the paths
STAGE_DECLARED = StructType(
    STAGE_SCHEMA.fields + [StructField(c, IntegerType()) for c in ("year", "month", "day")]
)


def _b64(s: str) -> str:
    return base64.b64encode(s.encode()).decode()


def generate(landing: str, n: int, n_files: int) -> None:
    """90% SOH / 8% sensor / 2% unknown, deterministic."""
    per_file = (n + n_files - 1) // n_files
    rid = 0
    for f_idx in range(n_files):
        with open(os.path.join(landing, f"batch-{f_idx:05d}.json"), "w") as f:
            for _ in range(min(per_file, n - rid)):
                rid += 1
                r = rid % 100
                if r < 90:
                    data = soh_data(
                        rid % 1000,
                        lt=-90.0 + (rid % 1800) * 0.1,
                        ln=-180.0 + (rid % 3600) * 0.1,
                        sv=10.0 if rid % 13 == 0 else 18.0,
                        bv=3.5 if rid % 17 == 0 else 4.2,
                    )
                elif r < 98:
                    data = _b64(_b64(pimd8_sentence("NS"[rid % 2], "EW"[rid % 2])))
                else:
                    data = _b64(_b64("$GPGGA,123519,4807.038,N"))
                f.write(json.dumps({
                    "recordId": f"rec-{rid:08d}",
                    "packetId": 1000 + rid,
                    "deviceType": 1,
                    "deviceId": 100 + rid % 500,
                    "userApplicationId": 7,
                    "organizationId": 42,
                    "len": 64,
                    "status": 0,
                    "hiveRxTime": "2023-11-14 22:00:00",
                    "data": data,
                }) + "\n")


def latency_mode(trigger_seconds: int) -> int:
    """Arrival→stage-visible latency on a live trigger; asserts ≤ 2 triggers."""
    root = tempfile.mkdtemp(prefix="ingest_latency_")
    landing = os.path.join(root, "landing")
    os.makedirs(landing)
    try:
        spark = get_spark("ingest-latency")
        spark.sparkContext.setLogLevel("ERROR")
        stage = os.path.join(root, "lake", "stage")

        def stage_count() -> int:
            try:
                return spark.read.parquet(stage).count()
            except Exception:
                return 0

        q = start_pipeline(
            spark, landing, os.path.join(root, "lake"),
            os.path.join(root, "ckpt"), trigger_seconds=trigger_seconds,
        )
        try:
            with open(os.path.join(landing, "warm.json"), "w") as f:
                f.write(json.dumps(_envelope(1)) + "\n")
            deadline = time.monotonic() + 120
            while stage_count() < 1 and time.monotonic() < deadline:
                time.sleep(0.5)
            if stage_count() < 1:
                print(json.dumps({"metric": "ingest_latency_s", "error": "warm-up never staged"}))
                return 1
            warm = stage_count()
            with open(os.path.join(landing, "probe.json"), "w") as f:
                f.write(json.dumps(_envelope(2)) + "\n")
            t0 = time.monotonic()
            bound = 2 * trigger_seconds
            while stage_count() < warm + 1 and time.monotonic() - t0 < bound + 30:
                time.sleep(0.25)
            latency = time.monotonic() - t0
            ok = stage_count() >= warm + 1 and latency <= bound
            print(json.dumps({
                "metric": "ingest_latency_s",
                "value": round(latency, 2),
                "trigger_seconds": trigger_seconds,
                "bound_s": bound,
                "within_two_triggers": ok,
            }))
            return 0 if ok else 1
        finally:
            q.stop()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _envelope(rid: int) -> dict:
    return {
        "recordId": f"lat-{rid:08d}", "packetId": 1000 + rid, "deviceType": 1,
        "deviceId": 100 + rid, "userApplicationId": 7, "organizationId": 42,
        "len": 64, "status": 0, "hiveRxTime": "2023-11-14 22:00:00",
        "data": soh_data(rid),
    }


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if "--latency" in sys.argv:
        return latency_mode(int(args[0]) if args else 6)
    n = int(args[0]) if len(args) > 0 else 200_000
    n_files = int(args[1]) if len(args) > 1 else 8
    root = tempfile.mkdtemp(prefix="ingest_bench_")
    landing = os.path.join(root, "landing")
    os.makedirs(landing)
    try:
        generate(landing, n, n_files)
        spark = get_spark("ingest-bench")
        spark.sparkContext.setLogLevel("ERROR")
        t0 = time.perf_counter()
        q = start_pipeline(
            spark, landing, os.path.join(root, "lake"),
            os.path.join(root, "ckpt"), available_now=True,
        )
        q.awaitTermination()
        secs = time.perf_counter() - t0
        stage = os.path.join(root, "lake", "stage")
        staged = spark.read.parquet(stage).count()
        t1 = time.perf_counter()
        pipeline_maintenance(spark, stage, STAGE_DECLARED)
        maintenance_s = time.perf_counter() - t1
        print(json.dumps({
            "metric": "ingest_throughput",
            "records": n,
            "seconds": round(secs, 2),
            "records_per_s": round(n / secs),
            "soh_rows_staged": staged,
            "maintenance_s": round(maintenance_s, 2),
        }))
        return 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
