"""The ``ingest`` workload: the streaming pipeline end to end.

Set-up (untimed) generates every landing file, builds the geo dimension
and drains one warm-up micro-batch.  Two timed phases then share the
warm-up's landing directory, checkpoint and lake:

- Phase A (drain) lands a fixed backlog at once and drains it with an
  ``available_now`` run in capped micro-batches.  It reports envelopes
  per second and the CPU seconds the driver JVM and this process spent
  per 1,000 envelopes.
- Phase B (live) restarts the pipeline on a 0 s trigger while a lander
  thread renames one 250-envelope file into the landing directory every
  0.5 s (500 envelopes/s, an open loop, well below the drain rate so
  the fixed per-batch cost dominates).  Each file's latency runs from
  its due time to the commit of the micro-batch that read it.

The checkpoint's file-source log maps files to batches, and a commit
file's modification time marks the end of its batch.  After each phase
the sinks are checked against the generator's ledger.
"""

from __future__ import annotations

import glob
import json
import os
import time

import checks
import eventlog
from harness import JobTracer, Record, cpu_seconds, median, quantile
from loadgen import EnvelopeGen, Lander, land_all

SINKS = ("stage", "error", "alerts", "raw")
DRAIN_FILES, DRAIN_PER_FILE, DRAIN_FILES_PER_TRIGGER = 9, 4_000, 3
DRAIN_TIMEOUT_S = 90  # a run must end within 180 s
LIVE_PER_FILE, LIVE_INTERVAL_S = 250, 0.5
DURATION_KEYS = {
    "trigger_ms": "triggerExecution", "add_batch_ms": "addBatch",
    "latest_offset_ms": "latestOffset", "get_batch_ms": "getBatch",
    "wal_commit_ms": "walCommit", "commit_offsets_ms": "commitOffsets",
}


def _file_batches(ckpt: str) -> dict[str, int]:
    """Landing file name -> micro-batch id, from the file-source log."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def _commit_times(ckpt: str) -> dict[int, float]:
    out = {}
    for path in glob.glob(os.path.join(ckpt, "commits", "*")):
        name = os.path.basename(path)
        if name.isdigit():
            out[int(name)] = os.stat(path).st_mtime
    return out


def _dir_usage(path: str) -> tuple[int, int]:
    files = nbytes = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith(".") or n.startswith("_"):
                continue
            files += 1
            nbytes += os.path.getsize(os.path.join(root, n))
    return files, nbytes


def _drain(q) -> None:
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(f"a drain did not finish in {DRAIN_TIMEOUT_S} s")


def _check_phase(rec: Record, phase: str, lake: str, ledger) -> None:
    problems = checks.ingest_problems(checks.sink_counts(lake), ledger)
    rec.check(not problems, f"ingest {phase}: " + "; ".join(problems))


class _Progress:
    """StreamingQueryListener that keeps every progress event's JSON."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                events.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()


def _operator_timings(spark, rec: Record, sample: str, geo, work: str) -> None:
    """Time each ingest operator chain on one static batch (median of 3)."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators import (
        alert_rows, classify_records, enrich_geocode, flatten_soh, parse_soh_payload)
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.schemas import ENVELOPE_SCHEMA
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.streaming import process_batch
    from pyspark.sql import functions as F

    batch = spark.read.schema(ENVELOPE_SCHEMA).json(sample).cache()
    n = batch.count()
    soh = classify_records(batch).filter(F.col("msg_class") == "soh")
    parsed = parse_soh_payload(soh).filter(F.col("soh.d").isNotNull())
    geocoded = enrich_geocode(parsed, geo, lon_col="soh.ln", lat_col="soh.lt")
    flat = flatten_soh(geocoded, geo_enriched=True)
    chains = {"classify": classify_records(batch), "parse": parsed,
              "geocode": geocoded, "flatten": flat, "alerts": alert_rows(flat)}
    tracer = JobTracer(spark)
    for name, df in chains.items():
        times = []
        for i in range(3):
            t0 = time.perf_counter()
            tracer.call(f"op-{name}-{i}",
                        lambda: df.write.format("noop").mode("overwrite").save())
            times.append(time.perf_counter() - t0)
        rec.put(f"operators.{name}_s", median(times), "s", 3)
    times = []
    for i in range(3):
        t0 = time.perf_counter()
        tracer.call(f"process_batch-{i}", lambda: process_batch(
            batch, i, os.path.join(work, f"static-lake-{i}"), geo))
        times.append(time.perf_counter() - t0)
    rec.put("pipeline.process_batch_s", median(times), "s", 3)
    rec.put("operators.batch_records", n, "count")
    batch.unpersist()


def run(spark, rec: Record, work: str, seed: int, seconds: int,
        trace: bool, before_timed) -> dict:
    """Run both phases into ``rec``; returns what the trace step needs."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.geocode import (
        build_geo_dim)
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.streaming import (
        start_pipeline)

    gen = EnvelopeGen(seed)
    outbox = os.path.join(work, "outbox")
    landing = os.path.join(work, "landing")
    lake, ckpt = os.path.join(work, "lake"), os.path.join(work, "ckpt")
    os.makedirs(landing)
    drain_paths, ledger_a = gen.write_files(outbox, "drain", DRAIN_FILES, DRAIN_PER_FILE)
    n_live = max(4, int(seconds / LIVE_INTERVAL_S))
    live_paths, ledger_b = gen.write_files(outbox, "live", n_live, LIVE_PER_FILE)

    t0 = time.perf_counter()
    geo = build_geo_dim(spark)
    geo.count()
    rec.put("geocode.build_geo_dim_s", time.perf_counter() - t0, "s")

    progress = _Progress() if trace else None
    if progress:
        spark.streams.addListener(progress.listener)

    # warm-up (set-up): one micro-batch through the same pipeline
    warm, drain_paths = drain_paths[:DRAIN_FILES_PER_TRIGGER], drain_paths[DRAIN_FILES_PER_TRIGGER:]
    land_all(warm, landing)
    _drain(start_pipeline(spark, landing, lake, ckpt, available_now=True, geo_dim=geo))

    # phase A: drain a backlog in capped micro-batches
    before_timed()
    land_all(drain_paths, landing)
    main_start_ms = time.time() * 1000
    cpu0, t0 = cpu_seconds(spark), time.perf_counter()
    q = start_pipeline(spark, landing, lake, ckpt, available_now=True,
                       max_files_per_trigger=DRAIN_FILES_PER_TRIGGER, geo_dim=geo)
    _drain(q)
    drain_s = time.perf_counter() - t0
    drained = len(drain_paths) * DRAIN_PER_FILE
    rec.put("cpu_s_per_unit", (cpu_seconds(spark) - cpu0) / drained * 1000, "s", drained)
    rec.put("ingest_records_per_s", drained / drain_s, "rec/s", drained)
    rec.put("throughput_per_s", drained / drain_s, "1/s", drained)
    run_ids = {"drain": str(q.runId)}
    drain_batches = max(_commit_times(ckpt))
    rec.attempted += DRAIN_FILES
    _check_phase(rec, "drain", lake, ledger_a)

    # phase B: open-loop landing on a fixed schedule
    q = start_pipeline(spark, landing, lake, ckpt, trigger_seconds=0, geo_dim=geo)
    run_ids["live"] = str(q.runId)
    lander = Lander(live_paths, landing, LIVE_INTERVAL_S, time.time() + 1.0)
    t0 = time.perf_counter()
    lander.start()
    lander.join()
    names = [os.path.basename(p) for p in live_paths]
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline and q.isActive:
        batches, commits = _file_batches(ckpt), _commit_times(ckpt)
        if all(batches.get(n) in commits for n in names):
            break
        time.sleep(0.1)
    live_s = time.perf_counter() - t0
    q.stop()
    batches, commits = _file_batches(ckpt), _commit_times(ckpt)
    latencies = [commits[batches[n]] - lander.due[n]
                 for n in names if batches.get(n) in commits]
    rec.attempted += len(names)
    for n in names:
        if batches.get(n) not in commits:
            rec.fail(f"ingest live: {n} never committed")
    if latencies:
        for name in ("ingest_latency", "latency"):
            rec.put(f"{name}_p50_s", quantile(latencies, 0.5), "s", len(latencies))
        rec.put("latency_p75_s", quantile(latencies, 0.75), "s", len(latencies))
        rec.put("ingest_latency_p90_s", quantile(latencies, 0.9), "s", len(latencies))
    live_commits = sorted(t for b, t in commits.items() if b > drain_batches)
    if len(live_commits) > 1:
        rec.put("streaming.live.batch_s", median(
            [b - a for a, b in zip(live_commits, live_commits[1:])]), "s", len(live_commits) - 1)
    rec.put("loadgen.late_max_s", max(lander.late.values()), "s", len(lander.late))
    last_due = max(lander.due.values())
    rec.put("streaming.live.backlog_files_end",
            sum(1 for n in names if commits.get(batches.get(n), 0) > last_due), "count")
    _check_phase(rec, "live", lake, ledger_a.add(ledger_b))

    in_bytes = ledger_a.input_bytes + ledger_b.input_bytes
    out_bytes = 0
    for sink in SINKS:
        files, nbytes = _dir_usage(os.path.join(lake, sink))
        rec.put(f"sink.{sink}.files", files, "count")
        rec.put(f"sink.{sink}.bytes", nbytes, "bytes")
        out_bytes += nbytes
    rec.put("sink.bytes_per_input_byte", out_bytes / in_bytes, "ratio")

    if progress:
        time.sleep(1.0)  # the listener bus delivers progress asynchronously
        spark.streams.removeListener(progress.listener)
        for phase, run_id in run_ids.items():
            events = [e for e in progress.events
                      if e["runId"] == run_id and e.get("numInputRows", 0) > 0]
            for metric, key in DURATION_KEYS.items():
                vals = [e["durationMs"].get(key, 0) for e in events]
                if vals:
                    rec.put(f"streaming.{phase}.{metric}", median(vals), "ms", len(vals))
            if events:
                rec.put(f"streaming.{phase}.rows_per_batch",
                        median([e["numInputRows"] for e in events]), "rows", len(events))
        _operator_timings(spark, rec, os.path.join(landing, names[0]), geo, work)
    return {"timed_s": drain_s + live_s, "drain_last_batch": drain_batches,
            "main_start_ms": main_start_ms, "lake": lake}


def trace_from_eventlog(rec: Record, log: eventlog.EventLog, info: dict) -> list:
    """Jobs per micro-batch of each phase and write time per sink; returns
    the jobs of each timed micro-batch."""
    batches: dict[int, list] = {}
    for job in log.jobs.values():
        if job.batch_id is not None and job.start_ms >= info["main_start_ms"]:
            batches.setdefault(job.batch_id, []).append(job)
    sink_jobs: dict[str, list] = {s: [] for s in SINKS}
    for jobs in batches.values():
        for j in jobs:
            s = eventlog.sink_of(log.output_path(j), info["lake"])
            if s in sink_jobs:
                sink_jobs[s].append(j)
    for phase in ("drain", "live"):
        counts = [len(jobs) for b, jobs in batches.items()
                  if (b <= info["drain_last_batch"]) == (phase == "drain")]
        if counts:
            rec.put(f"streaming.{phase}.jobs_per_batch", median(counts), "count", len(counts))
    for s, jobs in sink_jobs.items():
        rec.put(f"sink.{s}.s", log.summarize(jobs)["job_s"], "s", len(jobs))
    return list(batches.values())
