#!/usr/bin/env python3
"""The project's benchmark: one workload, one seed, one JSON result.

Usage (from the repository root)::

    python3 perfbench/run.py --workload {ingest,query} --seed N \\
        --seconds S --trace {0,1}

``ingest`` drives the streaming pipeline (a drained backlog, then an
open-loop live phase); ``query`` runs registered query keys in a closed
loop (see ``ingest.py`` and ``query.py``).  Inputs are generated from
the seed inside a work directory under ``.perfbench_work/`` and
removed afterwards.  Every output is checked: the query keys against
their DuckDB oracles, the ingest sinks against the load generator's
ledger.

The run prints a report of every metric with its unit and sample
count, then, as its last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  With ``--trace 0`` the
metrics are the end-to-end ones, measured with tracing off:

- ``setup_s``: session start, input generation, oracle checks and
  warm-up: everything outside the timed phases.
- ``peak_rss_mb``: driver JVM high-water RSS plus this process's.
- ``cpu_s_per_unit``: CPU seconds (user + system) of the driver JVM and
  this process per unit of work: per 1,000 envelopes drained (ingest),
  per key execution (query).

Wall-clock throughput and latency are in the report too
(``throughput_per_s``; ``latency_p50_s`` / ``latency_p75_s`` as
nearest-rank percentiles, per landed file from its due time to the
commit of its micro-batch for ingest, per key execution for query).
They are not in the result line: on a host that shares its CPUs their
run-to-run spread is wider than any bound a regression check could use,
while CPU time leaves out the time the host gave to other tenants.

With ``--trace 1`` a traced run (job groups, the status tracker, a
streaming listener and an uncompressed event log read offline) prints
the per-layer metrics instead.  Their "unit" is one micro-batch for
ingest and one key execution for query.  The tracing overhead is
reported against the last untraced run of the same workload in this
checkout, when there is one.  Exit code 2 means the engine could not
be imported or started, and no result is printed.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

END_TO_END = ["setup_s", "peak_rss_mb", "cpu_s_per_unit"]
PER_LAYER = [
    "session.start_s", "host.dispatch_ms_pre", "host.dispatch_ms_post",
    "spark.jobs_per_unit", "spark.stages_per_unit", "spark.tasks_per_unit",
    "exec.executor_run_s_per_unit", "exec.shuffle_write_bytes_per_unit",
    "exec.spill_bytes", "storage.cached_blocks_end", "storage.cached_bytes_end",
    "traced.cpu_s_per_unit", "traced.throughput_per_s", "traced.latency_p50_s",
    "traced.latency_p75_s",
]
# what a traced run cannot measure from outside the package, and why
UNAVAILABLE = {
    "ingest": {
        "operators.<op>_s (inside the live pipeline)":
            "the operators fuse into one codegen stage per sink write, so "
            "they are timed on one static batch instead",
    },
}


def _engine_importable() -> str | None:
    sys.path.insert(0, ROOT)
    try:
        import amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans  # noqa: F401
        import amazon_s3_datalake_nmea0183_real_time_ingestion_spark.streaming  # noqa: F401
    except ImportError as e:
        return str(e)
    if not os.path.isfile(os.path.join(ROOT, "tools", "verify_local.py")):
        return "tools/verify_local.py not found"
    return None


def _stop_jvm(spark) -> None:
    """Stop Spark and wait for the JVM the session launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=30)


def _common_trace(rec, log, units) -> None:
    """The workload-independent per-layer metrics, per unit of work."""
    from harness import median

    sums = [log.summarize(jobs) for jobs in units]
    if not sums:
        return
    n = len(sums)
    rec.put("spark.jobs_per_unit", median([s["jobs"] for s in sums]), "count", n)
    rec.put("spark.stages_per_unit", median([s["stages"] for s in sums]), "count", n)
    rec.put("spark.tasks_per_unit", median([s["tasks"] for s in sums]), "count", n)
    rec.put("exec.executor_run_s_per_unit",
            median([s["executor_run_s"] for s in sums]), "s", n)
    rec.put("exec.shuffle_write_bytes_per_unit",
            median([s["shuffle_write_bytes"] for s in sums]), "bytes", n)
    rec.put("exec.spill_bytes", sum(s["spill_bytes"] for s in sums), "bytes", n)


def _overhead(rec, workload: str) -> None:
    """Traced minus untraced end-to-end values, against the last untraced
    run of this workload in this checkout."""
    path = os.path.join(WORK_ROOT, f"last-untraced-{workload}.json")
    names = ["cpu_s_per_unit", "throughput_per_s", "latency_p50_s", "latency_p75_s"]
    for name in names:
        if name in rec.metrics:
            value, unit, n = rec.metrics.pop(name)
            rec.put(f"traced.{name}", value, unit, n)
    if not os.path.isfile(path):
        rec.unavailable["trace.overhead"] = "no untraced run of this workload in this checkout"
        return
    with open(path) as fh:
        base = json.load(fh)
    for name in names:
        if f"traced.{name}" in rec.metrics and name in base:
            value, unit, _ = rec.metrics[f"traced.{name}"]
            rec.put(f"trace.overhead.{name}", value - base[name], unit)
    for name in ("pass_s", "ingest_records_per_s"):
        if name in rec.metrics and name in base:
            value, unit, _ = rec.metrics[name]
            rec.put(f"trace.overhead.{name}", value - base[name], unit)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "query"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    t_begin = time.perf_counter()
    missing = _engine_importable()
    if missing:
        print(f"perfbench: the engine is not importable here: {missing}", file=sys.stderr)
        return 2

    import eventlog
    import harness
    import ingest
    import query

    workload = {"ingest": ingest, "query": query}[args.workload]
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rec = harness.Record()
    try:
        log_dir = harness.configure_env(work, trace)
        try:
            spark = harness.start_session(rec, f"perfbench-{args.workload}")
        except Exception as e:  # noqa: BLE001 - no engine, no result
            print(f"perfbench: the Spark session did not start: {e}", file=sys.stderr)
            return 2
        info = {"timed_s": 0.0}
        try:
            def before_timed():
                rec.put("host.dispatch_ms_pre", harness.dispatch_probe_ms(spark), "ms", 30)

            info = workload.run(spark, rec, work, args.seed, args.seconds, trace,
                                before_timed)
            rec.put("host.dispatch_ms_post", harness.dispatch_probe_ms(spark), "ms", 30)
            blocks, nbytes = harness.storage_end(spark)
            rec.put("storage.cached_blocks_end", blocks, "count")
            rec.put("storage.cached_bytes_end", nbytes, "bytes")
            rec.put("peak_rss_mb", harness.peak_rss_mb(spark), "MB")
            rec.put("setup_s", time.perf_counter() - t_begin - info["timed_s"], "s")
        except Exception:  # noqa: BLE001 - the failure is counted and reported
            rec.check(False, "workload raised:\n" + traceback.format_exc())
        finally:
            _stop_jvm(spark)

        if trace:
            rec.metrics.pop("setup_s", None)
            logs = glob.glob(os.path.join(log_dir, "*"))
            try:
                if logs and len(info) > 1:
                    log = eventlog.read(logs[0])
                    _common_trace(rec, log, workload.trace_from_eventlog(rec, log, info))
            except Exception:  # noqa: BLE001 - the failure is counted and reported
                rec.check(False, "reading the event log raised:\n" + traceback.format_exc())
            rec.unavailable.update(UNAVAILABLE.get(args.workload, {}))
            _overhead(rec, args.workload)
        elif rec.failed == 0:
            with open(os.path.join(WORK_ROOT, f"last-untraced-{args.workload}.json"),
                      "w") as fh:
                json.dump({k: v[0] for k, v in rec.metrics.items()}, fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    rec.report(args.workload, trace)
    print(rec.result_line(PER_LAYER if trace else END_TO_END))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
