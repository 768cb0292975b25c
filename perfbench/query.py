"""The ``query`` workload: registered query keys in a closed loop.

One client runs a fixed mix of keys over seeded tables, one key at a
time: relational and ETL keys that are bound by scan, shuffle and join
execution, and graph keys that run tens of Spark jobs each and are
bound by per-job cost.  Each execution is ``REGISTRY[key].fn`` (the
build, which may itself run jobs) followed by a ``noop`` write (the
run).

Set-up (untimed) generates the tables, checks every key's result
against its DuckDB oracle (the first, cold pass) and runs
``WARM_PASSES`` more passes.  The timed loop then runs whole passes
over the mix, at least ``CPU_PASSES`` of them, until ``seconds`` have
elapsed.
"""

from __future__ import annotations

import os
import time

import checks
import tables
from harness import JobTracer, Record, cpu_seconds, median, quantile

SF = 0.01
SCAN_KEYS = [
    "op_flatten_soh", "op_geocode_join", "q_agg_basic", "q_agg_rollup",
    "q_join_inner", "q_funnel",
]
ITERATIVE_KEYS = ["x_kcore"]
KEYS = SCAN_KEYS + ITERATIVE_KEYS
# Pass times keep falling for about three passes after the cold one while
# the JIT settles; one warm pass is what a run's time budget leaves room for.
WARM_PASSES = 1
# CPU cost is taken over exactly this many timed passes, so that every
# run measures the same stretch of the warm-up curve whatever its speed.
CPU_PASSES = 2


def _oracle_pass(spark, rec: Record, sf_dir: str) -> None:
    import duckdb

    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans import REGISTRY

    con = duckdb.connect()
    try:
        checks.oracle_views(con, sf_dir, tables.TABLES)
        for key in KEYS:
            try:
                df = REGISTRY[key].fn(spark, sf_dir)
                rows, cols = [tuple(r) for r in df.collect()], list(df.columns)
                rel = con.sql(REGISTRY[key].oracle)
                diff = checks.compare(cols, rows, list(rel.columns), rel.fetchall())
            except Exception as e:  # noqa: BLE001 - a failing key is a counted failure
                diff = f"{type(e).__name__}: {str(e)[:200]}"
            rec.check(diff is None, f"{key}: {diff}")
    finally:
        con.close()


def run(spark, rec: Record, work: str, seed: int, seconds: int,
        trace: bool, before_timed) -> dict:
    """Run the workload into ``rec``; returns what the trace step needs."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans import REGISTRY

    sf_dir = os.path.join(work, "tables")
    tables.write_tables(sf_dir, seed, SF)
    _oracle_pass(spark, rec, sf_dir)

    for _ in range(WARM_PASSES):
        for key in KEYS:
            REGISTRY[key].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    tracer = JobTracer(spark) if trace else None
    call = tracer.call if tracer else (lambda _group, fn: fn())
    before_timed()
    samples: dict[str, list[tuple[float, float]]] = {k: [] for k in KEYS}
    jobs: dict[str, list[tuple[int, int, int, int]]] = {k: [] for k in KEYS}
    pass_times = []
    cpu0 = cpu_seconds(spark)
    t_start = time.perf_counter()
    p = 0
    while p < CPU_PASSES or time.perf_counter() - t_start < seconds:
        t_pass = time.perf_counter()
        for key in KEYS:
            rec.attempted += 1
            try:
                t0 = time.perf_counter()
                df = call(f"{key}#{p}:build", lambda: REGISTRY[key].fn(spark, sf_dir))
                t1 = time.perf_counter()
                call(f"{key}#{p}:run",
                     lambda: df.write.format("noop").mode("overwrite").save())
                t2 = time.perf_counter()
            except Exception as e:  # noqa: BLE001 - a failing key is a counted failure
                rec.fail(f"{key} pass {p}: {type(e).__name__}: {str(e)[:200]}")
                continue
            if tracer:
                b_jobs, b_stages, b_tasks = tracer.counts(f"{key}#{p}:build")
                r_jobs, r_stages, r_tasks = tracer.counts(f"{key}#{p}:run")
                jobs[key].append((b_jobs, r_jobs, b_stages + r_stages, b_tasks + r_tasks))
            samples[key].append((t1 - t0, t2 - t1))
        pass_times.append(time.perf_counter() - t_pass)
        p += 1
        if p == CPU_PASSES:
            cpu_s = cpu_seconds(spark) - cpu0
            cpu_execs = sum(len(s) for s in samples.values())
    timed_s = time.perf_counter() - t_start

    if cpu_execs:
        rec.put("cpu_s_per_unit", cpu_s / cpu_execs, "s", cpu_execs)
    execs = [b + r for s in samples.values() for b, r in s]
    if execs:
        rec.put("pass_s", median(pass_times), "s", len(pass_times))
        rec.put("query_p90_s", quantile(execs, 0.9), "s", len(execs))
        rec.put("throughput_per_s", len(execs) / timed_s, "1/s", len(execs))
        rec.put("latency_p50_s", quantile(execs, 0.5), "s", len(execs))
        rec.put("latency_p75_s", quantile(execs, 0.75), "s", len(execs))
    for key, s in samples.items():
        if not s:
            continue
        rec.put(f"{key}.build_s", median([b for b, _ in s]), "s", len(s))
        rec.put(f"{key}.run_s", median([r for _, r in s]), "s", len(s))
    if trace:
        for key, js in jobs.items():
            if js:
                rec.put(f"{key}.build_jobs", median([j[0] for j in js]), "count", len(js))
                rec.put(f"{key}.run_jobs", median([j[1] for j in js]), "count", len(js))
                rec.put(f"{key}.jobs", median([j[0] + j[1] for j in js]), "count", len(js))
        per_pass = [[js[i] for js in jobs.values() if len(js) > i] for i in range(p)]
        full = [row for row in per_pass if len(row) == len(KEYS)]
        for idx, name in enumerate(("build_jobs", "run_jobs", "stages", "tasks")):
            if full:
                rec.put(f"plans.{name}", median([sum(j[idx] for j in row) for row in full]),
                        "count", len(full))
    return {"timed_s": timed_s, "passes": p}


def trace_from_eventlog(rec: Record, log, info: dict) -> list:
    """Per-key executor time, shuffle and spill from the event log;
    returns the jobs of each timed key execution."""
    by_group: dict[str, list] = {}
    for job in log.jobs.values():
        if job.group and "#" in job.group:
            by_group.setdefault(job.group, []).append(job)
    units = []
    for key in KEYS:
        per_exec = []
        for p in range(info["passes"]):
            build = by_group.get(f"{key}#{p}:build", [])
            run = by_group.get(f"{key}#{p}:run", [])
            if build or run:
                per_exec.append((log.summarize(build), log.summarize(run)))
                units.append(build + run)
        if not per_exec:
            continue
        n = len(per_exec)
        for field in ("executor_run_s", "shuffle_write_bytes", "spill_bytes"):
            unit = "s" if field.endswith("_s") else "bytes"
            rec.put(f"{key}.{field}",
                    median([e[0][field] + e[1][field] for e in per_exec]), unit, n)
    return units
