"""Fixed per-session costs a warm key does not pay again: Spark's codegen
cache holds the working set of a session that serves a mix of keys, so a
warm pass compiles no classes, and ``sources.tables.load_table`` learns
each table file's schema once, so a warm scan key runs no Spark job
before its own action."""

from __future__ import annotations

import datetime as dt
import re
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from amazon_s3_datalake_nmea0183_real_time_ingestion_spark import plans
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans import REGISTRY
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.sources.tables import load_table
from test_tierj import SF_SMALL

# The perfbench ``query`` mix.  One pass over it at sf0.001 generates
# 109 classes in a fresh session, more than Spark's default cache of 100
# entries holds; with that default the warm pass recompiles 79 of them.
MIX = [
    "op_flatten_soh", "op_geocode_join", "q_agg_basic", "q_agg_rollup",
    "q_join_inner", "q_funnel", "x_kcore",
]
# The keys of MIX whose build only declares scans: with each table's
# schema known, building them launches no job.
SCAN_KEYS = MIX[:-1]


def _compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_mix(spark) -> None:
    for key in MIX:
        REGISTRY[key].fn(spark, SF_SMALL).write.format("noop").mode("overwrite").save()


def _jobs_of(spark, group: str, fn):
    """Run ``fn`` under job group ``group``; return its result and the
    number of Spark jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker is fed by events
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_key_mix_compiles_nothing(spark):
    _run_mix(spark)
    before = _compiles(spark)
    _run_mix(spark)
    assert _compiles(spark) - before == 0


def test_warm_scan_key_builds_run_no_job(spark):
    _run_mix(spark)
    jobs = {
        key: _jobs_of(spark, f"warm-build:{key}",
                      lambda: REGISTRY[key].fn(spark, SF_SMALL))[1]
        for key in SCAN_KEYS
    }
    assert jobs == {key: 0 for key in SCAN_KEYS}


def test_rewritten_table_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "orders.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "orders").columns == ["a"]
    assert load_table(spark, str(tmp_path), "orders").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), path)
    df = load_table(spark, str(tmp_path), "orders")
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y"), (3, "z")]


def test_events_nanos_read_as_micros_when_memoised(spark, tmp_path):
    ts = [
        dt.datetime(2024, 3, 1, 12, 0, 0, 123456),
        dt.datetime(2024, 3, 2, 0, 30, 15, 1),
        None,
    ]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(ts, pa.timestamp("ns")),
        }),
        tmp_path / "events.parquet",
    )
    epoch = dt.datetime(1970, 1, 1)
    want = [(i + 1, None if t is None else (t - epoch) // dt.timedelta(microseconds=1))
            for i, t in enumerate(ts)]
    reads = []
    for i in range(2):  # the first read infers, the second uses the memo
        df, n_jobs = _jobs_of(spark, f"events-nanos:{i}",
                              lambda: load_table(spark, str(tmp_path), "events"))
        assert df.schema["ts"].dataType == TimestampType()
        rows = df.select("event_id", F.unix_micros("ts")).orderBy("event_id").collect()
        reads.append((n_jobs, [tuple(r) for r in rows]))
    assert reads[0][0] >= 1 and reads[1][0] == 0
    assert reads[0][1] == reads[1][1] == want


def test_plans_read_tables_through_the_registry():
    pkg = Path(plans.__file__).parent
    pattern = re.compile(r"spark\.read\.parquet\(")
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        fn = None
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if line.startswith("def "):
                fn = line[4:].split("(")[0]
            if pattern.search(line):
                hits.append(f"{path.name}::{fn}:{n}")
    allowed = [h for h in hits if h.startswith("tiera.py::snk_stage_parquet:")]
    assert len(allowed) == 1 and hits == allowed, (
        f"read tables through registry.table(): {hits}"
    )
