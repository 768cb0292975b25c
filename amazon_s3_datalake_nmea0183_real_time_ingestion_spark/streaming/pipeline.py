"""Structured Streaming ingest pipeline — the reference's full dataflow
(SURVEY.md §3.1–3.2, §7.1 M3; reference: hello.py:64-236 +
cdk_datalake_mvp_stack.py:160-253).

One ``StreamingQuery`` reproduces API Gateway → Firehose → Lambda → S3:

- **source**: file stream over a landing directory of JSON-line envelopes
  (stands in for Firehose DirectPut; declared ENVELOPE_SCHEMA, no infer).
- **trigger**: 60 s processing-time (Firehose 60 s buffer,
  cdk_datalake_mvp_stack.py:166); ``available_now`` for tests/backfill.
- **foreachBatch multi-sink** (the Lambda's per-batch contract,
  hello.py:26,194-199):
    1. three raw-zone JSON tees partitioned by *processing-time* y/m/d
       (hello.py:201-234),
    2. SOH branch → parse → geocode broadcast join → 30-col flatten →
       ``stage/`` parquet partitioned by *event-time* y/m/d
       (hello.py:140-175 + cdk_datalake_mvp_stack.py:206-214,228-238),
    3. unparseable SOH payloads → ``error/`` (Firehose error prefix,
       cdk_datalake_mvp_stack.py:213),
    4. threshold alerts → ``alerts/`` (hello.py:112-116,181-192; SNS in
       the reference is commented out),
    5. per-class counters (hello.py:56-58 flags), observed on the stored
       classified frame while the error write builds it.

Sensor/unknown rows are durable in raw zones but NEVER reach stage —
the reference appends only SOH records to the Firehose return
(hello.py:194-199); see SURVEY.md §7.4.3.

Scale notes (100 TB / 1000 executors): every per-batch transform is pure
column expressions inside whole-stage codegen; the only join is a
broadcast hash join against the ~65k-row geo dimension (no shuffle); the
stage sink shuffles once on the partition keys (repartition before write
so each micro-batch emits one file per event-day instead of
files × tasks), rolling a day over to a new file only when that day's
rows would overflow one ~64 MB file (``STAGE_ROWS_PER_FILE``).

The crawler pass (the reference's nightly Glue crawler,
cdk_datalake_mvp_stack.py:320-335) is NOT part of the batch: callers run
``sources.maintenance.pipeline_maintenance`` on their own schedule, next
to the running stream.  One pass reads the stage zone once, logs schema
drift and runs every stage monitor (readers scan the stage zone by
path, so no catalog partitions need recovering).

Delivery semantics: the checkpoint guarantees each batch is processed
once under normal operation (no reprocessing across restarts, see
test_incremental_second_trigger). On a crash MID-batch, replay re-runs
all sinks of that batch — multi-sink appends are then at-least-once,
the same guarantee as the reference's Firehose retry
(cdk_datalake_mvp_stack.py:206-212); true multi-sink exactly-once would
need a transactional table format under every sink (SURVEY.md §7.4.1).
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.datetime_fns import event_partition_cols, processing_partition_cols
from ..operators.alerts import alert_rows
from ..operators.classify import classify_records
from ..operators.flatten import flatten_soh, parse_soh_payload
from ..operators.geocode import build_geo_dim, enrich_geocode
from ..schemas import CLASS_SENSOR, CLASS_SOH, CLASS_UNKNOWN, ENVELOPE_SCHEMA

MSG_CLASSES = (CLASS_SOH, CLASS_SENSOR, CLASS_UNKNOWN)

# Stage rows per parquet file: about 64 MB (the Firehose size buffer,
# cdk_datalake_mvp_stack.py:167).  A one-day batch of 1.34M mixed-fleet
# SOH rows (perfbench's generator) wrote one 62.5 MB file, 49 bytes/row.
STAGE_ROWS_PER_FILE = 1_300_000


@dataclass
class PipelineBatchResult:
    """Per-class counters for one micro-batch (A22, hello.py:56-58)."""

    batch_id: int
    counts: dict[str, int] = field(default_factory=dict)


def read_landing_stream(
    spark: SparkSession,
    landing_dir: str,
    max_files_per_trigger: int | None = None,
    max_bytes_per_trigger: int | None = None,
) -> DataFrame:
    """File-stream source over JSON-line envelopes (A1 ``src_ingest``).

    ``maxBytesPerTrigger`` is the direct analog of Firehose's 64 MB size
    buffer (cdk_datalake_mvp_stack.py:167) — caps per-batch input VOLUME;
    ``maxFilesPerTrigger`` caps file COUNT (useful when landing files are
    uniform).  Both may be set; Spark applies whichever limit hits first."""
    reader = spark.readStream.schema(ENVELOPE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if max_bytes_per_trigger is not None:
        reader = reader.option("maxBytesPerTrigger", max_bytes_per_trigger)
    return reader.json(landing_dir)


def build_stage_rows(
    soh: DataFrame, geo_dim: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """SOH branch → (stage-ready 30-col rows + partition keys, error rows).

    A payload that fails ``from_json`` (null struct, or a partial parse
    with no ``d`` epoch — the event-partition key) is routed to error —
    the Spark analog of Firehose conversion failure → ``error/``."""
    parsed = parse_soh_payload(soh)
    bad = F.col("soh").isNull() | F.col("soh.d").isNull()
    errors = parsed.filter(bad).select("recordId", "msg_class", "payload_text")
    good = parsed.filter(~bad)
    enriched = enrich_geocode(good, geo_dim, lon_col="soh.ln", lat_col="soh.lt")
    stage = flatten_soh(enriched, geo_enriched=True)
    parts = event_partition_cols("date_time")
    stage = (
        stage.withColumn("year", parts["year"])
        .withColumn("month", parts["month"])
        .withColumn("day", parts["day"])
    )
    return stage, errors


def _write_raw_tee(cls_df: DataFrame, path: str) -> None:
    """Raw-zone JSON tee partitioned by processing-time y/m/d
    (hello.py:52-62,201-234 — wall-clock ``now.strftime`` partitions).

    Writes with natural task parallelism: the plan has no ``coalesce(1)``,
    so the tee does not funnel a large batch through one task the way the
    Lambda's one-upload-per-batch does (deliberate deviation, SURVEY.md
    §7.5 style)."""
    parts = processing_partition_cols()
    (
        cls_df.withColumn("year", parts["year"])
        .withColumn("month", parts["month"])
        .withColumn("day", parts["day"])
        .write.mode("append")
        .partitionBy("year", "month", "day")
        .json(path)
    )


def process_batch(
    batch: DataFrame,
    batch_id: int,
    lake_dir: str,
    geo_dim: DataFrame,
    maintain_rollup: bool = False,
) -> PipelineBatchResult:
    """The foreachBatch body — the Lambda's records-in/records-out contract
    re-expressed as declarative multi-sink writes: error, stage, alerts,
    then the three raw tees.

    The stage write puts one file per event-day partition per batch (the
    Firehose one-object-per-flush shape).  A day with more than
    ``STAGE_ROWS_PER_FILE`` rows rolls over to further files of that size
    (``maxRecordsPerFile``), so the cap is per day: a many-day backfill
    still writes one file for each day below it.

    ``maintain_rollup=True`` refreshes the daily device rollup for the
    event-day partitions this batch touched (the one hook that needs the
    batch's own partitions)."""
    # Per-class counters are an Observation on the stored frame, filled
    # by the first write.  That is the error write: its plan has no
    # exchange, so it builds the store inside its own job and AQE (which
    # drops stages it finds empty, and the metrics with them) never
    # plans it.  The raw tees need the counts (an empty class writes no
    # files), so they come last.
    observed = Observation()
    classified = classify_records(batch).observe(
        observed,
        *[F.count_if(F.col("msg_class") == cls).alias(cls) for cls in MSG_CLASSES],
    )
    classified.persist()
    try:
        soh = classified.filter(F.col("msg_class") == CLASS_SOH)
        stage, errors = build_stage_rows(soh, geo_dim)
        errors.write.mode("append").json(os.path.join(lake_dir, "error"))
        stage.persist()
        try:
            # one shuffle on the event-date keys so each partition dir gets
            # one file per micro-batch (not files × tasks); a day over the
            # per-file cap rolls over inside its writer task
            (
                stage.repartition("year", "month", "day")
                .write.mode("append")
                .option("maxRecordsPerFile", STAGE_ROWS_PER_FILE)
                .partitionBy("year", "month", "day")
                .parquet(os.path.join(lake_dir, "stage"))
            )
            alerts = alert_rows(stage.drop("year", "month", "day"))
            alerts.write.mode("append").parquet(os.path.join(lake_dir, "alerts"))
            if maintain_rollup:
                # continuous aggregate: refresh only the event-day
                # partitions this batch touched (idempotent under replay —
                # the rollup is recomputed from stage, not delta-merged)
                from ..sources.maintenance import refresh_rollup

                touched = [
                    (r["year"], r["month"], r["day"])
                    for r in stage.select("year", "month", "day").distinct().collect()
                ]
                refresh_rollup(
                    batch.sparkSession,
                    os.path.join(lake_dir, "stage"),
                    os.path.join(lake_dir, "rollup_daily_device"),
                    touched,
                )
        finally:
            stage.unpersist()

        counts = {cls: n for cls, n in observed.get.items() if n}
        for cls in MSG_CLASSES:
            if counts.get(cls, 0):
                _write_raw_tee(
                    classified.filter(F.col("msg_class") == cls)
                    .drop("msg_class", "payload_text"),
                    os.path.join(lake_dir, "raw", cls),
                )
        return PipelineBatchResult(batch_id=batch_id, counts=counts)
    finally:
        classified.unpersist()


def start_pipeline(
    spark: SparkSession,
    landing_dir: str,
    lake_dir: str,
    checkpoint_dir: str,
    trigger_seconds: int = 60,
    available_now: bool = False,
    max_files_per_trigger: int | None = None,
    max_bytes_per_trigger: int | None = None,
    results: list[PipelineBatchResult] | None = None,
    maintain_rollup: bool = False,
    geo_dim: DataFrame | None = None,
) -> StreamingQuery:
    """Wire source → foreachBatch → trigger → checkpoint and start.

    ``available_now=True`` drains the current landing-dir contents then
    stops (test/backfill mode); otherwise a 60 s processing-time trigger
    mirrors the Firehose buffer interval.  ``results`` collects each
    batch's :class:`PipelineBatchResult` once all of its sinks are
    written.

    Each batch runs :func:`process_batch` and nothing else.  The
    reference's nightly crawler (cdk_datalake_mvp_stack.py:320-335) is a
    separate job here too: call ``sources.maintenance.pipeline_maintenance``
    on the caller's own schedule; one pass logs schema drift and runs
    every stage monitor.

    ``geo_dim`` lets callers running SEVERAL pipeline instances (see
    ``start_streams``) share one geocode dimension instead of rebuilding
    it per stream."""
    if geo_dim is None:
        geo_dim = build_geo_dim(spark)
    stream = read_landing_stream(
        spark, landing_dir, max_files_per_trigger, max_bytes_per_trigger
    )

    def _on_batch(batch: DataFrame, batch_id: int) -> None:
        res = process_batch(batch, batch_id, lake_dir, geo_dim,
                            maintain_rollup=maintain_rollup)
        if results is not None:
            results.append(res)

    writer = stream.writeStream.foreachBatch(_on_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


# ---------------------------------------------------------------------------
# multi-stream ingest routing — the reference's ``POST /{stream-name}`` API
# route (cdk_datalake_mvp_stack.py:273-279,295): the path parameter selects
# the delivery stream, so one endpoint fans out to N independent Firehose
# streams.  Spark analog: one pipeline INSTANCE per stream name, each with
# its own landing / checkpoint / lake prefixes — checkpoints never cross,
# so each stream's exactly-once-per-batch progress is independent.
# ---------------------------------------------------------------------------

# API Gateway path-parameter discipline: a stream name is a single path
# segment, S3-prefix-safe.  Reject anything that could escape the prefix
# (separators, dots) BEFORE it reaches os.path.join.
_STREAM_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_-]{0,63}$")


@dataclass(frozen=True)
class StreamRoute:
    """Filesystem layout for one named delivery stream under a shared
    base directory — the Spark analog of the per-stream Firehose
    delivery-stream + S3 prefix the CDK stack provisions per route."""

    stream_name: str
    landing_dir: str
    lake_dir: str
    checkpoint_dir: str


def stream_route(base_dir: str, stream_name: str) -> StreamRoute:
    """Resolve ``POST /{stream-name}`` to the stream's isolated prefixes.

    Producers append JSON-line envelope files under ``landing_dir`` (the
    DirectPut analog); the stream's pipeline owns ``lake_dir`` and
    ``checkpoint_dir``.  Raises ``ValueError`` for names that aren't a
    valid single path segment (the API Gateway path-param contract)."""
    if not _STREAM_NAME_RE.match(stream_name):
        raise ValueError(
            f"invalid stream name {stream_name!r}: must match "
            f"{_STREAM_NAME_RE.pattern} (single S3-prefix-safe path segment)"
        )
    return StreamRoute(
        stream_name=stream_name,
        landing_dir=os.path.join(base_dir, "landing", stream_name),
        lake_dir=os.path.join(base_dir, "lake", stream_name),
        checkpoint_dir=os.path.join(base_dir, "ckpt", stream_name),
    )


def start_streams(
    spark: SparkSession,
    base_dir: str,
    stream_names: list[str],
    results: dict[str, list[PipelineBatchResult]] | None = None,
    **pipeline_kwargs,
) -> dict[str, StreamingQuery]:
    """Start one independent pipeline per stream name (multi-fleet
    ingest).  Every stream gets its own landing/checkpoint/lake prefixes
    from :func:`stream_route`; the geocode dimension is built ONCE and
    shared (broadcast per batch regardless, so sharing costs nothing and
    saves N-1 dim builds).  ``results[name]`` collects per-batch counters
    when a dict is passed.  Remaining kwargs flow to
    :func:`start_pipeline` for every stream.

    Scale: streams are separate StreamingQuery instances scheduled
    concurrently by Spark; at cluster scale each stream's micro-batch
    jobs interleave on the shared executors (fair scheduler pools are
    the knob if one fleet must not starve another)."""
    routes = [stream_route(base_dir, name) for name in stream_names]
    if len({r.stream_name for r in routes}) != len(routes):
        raise ValueError(f"duplicate stream names in {stream_names!r}")
    geo_dim = build_geo_dim(spark)
    queries: dict[str, StreamingQuery] = {}
    for route in routes:
        os.makedirs(route.landing_dir, exist_ok=True)
        stream_results: list[PipelineBatchResult] | None = None
        if results is not None:
            stream_results = results.setdefault(route.stream_name, [])
        queries[route.stream_name] = start_pipeline(
            spark,
            route.landing_dir,
            route.lake_dir,
            route.checkpoint_dir,
            results=stream_results,
            geo_dim=geo_dim,
            **pipeline_kwargs,
        )
    return queries
