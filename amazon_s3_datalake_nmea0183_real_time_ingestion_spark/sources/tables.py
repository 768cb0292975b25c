"""Parquet table loaders for the driver testdata (TESTDATA.md).

Declarative scans, so Catalyst gets predicate pushdown and column pruning
for free.  ``load_table`` is the one place that learns a table file's
schema, as a Glue catalog holds a table's declared schema: the first read
of a file in a session infers it (a footer-reading Spark job), and every
later read of the same file in that session passes that schema to the
reader and runs no job.  The memo is keyed by the file's identity (real
path, size, mtime), so a file rewritten in place is inferred again.  It
holds the raw file schema; the ``events`` timestamp normalisation runs
after every read.  The crawler (``maintenance.pipeline_maintenance``) does
not read through here: its job is to re-read file schemas.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

# session -> {(realpath, st_size, st_mtime_ns): the schema Spark inferred}.
# Per session because inference reads session confs (nanosAsLong below).
_SCHEMAS: weakref.WeakKeyDictionary[
    SparkSession, dict[tuple[str, int, int], StructType]
] = weakref.WeakKeyDictionary()


def _read(spark: SparkSession, path: str) -> DataFrame:
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)  # a URI, or a path Spark will report
    memo = _SCHEMAS.setdefault(spark, {})
    key = (os.path.realpath(path), st.st_size, st.st_mtime_ns)
    if key in memo:
        return spark.read.schema(memo[key]).parquet(path)
    df = spark.read.parquet(path)
    memo[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # Some testdata generations write events.ts as TIMESTAMP(NANOS),
        # which Spark's vectorized parquet reader rejects; others write
        # plain TIMESTAMP(MICROS, isAdjustedToUTC=false).  Handle both and
        # normalize to a microsecond TimestampType — the precision DuckDB
        # (and most engines) use, so cross-engine comparisons are exact,
        # and the tz-aware type every downstream expression (unix_micros,
        # session_window, range frames) was written against.  With the UTC
        # session timezone (get_spark default) the NTZ→TZ cast is
        # value-preserving.
        # NOTE: the conf is SESSION-WIDE and deliberately left set (also a
        # get_spark default): restoring it before the lazy scan executes
        # would break the read; any later NANOS parquet in the session
        # will likewise surface as long columns.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read(spark, path)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read(spark, path)
