"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads), but
every conf below is chosen for the 1000-executor / 100 TB design point:

- AQE on (runtime coalesce, skew-join splitting, dynamic broadcast demotion).
- a 64 MB broadcast threshold: with AQE, the one place join strategies are
  chosen (README "Join strategy policy"; library code hints only sides
  whose size estimate cannot see their bound).
- shuffle partitions sized for the local box; on a real cluster AQE coalesces
  from a high initial number, so the static value matters little.
- Arrow enabled for the (rare) pandas-UDF paths.
- UTC session timezone so event-time semantics are deployment-independent.
- generated-code cache of 4096 classes instead of Spark's 100, sized to
  the headline keys' working set so a warm key never recompiles (the
  measurement is at the setting).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "nmea-datalake-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # TIMESTAMP(NANOS) parquet (the driver's events table) reads as
        # long instead of erroring; sources.tables.load_table converts to
        # microsecond timestamps. Session-wide by design — flipping it per
        # read would break the lazy scan at execution time.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # rank-filter → WindowGroupLimit rewrite fires only for limits ≤
        # this threshold (default 1000); the KMV sketch keeps k = 1024
        # rows per source (x_theta_intersect), which silently missed the
        # per-partition top-k heap rewrite at the default
        .config("spark.sql.optimizer.windowGroupLimitThreshold", "4096")
        # Generated-class cache, a static conf (read once, at the JVM's
        # first codegen).  One cold pass over the 157 headline keys at
        # sf0.01 compiles 2,880 distinct classes; the cap is the next
        # power of two.  At Spark's default of 100 a warm pass over the
        # 7-key perfbench query mix (108 classes) found them evicted and
        # recompiled 95, and a warm headline pass recompiled 4,704 (170
        # at 4096).  Measured after one cold headline pass on 4 cores
        # with a 2 GB heap: Metaspace 205 MB vs 217 MB at 100, JVM peak
        # RSS 2,990 MB vs 3,077 MB.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # Scale-dependent overrides (r14): ``SPARK_GRAFT_CONF`` is a
    # semicolon-separated ``key=value`` list applied LAST, so cluster
    # deployments and A/B probes can vary join-strategy / codec / memory
    # knobs without editing code — the parameterization the optimization
    # rounds require for anything whose best value differs between
    # local[32] and a 1000-executor cluster.  Empty by default: the
    # committed defaults above are the measured local configuration the
    # driver's bench runs against.
    extra = os.environ.get("SPARK_GRAFT_CONF", "")
    for kv in extra.split(";"):
        if not kv.strip():
            continue
        k, sep, v = kv.partition("=")
        if not sep or not k.strip():
            # ADVICE r14: a typo'd entry ('spark.x.y', 'key:value') would
            # silently set the conf key to '' and break the session in a
            # hard-to-diagnose way — fail loudly at startup instead
            raise ValueError(
                f"SPARK_GRAFT_CONF entry {kv!r} is not key=value"
            )
        builder = builder.config(k.strip(), v.strip())
    return builder.getOrCreate()
