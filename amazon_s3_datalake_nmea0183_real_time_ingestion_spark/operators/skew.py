"""Skew-handling utilities (SCALE.md; SURVEY.md §2 scale concerns).

AQE handles skewed sort-merge JOINS (splitting oversized partitions) and
partial aggregation flattens skew for algebraic aggregates (sum/count/
min/max reduce map-side). The remaining hot spot is a NON-algebraic
aggregate on a skewed key — ``collect_list``/``collect_set`` ship every
row of a hot key to one reducer. These helpers split that into two
phases through a salt key:

    groupBy(key, salt) partial-collect  →  groupBy(key) merge

so a hot key's rows spread over ``N_SALT`` reducers first, and the final
merge combines ``N_SALT`` pre-built lists instead of millions of rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_SALT = 16


def _salt(df: DataFrame, salt_on: Column, n_salt: int) -> Column:
    return F.pmod(F.xxhash64(salt_on), F.lit(n_salt))


def salted_collect_set(df: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """Two-phase ``collect_set(value_col)`` per key group, skew-safe, as
    ``{value_col}_set``.

    Result equals the direct ``groupBy(keys).agg(collect_set(...))`` as a
    SET (array order is unspecified in both, as with Spark's own)."""
    salted = df.withColumn("__salt", _salt(df, F.col(value_col), N_SALT))
    partial = salted.groupBy(*keys, "__salt").agg(
        F.collect_set(value_col).alias("__part")
    )
    return (
        partial.groupBy(*keys)
        .agg(
            F.array_distinct(F.flatten(F.collect_list("__part")))
            .alias(f"{value_col}_set")
        )
    )


def salted_exact_distinct_count(df: DataFrame, keys: list[str], value_col: str,
                                out_col: str = "n_distinct") -> DataFrame:
    """Exact COUNT(DISTINCT value) per key group via two-phase dedup —
    the explicit form of the expand rewrite, with a salt so one hot key's
    distinct set is deduped across ``N_SALT`` reducers first.

    NULL values are excluded, matching SQL ``count(DISTINCT v)`` — the
    unfiltered two-phase count would tally NULL as one extra "value"
    per group (xxhash64(NULL) → NULL salt shard), silently one higher
    than both Spark's count_distinct and any SQL oracle.  Groups whose
    values are ALL NULL still appear, with 0 — GROUP BY keeps the key
    even when the aggregate has nothing to count."""
    salted = df.filter(F.col(value_col).isNotNull()).withColumn(
        "__salt", _salt(df, F.col(value_col), N_SALT)
    )
    partial = (
        salted.select(*keys, "__salt", value_col)
        .distinct()  # dedupe within (key, salt) shard
        .groupBy(*keys, "__salt")
        .agg(F.count("*").alias("__n"))
    )
    # value→salt assignment is deterministic (hash), so shards are disjoint
    counted = partial.groupBy(*keys).agg(
        F.sum("__n").cast("bigint").alias(out_col)
    )
    all_keys = df.select(*keys).distinct()
    return all_keys.join(counted, list(keys), "left").select(
        *keys, F.coalesce(F.col(out_col), F.lit(0)).cast("bigint").alias(out_col)
    )
