"""Gap-based sessionization (SURVEY.md §2 C6) — batch analog of
``session_window``: a new session starts when the gap to the previous
event of the same key exceeds the threshold.

One shuffle (partition by user) + one window sort; session ids are a
running sum of start flags, so the whole operator is two window passes
fused by Catalyst into a single sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def gap_sessions(events: DataFrame) -> DataFrame:
    """Per-session rollup: (user, session_id, n_events, duration_s)."""
    us = F.unix_micros(F.col("ts"))
    # nulls last on the epoch ordering: matches DuckDB's ASC default so a
    # NULL-ts event can't shift every session id for the user
    w = Window.partitionBy("user_id").orderBy(us.asc_nulls_last())
    gap_us = 1800 * 1_000_000
    flagged = events.withColumn(
        "__new_session",
        F.when(
            (us - F.lag(us).over(w)).isNull() | ((us - F.lag(us).over(w)) > gap_us),
            1,
        ).otherwise(0),
    )
    with_ids = flagged.withColumn(
        "session_id",
        F.sum("__new_session").over(
            Window.partitionBy("user_id").orderBy(us.asc_nulls_last())
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return with_ids.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        ((F.max(us) - F.min(us)) / F.lit(1_000_000)).cast("bigint").alias("duration_s"),
    )
