"""Robust outlier detection: per-group median / MAD statistics and the
3·1.4826·MAD flag rule (Hampel '74; Leys et al. '13) — the anomaly screen
whose reference statistics, unlike mean/stddev z-scores, are not dragged
by the very outliers being hunted.

Two-phase by design so the same scorer serves batch and streaming:

- :func:`mad_stats` FITS on a (reference) batch — two group-keyed exact
  medians; the result is one row per group.
- :func:`flag_outliers` SCORES any frame map-side against those stats
  (broadcast join) — no shuffle of the scored side.  On an unbounded
  stream that is a stream-static join, the fit-offline/score-online split
  every production anomaly pipeline uses: stats refresh on a batch
  cadence (e.g. the maintenance cycle), scoring stays per-record cheap.

Scale: exact ``median`` holds one group's values in executor memory —
right for low-cardinality group keys (event classes, device models); for
high-cardinality groups swap in ``approx_percentile(col, 0.5)`` (mergeable
sketch — the q_agg_approx_quantile path); the flag rule is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAD_CONSISTENCY = 1.4826  # normal-distribution consistency constant


def mad_stats(df: DataFrame) -> DataFrame:
    """Per-group (median, MAD): the robust location/scale fit step."""
    med = df.groupBy("event_type").agg(F.median("value").alias("med"))
    return (
        # one row per group (a low-cardinality key); estimated from df
        df.join(F.broadcast(med), "event_type")
        .withColumn("__adev", F.abs(F.col("value") - F.col("med")))
        .groupBy("event_type")
        .agg(F.max("med").alias("med"), F.median("__adev").alias("mad"))
    )


def flag_outliers(df: DataFrame, stats: DataFrame, keep_stats: bool = False) -> DataFrame:
    """Map-side scoring: adds ``is_outlier`` (|v − med| > 3·1.4826·MAD)
    and ``robust_z`` ((v − med) / (1.4826·MAD), NULL when MAD = 0).
    ``stats`` is broadcast — the scored side never shuffles.
    ``keep_stats=True`` keeps the joined med/mad columns so downstream
    reporting doesn't have to re-join (and re-evaluate) the stats plan."""
    dev = F.col("value") - F.col("med")
    scale = F.lit(MAD_CONSISTENCY) * F.col("mad")
    out = (
        # one row per group (a low-cardinality key); estimated from df
        df.join(F.broadcast(stats), "event_type")
        .withColumn("robust_z", F.try_divide(dev, scale))
        .withColumn("is_outlier", F.abs(dev) > F.lit(3.0) * scale)
    )
    return out if keep_stats else out.drop("med", "mad")
