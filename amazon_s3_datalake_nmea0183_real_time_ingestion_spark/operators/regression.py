"""Distributed gradient-descent regression — the model-fitting workload
shape of the training-data pipeline (fitting a quality classifier, a
tokens-per-byte cost model, a dedup-threshold calibrator) expressed as
the classic data-parallel loop: per round, ONE map-side-combinable
gradient aggregate over the corpus plus a scalar-sized driver collect
(the sanctioned control-plane pattern — BPE's winning pair, star-CC's
convergence signature), then the updated weights fold back into the next
round's plan as literals.

Squared loss on purpose: its gradient is pure +/*, so every engine
computes the identical float64 arithmetic — no libm (exp/log sigmoid)
whose last-bit behavior differs across platforms (the quality_logit
lesson, functions/text.py).  Only the AGGREGATES are rounded (gradients
round-6, mse round-4 — summation order differs across engines); the
weight update itself is scalar float64 arithmetic on those rounded
inputs, bit-identical everywhere, so weights are deliberately NOT
rounded: re-rounding them would CREATE halfway ties (a one-decimal lr
times a 6-decimal gradient terminates at the 7th decimal, so ~10% of
updates landed exactly on a .5e-6 boundary where Spark's HALF_UP and
DuckDB's binary rounding disagree — measured in the first
registration, w1 25.900402 vs 25.900403).

Scale shape: R rounds cost R corpus aggregates (each one shuffle of d+1
partial sums, map-side combinable); weights are d+1 doubles —
control-plane at any corpus size.  This is exactly how a data-parallel
GD epoch runs on a 1000-executor cluster: gradients reduce tree-wise,
the driver updates, the broadcast is the weight vector.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# GD steps and learning rate: the x_linreg_gd key and its unrolled oracle
# agree on both
GD_ROUNDS = 3
GD_LR = 0.1


def linreg_gd(spark: SparkSession, df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Fit ``y ≈ w0 + w1·x`` by ``GD_ROUNDS`` full-batch GD steps from
    w = (0, 0).  Returns one row per round: (round, w0, w1, mse) — the
    convergence trajectory (weights raw float64, mse round-4), which
    any engine replays exactly.

    Gradient of mean squared error: g0 = avg(2·(ŷ−y)),
    g1 = avg(2·(ŷ−y)·x); update w ← w − GD_LR·g (unrounded — see module
    docstring); mse reported AFTER the update (the quantity the next
    round would reduce).
    """
    feats = df.select(
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
    )
    w0, w1 = 0.0, 0.0
    out: list[tuple[int, float, float, float]] = []
    for r in range(1, GD_ROUNDS + 1):
        resid = F.lit(w0) + F.lit(w1) * F.col("__x") - F.col("__y")
        g = feats.agg(
            F.round(F.avg(2.0 * resid), 6).alias("g0"),
            F.round(F.avg(2.0 * resid * F.col("__x")), 6).alias("g1"),
        ).collect()[0]
        w0 = w0 - GD_LR * g["g0"]
        w1 = w1 - GD_LR * g["g1"]
        resid2 = F.lit(w0) + F.lit(w1) * F.col("__x") - F.col("__y")
        mse = feats.agg(
            F.round(F.avg(resid2 * resid2), 4).alias("mse")
        ).collect()[0]["mse"]
        out.append((r, w0, w1, float(mse)))
    return spark.createDataFrame(
        out, "round int, w0 double, w1 double, mse double"
    )
