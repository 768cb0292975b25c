"""Scalar (int8-style) embedding quantization for 100 TB vector stores.

Per-dimension affine quantization: each dimension d gets a codebook entry
(lo_d, hi_d) from one pass over the corpus; every component is snapped to
one of ``levels + 1`` evenly spaced values

    code  = floor((x - lo) * levels / (hi - lo) + 0.5)        in [0, levels]
    x'    = lo + code * (hi - lo) / levels

With ``levels = LEVELS = 255`` a float32 corpus compresses 4x (one byte per
component + a 2-float-per-dimension codebook), which at the 100 TB design
point is the difference between an embedding store that fits executor
memory and one that doesn't.  Search over quantized vectors uses
asymmetric distance computation (ADC): queries stay full-precision,
corpus vectors are dequantized on the fly — the standard trade from the
product-quantization literature (Jégou, Douze & Schmid, TPAMI'11; scalar
quantization is its one-subspace/256-centroid degenerate case, with the
codebook learned by min/max instead of k-means).

Determinism contract (registry.py): ``floor(t + 0.5)`` instead of
``round(t)`` — both engines evaluate the identical double expression tree
(Spark and DuckDB ``round`` disagree on binary .5 ties; ``floor`` cannot).
All arithmetic is float64 end-to-end and element order is the list order,
so dequantized components are bit-identical across engines.

Scale shape: the codebook is ONE posexplode + dim-keyed min/max agg
(64 rows out, map-side combinable) broadcast back as a 1-row frame of two
arrays; quantize/dequantize are then pure map-side ``zip_with`` /
``transform`` expressions inside whole-stage codegen — zero extra
shuffles, no Python.  Re-using a persisted codebook (the production
cadence: train once, apply per ingest batch) drops even the stats pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import as_double

LEVELS = 255  # one byte per component


def dim_codebook(df: DataFrame) -> DataFrame:
    """One-row codebook frame ``(lo: array<double>, hi: array<double>)``
    holding per-dimension min/max over the corpus.

    One shuffle (dim-keyed min/max over the posexploded components — the
    agg is map-side combinable so the exchange carries 2 doubles per
    dimension per task, not the corpus); the final assembly sorts the
    64-row result into position-ordered arrays driver-free via
    ``array_sort(collect_list(struct(dim, v)))``.
    """
    el = df.select(F.posexplode(as_double(F.col("embedding"))).alias("dim", "x"))
    cb = el.groupBy("dim").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    return cb.agg(
        F.array_sort(F.collect_list(F.struct("dim", "lo"))).alias("ls"),
        F.array_sort(F.collect_list(F.struct("dim", "hi"))).alias("hs"),
    ).select(
        F.transform("ls", lambda s: s["lo"]).alias("lo"),
        F.transform("hs", lambda s: s["hi"]).alias("hs"),
    ).withColumnRenamed("hs", "hi")


def _zip3(x: Column, lo: Column, hi: Column, f) -> Column:
    """Elementwise f(x_i, lo_i, hi_i) over three equal-length arrays,
    evaluated inside codegen (two nested zip_with, no explode)."""
    paired = F.zip_with(x, lo, lambda xv, lv: F.struct(xv.alias("x"), lv.alias("l")))
    return F.zip_with(paired, hi, lambda s, hv: f(s["x"], s["l"], hv))


def _code(x: Column, lo: Column, hi: Column, levels: int) -> Column:
    # floor(double) is exact on both engines; constant-range dims get 0.
    # CLAMP to [0, levels]: the production cadence applies a PERSISTED
    # codebook to later batches, where components outside the trained
    # [lo, hi] would otherwise emit codes outside one byte (x=2.0 on a
    # [0,1] dim -> 510) and extrapolated dequant values poisoning ADC
    # distances.  In-range inputs (every registered oracle key derives
    # the codebook from the same corpus) are unaffected.
    return F.when(hi == lo, F.lit(0).cast("bigint")).otherwise(
        F.greatest(
            F.lit(0).cast("bigint"),
            F.least(
                F.lit(levels).cast("bigint"),
                F.floor((x - lo) * float(levels) / (hi - lo) + 0.5),
            ),
        )
    )


def quantize(df: DataFrame, codebook: DataFrame) -> DataFrame:
    """Attach ``qcode`` (array<int> codes, the stored representation) and
    ``xq`` (array<double>, the dequantized view searches use) — map-side
    only once the 1-row codebook is broadcast."""
    dv = as_double(F.col("embedding"))
    # reserved aliases: an input frame that itself carries a 'lo' or 'hi'
    # column would otherwise make the zip_with references ambiguous and
    # fail analysis (same __-prefix convention as the pipeline scratch
    # columns)
    cb = codebook.select(
        F.col("lo").alias("__cb_lo"), F.col("hi").alias("__cb_hi")
    )
    out = df.crossJoin(cb)
    code = lambda x, lo, hi: _code(x, lo, hi, LEVELS)  # noqa: E731
    deq = lambda x, lo, hi: F.when(hi == lo, lo).otherwise(  # noqa: E731
        lo + _code(x, lo, hi, LEVELS) * (hi - lo) / float(LEVELS)
    )
    return out.select(
        *df.columns,
        _zip3(dv, F.col("__cb_lo"), F.col("__cb_hi"), code).cast("array<int>").alias("qcode"),
        _zip3(dv, F.col("__cb_lo"), F.col("__cb_hi"), deq).alias("xq"),
    )


def quantization_error(df: DataFrame, codebook: DataFrame) -> DataFrame:
    """Per-vector reconstruction report: mean squared error, worst
    absolute component error, and cosine fidelity between the original
    and its dequantized self — the gate to run before committing a corpus
    to a quantized layout (pair with x_ann_recall-style search recall).

    All three stats are fixed-order list folds (left-to-right float64),
    so both engines materialize identical doubles before rounding.
    """
    q = quantize(df, codebook)
    dv = as_double(F.col("embedding"))
    err = F.zip_with(dv, F.col("xq"), lambda a, b: a - b)
    sse = F.aggregate(
        F.transform(err, lambda e: e * e), F.lit(0.0), lambda acc, e: acc + e
    )
    dot = F.aggregate(
        F.zip_with(dv, F.col("xq"), lambda a, b: a * b),
        F.lit(0.0), lambda acc, p: acc + p,
    )
    nrm = lambda v: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(v, lambda e: e * e), F.lit(0.0), lambda acc, e: acc + e
    ))
    return q.select(
        F.col("vec_id"),
        F.round(sse / F.size(dv), 9).alias("mse"),
        F.round(
            F.array_max(F.transform(err, lambda e: F.abs(e))), 6
        ).alias("max_abs_err"),
        F.round(F.try_divide(dot, nrm(dv) * nrm(F.col("xq"))), 6).alias(
            "cos_fidelity"
        ),
    )
