"""Z-order (Morton) data layout: multi-dimensional clustering for file
skipping (the Delta/Iceberg ``OPTIMIZE ZORDER BY`` capability).

A scan with a predicate on ANY of the z-ordered dimensions prunes files by
their min/max footer stats; linear (sort-by-one-column) layout only helps
the leading column.  ``zorder_write`` clusters rows by the interleaved key
with ``repartitionByRange`` — a range exchange over a sampled key
distribution, which at 100 TB is the same machinery a global sort uses but
with NO per-partition total order needed beyond the file-stat envelopes —
then sorts within partitions so row groups inherit tight envelopes too.

The key expression is integer-only and generated as SQL text (shift-right,
mask, carry-free add), identical to the text the x_zorder oracle runs —
pure map-side, whole-stage-codegen'd, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# bits per dimension of the z-order key: the normalization range of
# zorder_write and the interleave width of morton_sql
ZORDER_BITS = 16


def morton_sql(cols: list[str], bits: int = ZORDER_BITS) -> str:
    """n-dimensional bit-interleave as engine-portable SQL text: bit ``j``
    of dimension ``d`` lands at position ``j * n + d``.  Only ``>>``,
    ``&`` and multiplication by power-of-two literals (shift-left without
    an engine-specific function); disjoint positions make ``+`` ≡ ``|``.
    Columns must be non-negative integers (cast/offset upstream)."""
    n = len(cols)
    if n < 2:
        raise ValueError("z-order needs >= 2 columns")
    terms = [
        f"((({c} >> {j}) & 1) * {1 << (j * n + d)})"
        for j in range(bits)
        for d, c in enumerate(cols)
    ]
    return "(" + " + ".join(terms) + ")"


def zorder_key(cols: list[str]) -> Column:
    return F.expr(morton_sql(cols))


def zorder_write(
    df: DataFrame,
    cols: list[str],
    path: str,
    n_files: int = 8,
) -> None:
    """Rewrite ``df`` into ``n_files`` z-ordered parquet files.

    Dimensions are first min-max normalized to the full ``ZORDER_BITS`` width —
    without this, a dimension with a smaller value range only occupies low
    interleave positions and the top Morton bits degenerate to the widest
    column (single-column sort in disguise).  The bounds aggregate is one
    row, broadcast via crossJoin.

    ``repartitionByRange`` on the Morton key assigns contiguous key ranges
    to files (sampled range boundaries — skew-tolerant, no single-reducer
    sort); ``sortWithinPartitions`` tightens row-group stats.  The key
    column is dropped before the write (a projection preserves row order),
    so the layout is invisible to readers except through file statistics.
    """
    top = (1 << ZORDER_BITS) - 1
    bounds = df.agg(
        *[F.min(c).alias(f"__lo_{c}") for c in cols],
        *[F.max(c).alias(f"__hi_{c}") for c in cols],
    )
    keyed = df.crossJoin(bounds)
    norm_names = []
    for i, c in enumerate(cols):
        # Normalize in DOUBLE: for IntegerType dimensions the native-type
        # multiply (col - lo) * 65535 wraps at int32 once the value range
        # exceeds ~32768 (non-ANSI mode silently overflows), and a long
        # widening would instead FLOOR fractional dimensions (lat/lon,
        # scores in [0,1]) before normalization, collapsing them to a few
        # buckets.  Double holds int32 exactly and int64 to 2^53 — beyond
        # that the sub-ULP relative error is invisible at 16-bit key width.
        span = F.greatest(
            F.col(f"__hi_{c}").cast("double") - F.col(f"__lo_{c}").cast("double"),
            F.lit(1e-12),
        )
        keyed = keyed.withColumn(
            f"__n{i}",
            (
                (F.col(c).cast("double") - F.col(f"__lo_{c}").cast("double"))
                * top
                / span
            ).cast("long"),
        )
        norm_names.append(f"__n{i}")
    keyed = keyed.withColumn("__zval", zorder_key(norm_names)).drop(
        *norm_names, *[f"__lo_{c}" for c in cols], *[f"__hi_{c}" for c in cols]
    )
    (
        keyed.repartitionByRange(n_files, "__zval")
        .sortWithinPartitions("__zval")
        .drop("__zval")
        .write.mode("overwrite")
        .parquet(path)
    )


def file_envelopes(spark, path: str, cols: list[str]) -> DataFrame:
    """Per-file min/max envelope of each layout dimension — the pruning
    statistics a planner consults; used to measure layout quality."""
    df = spark.read.parquet(path).withColumn("__file", F.input_file_name())
    aggs = []
    for c in cols:
        aggs.append(F.min(c).alias(f"{c}_min"))
        aggs.append(F.max(c).alias(f"{c}_max"))
    return df.groupBy("__file").agg(*aggs)
