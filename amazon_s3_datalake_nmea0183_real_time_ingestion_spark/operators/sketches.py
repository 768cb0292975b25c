"""Count–min sketch for heavy-hitter monitoring (Cormode & Muthukrishnan,
"An improved data stream summary: the count-min sketch and its
applications", J. Algorithms 2005).

The sketch is a ``CMS_DEPTH × CMS_WIDTH`` grid of counters; key ``x`` maps to one
bucket per row via independent hashes, and its frequency estimate is the
MIN of its ``CMS_DEPTH`` cells.  Two properties make it the right monitor for
viral boilerplate arriving between exact census runs (the streaming-
friendly complement of x_vocab_topk's exact wordcount):

- **never an underestimate** — every occurrence of ``x`` lands in all of
  ``x``'s cells, so ``est >= true`` deterministically (collisions only
  ADD); the adjudicated key asserts this invariant per heavy hitter;
- **mergeable** — the grid is a sum of per-partition / per-microbatch
  grids, so it aggregates with one map-side-combinable shuffle bounded by
  ``CMS_DEPTH·CMS_WIDTH`` rows per partition, regardless of corpus size or key
  cardinality.

Hashes are the repo's cross-engine md5 scheme (functions/hashing.py):
``bucket_j(x) = md5_u32('cms' || j || ':' || x) % CMS_WIDTH`` — DuckDB replays
the ENTIRE sketch bit-identically, so the oracle checks the real estimates,
not a loose tolerance band.

Scale shape: building from raw occurrences is
``explode → (j, bucket) → count`` — one shuffle whose map-side combine
caps partial state at ``CMS_DEPTH·CMS_WIDTH`` counters; the finished sketch is
``CMS_DEPTH·CMS_WIDTH`` rows (KBs) and BROADCASTS into the estimate join.  Nothing
corpus-proportional is ever collected or broadcast.  When an exact
per-key count table already exists (the adjudication path below), the
identical grid is derived from it with one tiny shuffle over distinct keys
— same cells, fewer md5 evaluations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_u32

# rows and columns of every sketch grid; a grid and its estimate must
# agree on both
CMS_DEPTH = 4
CMS_WIDTH = 1024


def _bucket(key: F.Column, j: F.Column) -> F.Column:
    """Row-``j`` bucket of ``key``: md5_u32('cms<j>:<key>') % CMS_WIDTH —
    non-negative on both engines (md5_u32 is in [0, 2^32))."""
    return md5_u32(F.concat(F.lit("cms"), j.cast("string"), F.lit(":"), key)) % CMS_WIDTH


def cms_from_counts(counts: DataFrame, key_col: str, n_col: str) -> DataFrame:
    """Build the sketch grid from an exact (key, count) table: each key
    adds its count to one cell per row.  Returns (j, bucket, cell) —
    at most ``CMS_DEPTH·CMS_WIDTH`` rows.  Cell values are identical to the
    occurrence-stream construction (addition is associative); this form
    just hashes each DISTINCT key once per row instead of once per
    occurrence."""
    probes = counts.select(
        F.col(n_col).alias("__n"),
        F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("j"),
        F.col(key_col).alias("__k"),
    )
    return (
        probes.select("j", _bucket(F.col("__k"), F.col("j")).alias("bucket"),
                      F.col("__n"))
        .groupBy("j", "bucket")
        .agg(F.sum("__n").alias("cell"))
    )


def cms_from_stream(items: DataFrame, key_col: str) -> DataFrame:
    """Build the same grid straight from an occurrence stream (one row per
    occurrence, no exact counts anywhere) — the production/streaming
    path: map each occurrence to ``CMS_DEPTH`` (j, bucket) cells and count.
    Map-side combine bounds per-partition partial state at CMS_DEPTH·CMS_WIDTH
    counters, so the shuffle is sketch-sized, not corpus-sized."""
    probes = items.select(
        F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("j"),
        F.col(key_col).alias("__k"),
    )
    return (
        probes.select("j", _bucket(F.col("__k"), F.col("j")).alias("bucket"))
        .groupBy("j", "bucket")
        .agg(F.count("*").alias("cell"))
    )


def cms_estimate(keys: DataFrame, sketch: DataFrame, key_col: str) -> DataFrame:
    """Point-query the sketch: per input row, min over the ``CMS_DEPTH`` cells
    its key maps to.  The sketch (≤ CMS_DEPTH·CMS_WIDTH rows) broadcasts; the
    keys side keeps all its columns.

    The grid is stored SPARSE (only touched cells have rows), so the
    probe is a LEFT join with absent cells counting as 0: a never-seen
    key — the monitoring use case is exactly 'estimate these candidate
    tokens' — gets est=0 (the canonical CMS answer), not a dropped row
    or a min over only its populated cells (code-review r7 finding)."""
    cols = keys.columns
    probes = keys.select(
        *cols, F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("j")
    ).withColumn("bucket", _bucket(F.col(key_col), F.col("j")))
    return (
        # <= CMS_DEPTH * CMS_WIDTH cells; the estimate grows with the counted stream
        probes.join(F.broadcast(sketch), ["j", "bucket"], "left")
        .groupBy(*cols)
        .agg(F.min(F.coalesce(F.col("cell"), F.lit(0))).alias("est"))
    )


def cms_inner_product(sketch_a: DataFrame, sketch_b: DataFrame) -> DataFrame:
    """Join-cardinality estimate from two CMS grids (Cormode &
    Muthukrishnan '05 §4.2, the sketch form of the AMS F2/inner-product
    estimator): |A ⋈ B on k| = Σ_k fA(k)·fB(k) is estimated by
    min over rows j of Σ_bucket cellA[j,b]·cellB[j,b].  Like the point
    query, NEVER an underestimate — hash collisions only add non-negative
    cross terms to each row's sum, so every row bounds the true inner
    product from above and so does their min.  Returns one row (est).

    This is the cost-based-planner primitive: the join size of two
    100 TB relations priced from two KB-sized sketches that were built
    map-side-combinably and could have been persisted with yesterday's
    partitions — no scan, no join, to get the estimate.

    Absent cells are zero on either side, so the inner join over
    (j, bucket) loses nothing (0·x = 0); the grids are ≤ CMS_DEPTH·CMS_WIDTH
    rows each, so everything here is control-plane-sized.

    Arithmetic bound: the int64 dot product is EXACT (the adjudicated
    contract — the oracle replays it bit-identically) but capped at
    Σ_b cellA·cellB ≤ |A|·|B| < 2^63, i.e. relations up to ~3×10⁹ rows
    each; beyond that ANSI mode fails LOUDLY rather than wrapping, and
    the production answer is to compute the dot in float64 (the
    estimate is ±ε·|A|·|B| anyway, so 53-bit mantissa loss is noise)."""
    a = sketch_a.select("j", "bucket", F.col("cell").alias("__ca"))
    b = sketch_b.select("j", "bucket", F.col("cell").alias("__cb"))
    per_row = (
        a.join(b, ["j", "bucket"])
        .groupBy("j")
        .agg(F.sum(F.col("__ca") * F.col("__cb")).alias("__dot"))
    )
    return per_row.agg(F.min("__dot").alias("est"))


def countsketch_from_counts(counts: DataFrame, key_col: str, n_col: str) -> DataFrame:
    """Count-Sketch grid (Charikar, Chen & Farach-Colton ICALP'02; the
    AMS sign trick bucketized): each key adds ``sign_j(k) · count`` to
    its row-j bucket, where sign and bucket come from INDEPENDENT md5
    hashes ('cs'/'csb' salts) over a ``CMS_DEPTH × 1024`` grid.  Returns
    (j, bucket, cell) with cells in
    [-Σn, +Σn] — signs make collision noise cancel in expectation, which
    is what buys the unbiased F2 estimator (:func:`countsketch_f2`) its
    RELATIVE error guarantee where the all-positive CMS only gets an
    additive one.  Same mergeability/map-side-combine economics as
    cms_from_counts."""
    probes = counts.select(
        F.col(n_col).alias("__n"),
        F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("j"),
        F.col(key_col).alias("__k"),
    )
    sign = (
        md5_u32(
            F.concat(F.lit("cs"), F.col("j").cast("string"), F.lit(":"),
                     F.col("__k"))
        )
        % 2
    ) * 2 - 1
    bucket = md5_u32(
        F.concat(F.lit("csb"), F.col("j").cast("string"), F.lit(":"),
                 F.col("__k"))
    ) % 1024
    return (
        probes.select(
            "j", bucket.alias("bucket"), (sign * F.col("__n")).alias("__s")
        )
        .groupBy("j", "bucket")
        .agg(F.sum("__s").alias("cell"))
    )


def countsketch_f2(grid: DataFrame) -> DataFrame:
    """Per-row F2 (self-join size / second frequency moment) estimates
    from a Count-Sketch grid: row j's estimate is Σ_bucket cell².  Each
    row is UNBIASED for Σ_k f(k)² (cross terms carry independent random
    signs and cancel in expectation) with relative std ≈ sqrt(2/width) —
    ~4.4 % per row at width 1024, halved by averaging rows — so flat
    frequency distributions get tight estimates where CMS's all-positive
    collisions overshoot by the additive ε·(Σf)² term
    (x_join_card's measured 20×).  Returns (j, est), depth rows —
    control-plane-sized, like every sketch read in this module."""
    return (
        grid.groupBy("j")
        .agg(F.sum(F.col("cell") * F.col("cell")).alias("est"))
    )
