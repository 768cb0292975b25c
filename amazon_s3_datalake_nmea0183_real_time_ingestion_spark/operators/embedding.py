"""Embedding-matrix operators: random-projection dimensionality reduction.

Johnson–Lindenstrauss-style sketching for 100 TB embedding tables: a
fixed ±1 (Rademacher) projection matrix is inlined as literals and
applied map-side — one pass per row, zero shuffles, no Python.  Achlioptas
(JCSS'03) showed ±1 entries preserve pairwise distances like Gaussian
projections, and integer arithmetic makes the result ENGINE-EXACT: the
input vector is quantized to integers (``floor(x·1000)``) before the
matmul, so reduced components are exact BIGINTs any ANSI oracle can
replay (same portability trick as operators/similarity.py LSH bits).

Reference parity: the reference repo has no embedding ops (its analytics
layer is Athena SQL, cdk_datalake_mvp/hello.py); this is part of the
Tier C training-data extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import as_double


def project_embeddings(df: DataFrame, planes: list[list[int]]) -> DataFrame:
    """Reduce ``embedding`` (dim d) to ``len(planes)`` integer components.

    Output: ``(vec_id, r0 .. r{k-1})`` with each component
    ``sum_d floor(v[d]*1000) * planes[j][d]`` as BIGINT.

    Scale shape: narrow map-side projection (WholeStageCodegen, no
    exchange).  All k dot products are computed in ONE nested-HOF pass
    over the materialized quantized vector — an inline expression inside
    a ``transform`` lambda would be re-evaluated per element (O(k·d²)).
    At 1000 executors this is embarrassingly parallel; the 100 TB play
    is to write the reduced table back partitioned by downstream join
    key so the expensive full-width column is never re-read.
    """
    vq = F.transform(as_double(F.col("embedding")),
                     lambda x: F.floor(x * 1000).cast("bigint"))
    quant = df.select(F.col("vec_id"), vq.alias("vq"))  # materialize: HOF lambdas must read an attribute
    planes_lit = F.array(*[F.array(*[F.lit(s) for s in row]) for row in planes])
    dots = F.transform(
        planes_lit,
        lambda s: F.aggregate(
            F.zip_with(F.col("vq"), s, lambda a, b: a * b),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ),
    )
    proj = quant.select(F.col("vec_id"), dots.alias("dots"))
    out_cols = [
        F.element_at("dots", j + 1).alias(f"r{j}")
        for j in range(len(planes))
    ]
    return proj.select(F.col("vec_id"), *out_cols)
