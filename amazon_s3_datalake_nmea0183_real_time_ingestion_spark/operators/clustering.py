"""Embedding clustering — spherical (cosine) k-means over ``array<float>``
embedding columns (Tier C3/C7 bridge: cluster-based curation à la SemDeDup —
cluster the corpus, then dedup/prune WITHIN clusters — and the training
step that produces IVF centroids, operators/similarity.py).

Each step is the scale-safe IVF shape: centroids (k × dim, KBs)
broadcast; assignment is map-side (no corpus shuffle); the centroid update
is one posexplode + groupBy(cluster, pos) partial-agg shuffle whose output
is k × dim rows.  The ``x_kmeans_assign`` / ``x_kmeans_iter`` keys run
these steps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import as_double
from .similarity import assign_to_centroids, label_centroids


def seed_centroids(vectors: DataFrame, k: int) -> DataFrame:
    """Deterministic seeding: the k lowest-id vectors become the initial
    centroids (engine-reproducible; swap for k-means|| sampling when ids
    carry meaning)."""
    return vectors.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("centroid_id"), as_double(F.col("embedding")).alias("centroid")
    )


def kmeans_assign(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """One assignment pass: nearest centroid by round(cosine, 6) with
    centroid-id tiebreak (broadcast centroids, map-side — the corpus never
    shuffles).  Returns (``vec_id``, ``cluster``)."""
    return assign_to_centroids(vectors, centroids).select(
        "vec_id", "cluster"
    )


def kmeans_update(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """One Lloyd step: assign, then recompute centroids as per-cluster
    elementwise means (rounded to engine-independent doubles).  Empty
    clusters drop out (standard Lloyd behavior)."""
    assigned = assign_to_centroids(vectors, centroids)
    return label_centroids(
        assigned.select(F.col("cluster").alias("label"), F.col("vd").alias("embedding"))
    )

