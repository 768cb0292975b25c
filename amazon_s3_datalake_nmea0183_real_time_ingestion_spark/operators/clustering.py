"""Embedding clustering — spherical (cosine) k-means over ``array<float>``
embedding columns (Tier C3/C7 bridge: cluster-based curation à la SemDeDup —
cluster the corpus, then dedup/prune WITHIN clusters — and the training
step that produces IVF centroids, operators/similarity.py).

Every iteration is the scale-safe IVF shape: centroids (k × dim, KBs)
broadcast; assignment is map-side (no corpus shuffle); the centroid update
is one posexplode + groupBy(cluster, pos) partial-agg shuffle whose output
is k × dim rows.  Convergence is judged on the ROUNDED centroid snapshot
(k × dim doubles, collected — control-plane size), so the loop stops on a
fixpoint identically in any engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import as_double
from ..storage import stored
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


def kmeans(vectors: DataFrame, k: int = 8, max_iters: int = 10) -> DataFrame:
    """Spherical k-means to fixpoint (or ``max_iters``): returns the final
    (``vec_id``, ``cluster``) assignment.

    Convergence probe: the rounded centroid snapshot (k × dim values) is
    collected and compared across rounds — k × dim is KBs at any corpus
    size, so the probe is control-plane, not a data-plane join.
    Each round's centroids are ``stored()`` to cut lineage (same pattern
    as connected_components: the snapshot collect is the action that
    stores them).
    """
    cents = vectors.sparkSession.createDataFrame(
        seed_centroids(vectors, k).collect(),
        "centroid_id bigint, centroid array<double>",
    )
    prev_snapshot = None
    for _ in range(max_iters):
        new_cents = stored(kmeans_update(vectors, cents))
        snapshot = sorted(
            (r["centroid_id"], tuple(r["centroid"])) for r in new_cents.collect()
        )
        cents = new_cents
        if snapshot == prev_snapshot:
            break
        prev_snapshot = snapshot
    return kmeans_assign(vectors, cents)
