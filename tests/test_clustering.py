"""Spherical k-means (operators/clustering.py): the broadcast plan shape
each assignment step relies on."""

from __future__ import annotations

from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.clustering import (
    kmeans_assign,
    seed_centroids,
)
from conftest import plan_of


def test_kmeans_assign_broadcasts_centroids(spark):
    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)],
        "vec_id bigint, embedding array<float>",
    )
    plan = plan_of(kmeans_assign(df, seed_centroids(df, 2)))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
