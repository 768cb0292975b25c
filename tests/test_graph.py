"""pagerank(): exact values on a hand-computable graph + invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.graph import (
    copurchase_pairs,
    pagerank,
)


def _ranks(spark, edges, nodes, n_iter):
    e = spark.createDataFrame(edges, "src long, dst long")
    n = spark.createDataFrame([(x,) for x in nodes], "node long")
    out = pagerank(e, n, n_iter=n_iter)
    return {r["node"]: r["r"] for r in out.collect()}


def test_pagerank_star_graph_exact(spark):
    # star: 1..4 each <-> 0 (undirected, both directions).  N=5.
    # leaves have deg 1 (-> hub), hub deg 4 (-> 1/4 to each leaf).
    edges = [(0, i) for i in range(1, 5)] + [(i, 0) for i in range(1, 5)]
    nodes = [0, 1, 2, 3, 4]
    d, n = 0.85, 5.0
    r_hub, r_leaf = 1 / n, 1 / n
    for _ in range(3):  # replay the recurrence in plain Python
        new_hub = (1 - d) / n + d * 4 * r_leaf  # leaves send all rank
        new_leaf = (1 - d) / n + d * (r_hub / 4)
        r_hub, r_leaf = new_hub, new_leaf
    got = _ranks(spark, edges, nodes, n_iter=3)
    assert got[0] == pytest.approx(r_hub, rel=1e-12)
    for leaf in (1, 2, 3, 4):
        assert got[leaf] == pytest.approx(r_leaf, rel=1e-12)


def test_pagerank_mass_conserved_without_dangling(spark):
    # a cycle has no dangling nodes: total rank must stay exactly 1
    edges = [(i, (i + 1) % 6) for i in range(6)]
    got = _ranks(spark, edges, list(range(6)), n_iter=4)
    assert sum(got.values()) == pytest.approx(1.0, rel=1e-12)
    # symmetric structure -> uniform ranks
    for v in got.values():
        assert v == pytest.approx(1 / 6, rel=1e-12)


def test_pagerank_isolated_node_keeps_teleport_only(spark):
    edges = [(0, 1), (1, 0)]
    got = _ranks(spark, edges, [0, 1, 2], n_iter=2)
    assert got[2] == pytest.approx(0.15 / 3, rel=1e-12)
    assert got[0] == got[1] > got[2]


def test_copurchase_pairs_null_basket_key_yields_no_pairs(spark):
    # NULL-key rows are not one shared basket: only basket 1 pairs
    li = spark.createDataFrame(
        [(None, 1), (None, 2), (None, 3), (1, 4), (1, 5)],
        "l_orderkey long, l_partkey long",
    )
    und = {(r.u, r.v) for r in copurchase_pairs(li).collect()}
    assert und == {(4, 5)}
    directed = {(r.src, r.dst) for r in copurchase_pairs(li, directed=True).collect()}
    assert directed == {(4, 5), (5, 4)}


def test_copurchase_hub_screened_before_collect_set(spark):
    """A planted 2000-wide hub basket yields no pairs under ``max_basket``,
    and the width screen (distinct count + anti-join) sits below the
    ``collect_set`` aggregation, so the hub's item array is never built."""
    from conftest import plan_of

    organic = spark.createDataFrame(
        [(b, b * 10 + j) for b in range(5) for j in range(3)],
        "l_orderkey long, l_partkey long",
    )
    hub = spark.range(2_000).select(
        F.lit(999_999).cast("long").alias("l_orderkey"),
        (F.col("id") + 1_000_000).alias("l_partkey"),
    )
    guarded = copurchase_pairs(organic.unionByName(hub), max_basket=10)
    # read before the action: an executed AQE plan prints two trees
    lines = plan_of(guarded, "simple").splitlines()
    pairs = {(r.u, r.v) for r in guarded.collect()}
    assert pairs == {
        (b * 10 + i, b * 10 + j) for b in range(5) for i in range(3) for j in range(i + 1, 3)
    }

    collect_set = max(i for i, ln in enumerate(lines) if "collect_set" in ln)
    screen = [i for i, ln in enumerate(lines) if "LeftAnti" in ln]
    count_distinct = [i for i, ln in enumerate(lines) if "count(distinct" in ln]
    assert screen and count_distinct
    # the tree prints parents first: every collect_set line above the screen
    assert collect_set < min(screen) < min(count_distinct)
