"""Connected-components dedup clustering (operators/dedup.py) — pure graph
semantics on hand-built edge lists, independent of the corpus plumbing."""

from pyspark.sql import functions as F

from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.dedup import (
    connected_components,
)


def _cc(spark, edges, nodes):
    e = spark.createDataFrame(edges or [(None, None)], "id_a bigint, id_b bigint")
    if not edges:
        e = e.filter(F.col("id_a").isNotNull())
    n = spark.createDataFrame([(x,) for x in nodes], "doc_id bigint")
    out = connected_components(e, n)
    return {r["doc_id"]: r["cluster_id"] for r in out.collect()}

def test_chain_propagates_multi_hop(spark):
    # 1-2, 2-3, 3-4: diameter 3, label must walk the whole chain
    got = _cc(spark, [(1, 2), (2, 3), (3, 4)], [1, 2, 3, 4])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}

def test_components_and_isolated_nodes(spark):
    got = _cc(spark, [(10, 20), (30, 40), (40, 50)], [10, 20, 30, 40, 50, 99])
    assert got == {10: 10, 20: 10, 30: 30, 40: 30, 50: 30, 99: 99}

def test_edge_direction_irrelevant(spark):
    # min id appears on the b side — symmetrization must still pull it
    got = _cc(spark, [(7, 3), (9, 7)], [3, 7, 9])
    assert got == {3: 3, 7: 3, 9: 3}

def test_no_edges_all_singletons(spark):
    got = _cc(spark, [], [1, 2, 3])
    assert got == {1: 1, 2: 2, 3: 3}

def test_string_ids_multi_hop(spark):
    # Regression: the old convergence probe summed labels cast to decimal —
    # NULL for string ids, so None == None stopped the loop after one round
    # and multi-hop chains came back wrong.  The changed-count probe is
    # type-agnostic: a diameter-3 string chain must fully converge.
    e = spark.createDataFrame(
        [("b", "c"), ("c", "d"), ("a", "b")], "id_a string, id_b string"
    )
    n = spark.createDataFrame([("a",), ("b",), ("c",), ("d",), ("z",)], "doc_id string")
    got = {r["doc_id"]: r["cluster_id"] for r in connected_components(e, n).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a", "z": "z"}

def test_ngram_max_df_prefilter_exact_scores(spark, monkeypatch):
    """The max_df candidate prefilter bounds join fanout but keeps scores
    exact: surviving pairs carry identical jaccard to the exact mode, and
    only pairs whose every shared shingle is boilerplate can disappear."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators import dedup
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    monkeypatch.setattr(dedup, "JACCARD_THRESHOLD", 0.5)
    boiler = "all rights reserved by the example corp legal dept"
    docs = spark.createDataFrame(
        [
            (1, f"{boiler} alpha beta gamma delta"),
            (2, f"{boiler} alpha beta gamma delta"),   # true near-dup of 1
            (3, f"{boiler} zebra yak xylophone walrus"),
            (4, f"{boiler} zebra yak xylophone walrus"),  # true near-dup of 3
            (5, boiler),                                   # boilerplate-only
            (6, boiler),                                   # boilerplate-only
        ],
        "doc_id bigint, text string",
    )
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs).collect()
    }
    filtered = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, max_df=4).collect()
    }
    # subset with identical exact scores
    assert set(filtered) <= set(exact)
    for pair, jac in filtered.items():
        assert jac == exact[pair]
    # the content dups survive the prefilter; their scores are full-set exact
    assert (1, 2) in filtered and (3, 4) in filtered
    # boilerplate-only pair (5,6) shares ONLY >max_df shingles → dropped
    assert (5, 6) in exact and (5, 6) not in filtered


def test_star_equals_propagation_on_random_graphs(spark):
    """Large-star/small-star (O(log n) rounds) must produce exactly the
    clusters of min-label propagation on random graphs — including long
    chains, its motivating case."""
    import random

    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.dedup import (
        connected_components_star,
    )

    rng = random.Random(7)
    for trial in range(3):
        n = 40
        nodes = list(range(n))
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(25)]
        edges = [e for e in edges if e[0] != e[1]]
        e_df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
        n_df = spark.createDataFrame([(x,) for x in nodes], "doc_id bigint")
        prop = {r["doc_id"]: r["cluster_id"]
                for r in connected_components(e_df, n_df).collect()}
        star = {r["doc_id"]: r["cluster_id"]
                for r in connected_components_star(e_df, n_df).collect()}
        assert star == prop, f"trial {trial}"


def test_star_long_chain_and_strings(spark):
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.dedup import (
        connected_components_star,
    )

    # 30-node path: diameter 29, the worst case for propagation; star
    # scheme must still collapse it to the minimum label
    chain = [(i, i + 1) for i in range(29)]
    e = spark.createDataFrame(chain, "id_a bigint, id_b bigint")
    n = spark.createDataFrame([(x,) for x in range(30)] + [(99,)], "doc_id bigint")
    got = {r["doc_id"]: r["cluster_id"]
           for r in connected_components_star(e, n).collect()}
    assert got == {**{i: 0 for i in range(30)}, 99: 99}

    e2 = spark.createDataFrame(
        [("b", "c"), ("c", "d"), ("a", "b")], "id_a string, id_b string"
    )
    n2 = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",), ("z",)], "doc_id string"
    )
    got2 = {r["doc_id"]: r["cluster_id"]
            for r in connected_components_star(e2, n2).collect()}
    assert got2 == {"a": "a", "b": "a", "c": "a", "d": "a", "z": "z"}


def test_lsh_max_bucket_drops_hot_buckets_only(spark):
    """With a viral duplicate group (many identical docs -> one hot band
    bucket), max_bucket suppresses that group's quadratic pair blow-up
    while normal-sized near-dup groups are still found."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.dedup import (
        minhash_near_dup,
    )

    viral = [(i, "the same boilerplate template text repeated everywhere ok")
             for i in range(100, 120)]
    pair = [(1, "a unique document about spark and data engineering today"),
            (2, "a unique document about spark and data engineering today")]
    docs = spark.createDataFrame(viral + pair, "doc_id long, text string")

    full = minhash_near_dup(docs, threshold=0.8).collect()
    assert len(full) == (20 * 19) // 2 + 1  # viral clique + the one pair

    capped = minhash_near_dup(docs, threshold=0.8, max_bucket=10).collect()
    assert [(r["id_a"], r["id_b"]) for r in capped] == [(1, 2)]
