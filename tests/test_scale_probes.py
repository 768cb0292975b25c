"""Scale probes (VERDICT r2 §4): adversarial data shapes that break naive
dedup at 100 TB — a viral document duplicated thousands of times (one LSH
bucket goes quadratic), corpus-wide boilerplate (every shingle's document
frequency = corpus size), and a long-diameter duplicate-chain graph.

Each probe demonstrates the shipped guard with MEASURED evidence (candidate
counts / convergence rounds), not prose; SCALE.md §4 records the numbers
from these runs plus a larger one-off (viral×10k). Marked ``slow`` — they
synthesize corpora bigger than the sf fixtures — but kept under ~1 min each
so the default suite still runs them.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.dedup import (
    connected_components,
    connected_components_star,
    lsh_bands,
    lsh_candidate_pairs,
    minhash_near_dup,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingle_set,
)

pytestmark = pytest.mark.slow


def _synthetic_corpus(spark, n_docs: int, n_tokens: int = 12):
    """n_docs documents of n_tokens distinct-ish tokens (md5-derived), so
    organic cross-doc shingle collisions are negligible."""
    toks = [
        F.concat(F.lit(f"w{j}"), F.substring(F.md5(F.concat(F.col("id").cast("string"), F.lit(f"-{j}"))), 1, 6))
        for j in range(n_tokens)
    ]
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"), F.concat_ws(" ", *toks).alias("text")
    )


def test_viral_duplicate_hot_bucket_guard(spark):
    """ONE viral doc in 3 000 copies: its band bucket alone would emit
    ~4.5M candidate pairs (b²/2 — quadratic in the copy count, the thing
    that kills an unguarded LSH join at scale). ``max_bucket`` drops
    over-full buckets from candidate generation while organic near-dup
    pairs in the same corpus survive."""
    n_viral = 3_000
    base = _synthetic_corpus(spark, 500)
    viral = spark.range(100_000, 100_000 + n_viral).select(
        F.col("id").alias("doc_id"),
        F.lit("viral template text repeated verbatim across the whole "
              "crawl snapshot forever and ever amen").alias("text"),
    )
    # a planted organic near-dup pair, far from the viral bucket
    planted = base.filter(F.col("doc_id") == 7).select(
        (F.col("doc_id") + 200_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
    )
    corpus = base.unionByName(viral).unionByName(planted)

    sh = shingle_set(corpus, 3)
    bands = lsh_bands(minhash_signatures(sh, 16), 16)

    unguarded = lsh_candidate_pairs(bands).count()
    guarded = lsh_candidate_pairs(bands, max_bucket=100).count()
    # the viral bucket alone contributes ≥ C(3000,2) pairs ≈ 4.5M
    assert unguarded >= n_viral * (n_viral - 1) // 2
    assert guarded < 10_000  # quadratic blowup gone
    # end-to-end: guarded pipeline still finds the planted organic pair
    hits = minhash_near_dup(corpus, threshold=0.5, max_bucket=100)
    pairs = {(r["id_a"], r["id_b"]) for r in hits.collect()}
    assert (7, 200_007) in pairs
    assert all(not (100_000 <= a < 103_000) for a, _ in pairs)


def test_boilerplate_max_df_guard(spark):
    """Every document shares a 12-token license header → each header
    shingle has df = corpus size, and exact n-gram candidate generation
    degenerates to corpus² through those buckets. ``max_df`` drops
    boilerplate shingles from CANDIDATE GENERATION only; scores stay
    exact over the full shingle sets, so a genuinely near-dup pair
    (shared unique core) still surfaces with its true Jaccard."""
    n_docs = 1_500
    header = ("permission is hereby granted free of charge to any person "
              "obtaining a copy of this software")
    base = _synthetic_corpus(spark, n_docs, n_tokens=10).select(
        "doc_id", F.concat(F.lit(header + " "), F.col("text")).alias("text")
    )
    planted = base.filter(F.col("doc_id") == 3).select(
        (F.col("doc_id") + 500_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
    )
    corpus = base.unionByName(planted)

    sh = shingle_set(corpus, 3)
    df_hist = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    # the adversarial shape is real: header shingles sit in EVERY doc
    assert df_hist.agg(F.max("df")).first()[0] >= n_docs

    hits = ngram_jaccard_pairs(corpus, threshold=0.5, max_df=50)
    rows = {(r["id_a"], r["id_b"]): r["jaccard"] for r in hits.collect()}
    assert (3, 500_003) in rows
    # exact score despite the prefilter: the pair shares header AND core
    assert rows[(3, 500_003)] > 0.8
    # boilerplate-only pairs (distinct cores) must NOT be emitted
    assert all(b - a == 500_000 for a, b in rows)


def test_hub_basket_max_basket_guard(spark):
    """ONE power-law hub basket of 2 000 items would alone emit ~2M
    undirected pairs (w²/2 — quadratic in basket width, the co-purchase
    derivation's hub failure mode VERDICT r5 flagged for
    triangle/pagerank/lpa). ``max_basket`` drops over-wide baskets from
    pair generation while edges from organic (narrow) baskets survive
    exactly."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.graph import (
        copurchase_pairs,
    )

    hub_w = 2_000
    # 400 organic baskets of 4 items each (disjoint item ranges)
    organic = spark.range(400).select(
        F.col("id").alias("l_orderkey"),
        F.explode(
            F.array(*[(F.col("id") * 10 + j).cast("long") for j in range(4)])
        ).alias("l_partkey"),
    )
    hub = spark.range(hub_w).select(
        F.lit(999_999).cast("long").alias("l_orderkey"),
        (F.col("id") + 1_000_000).alias("l_partkey"),
    )
    li = organic.unionByName(hub)

    unguarded = copurchase_pairs(li).count()
    guarded = copurchase_pairs(li, max_basket=10)
    n_guarded = guarded.count()
    # the hub basket alone contributes C(2000, 2) pairs
    assert unguarded >= hub_w * (hub_w - 1) // 2
    # guard: exactly the organic pairs remain (400 baskets × C(4,2))
    assert n_guarded == 400 * 6
    assert guarded.filter(F.col("u") >= 1_000_000).count() == 0
    # directed mode under the same guard: both orientations, same bound
    assert copurchase_pairs(li, max_basket=10, directed=True).count() == 400 * 12


def test_long_chain_star_cc_converges_in_log_rounds(spark):
    """Duplicate-chain graph (A≈B≈C≈…, each hop a near-dup pair) of
    diameter 48: plain min-label propagation needs ~diameter rounds —
    the alternating large-star/small-star scheme collapses it in
    O(log n). Both must agree on the single component."""
    n = 48
    edges = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    nodes = spark.range(n).select(F.col("id").alias("doc_id"))

    star_stats: dict = {}
    star = connected_components_star(
        edges, nodes, max_iters=30, stats=star_stats
    ).collect()
    assert {r["cluster_id"] for r in star} == {0}
    assert len(star) == n
    assert star_stats["rounds"] <= 8  # ~log2(48) + fixpoint-confirm round

    prop_stats: dict = {}
    prop = connected_components(
        edges, nodes, max_iters=n + 2, stats=prop_stats
    ).collect()
    assert {r["cluster_id"] for r in prop} == {0}
    # propagation pays ~diameter rounds on the same graph — the measured
    # gap that justifies the star variant for long-diameter graphs
    assert prop_stats["rounds"] >= n // 2
    assert prop_stats["rounds"] > 3 * star_stats["rounds"]


def test_funnel_viral_user_constant_state(spark):
    """ONE user with 200k events next to 2k normal users: q_funnel-style
    chained conditional-min windows keep per-user state at 3 timestamps —
    no collect_list of the viral user's event history — so the hot
    partition costs memory O(1), and the funnel result for normal users
    is unaffected by the whale's presence."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans.tierd import (
        q_funnel,
    )
    import os
    import tempfile

    normal = spark.range(2_000).select(
        F.col("id").alias("user_id"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("base"),
    )
    # each normal user: view at +1s, click at +2s, purchase at +3s
    rows = []
    for off, et in ((1, "view"), (2, "click"), (3, "purchase")):
        rows.append(
            normal.select(
                (F.col("user_id") * 10 + off).alias("event_id"),
                (F.col("base") + F.expr(f"INTERVAL {off} SECOND")).alias("ts"),
                "user_id",
                F.lit(et).alias("event_type"),
                F.lit(1.0).alias("value"),
                F.lit("{}").alias("props"),
            )
        )
    whale = spark.range(200_000).select(
        (F.lit(10_000_000) + F.col("id")).alias("event_id"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + (F.col("id") * F.expr("INTERVAL 1 SECOND"))
        ).alias("ts"),
        F.lit(999_999).cast("long").alias("user_id"),
        F.lit("view").alias("event_type"),  # views only: converts stage 1
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    ev = rows[0].unionByName(rows[1]).unionByName(rows[2]).unionByName(whale)

    with tempfile.TemporaryDirectory() as d:
        sf_dir = os.path.join(d, "sfprobe")
        os.makedirs(sf_dir)
        ev.write.parquet(os.path.join(sf_dir, "events.parquet"))
        out = {r["stage"]: r for r in q_funnel(spark, sf_dir).collect()}
    # 2000 normal users convert all three stages; the whale only stage 1
    assert out["1_view"]["n_users"] == 2_001
    assert out["2_click"]["n_users"] == 2_000
    assert out["3_purchase"]["n_users"] == 2_000
    assert abs(out["3_purchase"]["conv_from_prev"] - 1.0) < 1e-9


def test_viral_embedding_hot_cell_guard(spark):
    """One boilerplate page's vector duplicated 400× lands every copy in
    the SAME IVF cell: the within-cell pair join goes quadratic on that
    cell (>= 400·399/2 pairs among the copies alone). semantic_dedup's
    ``max_cell`` drops the viral cell from pair generation while normal
    cells are untouched — the embedding-space twin of the LSH max_bucket
    guard."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.similarity import (
        assign_to_centroids,
        semantic_dedup_pairs,
    )

    dim, k = 8, 8
    # 8 one-hot centroids
    cents = spark.createDataFrame(
        [(c, [1.0 if i == c else 0.0 for i in range(dim)]) for c in range(k)],
        "centroid_id int, centroid array<double>",
    )
    # 800 organic vectors, 100 per cell: dominant axis id%8 plus a small
    # deterministic off-axis component so they are NOT near-dups of each
    # other (pairwise cos < 0.99) but still assign to the dominant cell
    base = spark.range(800).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                F.when(F.lit(i) == F.col("id") % k, F.lit(10.0))
                .otherwise(
                    F.when(F.lit(i) == (F.col("id") + 3) % k, (F.col("id") % 7).cast("double"))
                    .otherwise(F.lit(0.0))
                )
                for i in range(dim)
            ]
        ).alias("embedding"),
    )
    viral = spark.range(400).select(
        (F.col("id") + 1_000_000).alias("vec_id"),
        F.array(*[F.lit(10.0 if i == 0 else 0.0) for i in range(dim)]).alias("embedding"),
    )
    corpus = base.unionByName(viral)

    # candidate volume, threshold disabled: the JOIN size is the concern
    asg = assign_to_centroids(corpus, cents)
    unguarded = semantic_dedup_pairs(asg, threshold=-1.0).count()
    guarded = semantic_dedup_pairs(asg, threshold=-1.0, max_cell=150).count()
    # viral cell holds 100 organic + 400 copies = 500 -> 124,750 pairs;
    # the other 7 cells hold 100 each -> 4,950 pairs per cell
    assert unguarded == 500 * 499 // 2 + 7 * (100 * 99 // 2)
    assert guarded == 7 * (100 * 99 // 2)
    # and the REAL near-dups the guard mode still must catch: copies of
    # the viral vector are exact dups -> exact dedup's job (run first);
    # organic cells keep scoring exactly
    organic_pairs = semantic_dedup_pairs(asg, threshold=0.99, max_cell=150)
    assert organic_pairs.filter(F.col("id_a") >= 1_000_000).count() == 0


def test_blas_assignment_matches_declarative_argmax(spark):
    """assign_to_centroids_2level_blas (cogrouped per-cell matmul argmax
    — the kernel the k ∝ n production SemDeDup key uses) must agree with
    the declarative window argmax on every row, including the tricky
    edges: round-6 cosine
    ties (→ lowest centroid_id) and zero-norm vectors (screened by both
    kernels), and the SemDeDup collapse must be identical over either
    kernel's assignment frame."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.similarity import (
        assign_to_centroids,
        assign_to_centroids_2level_blas,
        semantic_dedup,
    )

    dim, k = 8, 8
    cents = spark.createDataFrame(
        [(c, [1.0 if i == c else 0.0 for i in range(dim)]) for c in range(k)],
        "centroid_id int, centroid array<double>",
    )
    base = spark.range(500).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                F.when(F.lit(i) == F.col("id") % k, F.lit(10.0))
                .otherwise(
                    F.when(
                        F.lit(i) == (F.col("id") + 3) % k,
                        (F.col("id") % 7).cast("double"),
                    ).otherwise(F.lit(0.0))
                )
                for i in range(dim)
            ]
        ).alias("embedding"),
    )
    # edge rows: an exact tie between centroids 2 and 5 (must pick 2),
    # and a zero-norm vector (must be SCREENED by both kernels — the
    # prep_vectors guard, adjudicated by x_sim_zero_norm)
    edge = spark.createDataFrame(
        [
            (9_000_001, [0.0, 0.0, 1.0, 0.0, 0.0, 1.0, 0.0, 0.0]),
            (9_000_002, [0.0] * dim),
        ],
        "vec_id long, embedding array<double>",
    )
    corpus = base.unionByName(edge)

    flat = assign_to_centroids(corpus, cents)
    blas = assign_to_centroids_2level_blas(corpus, cents)
    a = {r["vec_id"]: r["cluster"] for r in flat.collect()}
    b = {r["vec_id"]: r["cluster"] for r in blas.collect()}
    assert a == b
    assert b[9_000_001] == 2
    assert 9_000_002 not in a and 9_000_002 not in b

    # end-to-end: the collapse output is identical under either kernel
    slow = semantic_dedup(flat, threshold=0.9).collect()
    fast = semantic_dedup(blas, threshold=0.9).collect()
    assert sorted(map(tuple, slow)) == sorted(map(tuple, fast))


def test_cc_raises_instead_of_silent_wrong_labels_past_round_budget(spark):
    """A graph whose diameter exceeds max_iters must FAIL, not silently
    return non-minimum labels (the pre-guard behavior): a 40-chain under
    max_iters=5 raises for plain min-label propagation, while the star
    scheme converges on the same input in O(log n) rounds with correct
    labels."""
    n = 40
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    nodes = spark.range(n).select(F.col("id").alias("doc_id"))
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, nodes, max_iters=5)
    stats: dict = {}
    labels = connected_components_star(edges, nodes, max_iters=15, stats=stats)
    assert stats["converged"] and stats["rounds"] <= 15
    assert all(r["cluster_id"] == 0 for r in labels.collect())


def test_2level_assignment_matches_flat_argmax(spark):
    """assign_to_centroids_2level in probe-all mode (the exact
    shuffle-join path — nothing corpus-proportional broadcast) must agree
    with the flat broadcast argmax on every row, including round-6 ties
    (→ lowest centroid_id) and zero-norm vectors (all-NULL sims → lowest
    centroid_id globally).  The centroid join must be keyed on super_id
    in the plan, never a cross product; whether it broadcasts is the
    session threshold's call."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.similarity import (
        assign_to_centroids,
        assign_to_centroids_2level,
    )
    from conftest import plan_of

    dim, k = 8, 8
    cents = spark.createDataFrame(
        [(c, [1.0 if i == c else 0.0 for i in range(dim)]) for c in range(k)],
        "centroid_id int, centroid array<double>",
    )
    base = spark.range(500).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                F.when(F.lit(i) == F.col("id") % k, F.lit(10.0))
                .otherwise(
                    F.when(
                        F.lit(i) == (F.col("id") + 3) % k,
                        (F.col("id") % 7).cast("double"),
                    ).otherwise(F.lit(0.0))
                )
                for i in range(dim)
            ]
        ).alias("embedding"),
    )
    edge = spark.createDataFrame(
        [
            (9_000_001, [0.0, 0.0, 1.0, 0.0, 0.0, 1.0, 0.0, 0.0]),
            (9_000_002, [0.0] * dim),
        ],
        "vec_id long, embedding array<double>",
    )
    corpus = base.unionByName(edge)

    flat = {
        r["vec_id"]: r["cluster"]
        for r in assign_to_centroids(corpus, cents).collect()
    }
    two = assign_to_centroids_2level(corpus, cents, n_super=3)
    got = {r["vec_id"]: r["cluster"] for r in two.collect()}
    assert got == flat
    assert got[9_000_001] == 2
    assert 9_000_002 not in got  # zero-norm: screened (x_sim_zero_norm contract)
    # scale shape: the centroid-side join is keyed on super_id, never a
    # cross product
    plan = plan_of(two)
    centroid_join = re.findall(
        r"^\(\d+\) (\w+)\s*\nLeft keys \[1\]: \[super_id", plan, re.M
    )
    assert centroid_join and "CartesianProduct" not in plan, plan
    assert set(centroid_join) <= {"BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin"}
    # small probe: a unit-basis fixture is perfectly separable, so even
    # probe-1 through spread seeds keeps most assignments — the recall
    # knob degrades gracefully, it doesn't collapse
    p1 = {
        r["vec_id"]: r["cluster"]
        for r in assign_to_centroids_2level(
            corpus, cents, n_super=3, n_probe_super=2
        ).collect()
    }
    agree = sum(1 for v, c in p1.items() if flat[v] == c)
    assert agree / len(flat) > 0.6
    # cogrouped-BLAS variant ("route by super-cell, matmul within"):
    # rowwise-identical to the declarative path at BOTH probe settings —
    # probe-all (= flat argmax, incl. ties + zero-norm) and probe-2
    # (= the same approximation, candidate for candidate)
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.similarity import (
        assign_to_centroids_2level_blas,
    )

    blas_all = {
        r["vec_id"]: r["cluster"]
        for r in assign_to_centroids_2level_blas(corpus, cents, n_super=3).collect()
    }
    assert blas_all == flat
    blas_p2 = {
        r["vec_id"]: r["cluster"]
        for r in assign_to_centroids_2level_blas(
            corpus, cents, n_super=3, n_probe_super=2
        ).collect()
    }
    assert blas_p2 == p1


def test_2level_no_vector_dropped_with_duplicate_centroids(spark):
    """Duplicate centroid vectors create exact round-6 ties in seed
    tagging; without the self-tagging rule a seed could tag to its
    lower-id twin, leaving its own cell empty — and a probe-1 vector
    routed there would silently vanish from the assignment.  Every input
    vector must come out exactly once, in both kernels."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.similarity import (
        assign_to_centroids_2level,
        assign_to_centroids_2level_blas,
    )

    dim = 4
    # 12 centroid ids over only 4 distinct vectors -> many exact ties
    cents = spark.createDataFrame(
        [(c, [1.0 if i == c % dim else 0.0 for i in range(dim)]) for c in range(12)],
        "centroid_id int, centroid array<double>",
    )
    corpus = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                F.when(F.lit(i) == F.col("id") % dim, F.lit(5.0)).otherwise(F.lit(0.1))
                for i in range(dim)
            ]
        ).alias("embedding"),
    )
    for fn in (assign_to_centroids_2level, assign_to_centroids_2level_blas):
        out = fn(corpus, cents, n_super=6, n_probe_super=1)
        assert out.count() == 200, fn.__name__


def test_2level_empty_centroid_table_matches_flat_empty(spark):
    """ADVICE r6: k=0 made _two_level_probe's seed stride divide by zero
    while the flat path returns an empty frame for the same input — both
    two-level kernels must yield the empty frame too."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.similarity import (
        assign_to_centroids,
        assign_to_centroids_2level,
        assign_to_centroids_2level_blas,
    )

    cents = spark.createDataFrame([], "centroid_id int, centroid array<double>")
    corpus = spark.range(20).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    assert assign_to_centroids(corpus, cents).count() == 0
    assert assign_to_centroids_2level(corpus, cents).count() == 0
    assert assign_to_centroids_2level_blas(corpus, cents).count() == 0
