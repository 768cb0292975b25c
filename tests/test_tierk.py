"""Tier K semantics: EWMA anomaly hand-built sequences (renormalized
head, spike residual, per-user isolation), affinity-graph support
thresholding, Adamic–Adar hand-built scores + anti-join of existing
edges, HLL inclusion–exclusion sanity on disjoint/identical sets,
Welch/SRM/bootstrap/CUPED/MDE statistical mechanics on planted effects,
MMR redundancy-skip + sparse-pool behavior, skyline frontier vs naive
dominance, geo-nearest brute-force spot check, k-anonymity flags, and
calibration bin/ECE consistency."""

from __future__ import annotations

import math
from datetime import datetime

from pyspark.sql import functions as F

from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.graph import (
    adamic_adar,
    copurchase_affinity,
)
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans import REGISTRY
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans.tierk import (
    _EWMA_BETA,
    _EWMA_DEN,
    _EWMA_K,
    _EWMA_NUM,
)

SF_SMALL = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# EWMA — hand-built sequences through the registered fragment
# ---------------------------------------------------------------------------


def _score_events(spark, rows):
    """Run the registered EWMA fragment over hand-built (user, eid, value)
    rows with strictly increasing timestamps, returning {eid: resid}."""
    from pyspark.sql.window import Window

    ev = spark.createDataFrame(
        [
            (u, e, datetime(2024, 1, 1, 0, 0, e), float(v))
            for (u, e, v) in rows
        ],
        ["user_id", "event_id", "ts", "value"],
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select(
        "user_id",
        "event_id",
        "value",
        *[
            F.lag("value", j).over(w).alias(f"__lag{j}")
            for j in range(1, _EWMA_K + 1)
        ],
    ).filter(F.col("__lag1").isNotNull())
    out = lagged.select(
        "event_id",
        F.expr(f"value - ({_EWMA_NUM}) / ({_EWMA_DEN})").alias("resid"),
    )
    return {r.event_id: r.resid for r in out.collect()}


def test_ewma_head_renormalization(spark):
    """With exactly one lag available, the renormalized EWMA IS that lag:
    the second event's residual is value2 - value1."""
    resid = _score_events(spark, [(1, 1, 10.0), (1, 2, 16.0)])
    assert set(resid) == {2}  # first event has no history -> excluded
    assert resid[2] == 6.0


def test_ewma_spike_residual_exact(spark):
    """Flat history then a spike: ewma of four equal lags is that value
    regardless of weights (renormalization), so resid = spike - level."""
    rows = [(1, i, 10.0) for i in range(1, 5)] + [(1, 5, 100.0)]
    resid = _score_events(spark, rows)
    assert resid[5] == 90.0
    assert all(resid[i] == 0.0 for i in (2, 3, 4))


def test_ewma_geometric_weights(spark):
    """Two unequal lags: ewma = (x1*1 + x2*beta)/(1+beta) with x1 the most
    recent — pins both the weight ORDER (nearest lag heaviest) and the
    normalization constant."""
    resid = _score_events(spark, [(1, 1, 4.0), (1, 2, 8.0), (1, 3, 0.0)])
    expected = 0.0 - (8.0 * 1.0 + 4.0 * _EWMA_BETA) / (1.0 + _EWMA_BETA)
    assert math.isclose(resid[3], expected, rel_tol=1e-12)


def test_ewma_users_isolated(spark):
    """History never leaks across users: a second user's first scored
    event sees only their own lag."""
    resid = _score_events(
        spark, [(1, 1, 1000.0), (1, 2, 1000.0), (2, 3, 5.0), (2, 4, 7.0)]
    )
    assert resid[4] == 2.0


def test_ewma_history_depth_capped(spark):
    """Lags beyond K drop out: with K+1 prior events all distinct, the
    oldest contributes nothing (weights cover lags 1..K only)."""
    rows = [(1, 1, 999.0)] + [(1, i, 10.0) for i in range(2, _EWMA_K + 2)]
    rows.append((1, _EWMA_K + 2, 10.0))
    resid = _score_events(spark, rows)
    # the 999 outlier is exactly K+1 lags behind the last event
    assert resid[_EWMA_K + 2] == 0.0


# ---------------------------------------------------------------------------
# affinity graph + Adamic–Adar
# ---------------------------------------------------------------------------


def test_affinity_support_threshold(spark):
    """Pairs sharing >= min_support baskets survive; one-off pairs drop."""
    li = spark.createDataFrame(
        [(1, 10), (1, 20), (2, 10), (2, 20), (2, 30), (3, 30), (3, 40)],
        ["l_orderkey", "l_partkey"],
    )
    got = {
        (r.u, r.v): r.w
        for r in copurchase_affinity(li).collect()
    }
    assert got == {(10, 20): 2}


def test_adamic_adar_handbuilt_path(spark):
    """Path a-b-c: the only prediction is (a, c) through center b with
    deg(b)=2, so AA = 1/ln 2; existing edges are anti-joined away."""
    edges = spark.createDataFrame([(1, 2), (2, 3)], ["u", "v"])
    out = adamic_adar(edges).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.u, r.v, r.n_common) == (1, 3, 1)
    assert math.isclose(r.aa, 1.0 / math.log(2.0), rel_tol=1e-12)


def test_adamic_adar_excludes_existing_and_sums_centers(spark):
    """Square 1-2-3-4-1 plus diagonal 1-3: pair (2, 4) shares centers 1
    and 3; deg(1)=3 (diagonal) and deg(3)=3, so AA = 2/ln 3.  The other
    wedge pairs (1,3) etc. are existing edges and must not appear."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4), (1, 3)], ["u", "v"]
    )
    out = {(r.u, r.v): (r.aa, r.n_common) for r in adamic_adar(edges).collect()}
    assert set(out) == {(2, 4)}
    aa, n_common = out[(2, 4)]
    assert n_common == 2
    assert math.isclose(aa, 2.0 / math.log(3.0), rel_tol=1e-12)


def test_adamic_adar_pendant_center_screened(spark):
    """A deg-1 node is never a wedge center; the 1/ln(deg) weight for it
    is screened out before the projection (no ANSI divide-by-zero)."""
    edges = spark.createDataFrame([(1, 2)], ["u", "v"])
    assert adamic_adar(edges).count() == 0


# ---------------------------------------------------------------------------
# HLL inclusion–exclusion sanity
# ---------------------------------------------------------------------------


def test_hll_ie_disjoint_and_identical(spark):
    """I–E on sketches recovers ~0 for disjoint sets and ~n for identical
    sets, within the registered union-relative tolerance."""
    rows = [("a", f"s{i}") for i in range(3000)] + [
        ("b", f"t{i}") for i in range(3000)
    ] + [("c", f"s{i}") for i in range(3000)]
    df = spark.createDataFrame(rows, ["source", "shingle"])
    per = df.groupBy("source").agg(
        F.hll_sketch_agg("shingle", F.lit(12)).alias("sk")
    )
    sk = {r.source: r.sk for r in per.collect()}

    def ie(x, y):
        two = spark.createDataFrame([(bytearray(sk[x]), bytearray(sk[y]))], ["p", "q"])
        r = two.select(
            (
                F.hll_sketch_estimate("p")
                + F.hll_sketch_estimate("q")
                - F.hll_sketch_estimate(F.expr("hll_union(p, q)"))
            ).alias("ie")
        ).collect()[0]
        return r.ie

    assert abs(ie("a", "b") - 0.0) <= 0.06 * 6000  # disjoint: union = 6000
    assert abs(ie("a", "c") - 3000.0) <= 0.06 * 3000  # identical: union = 3000


def test_tierk_keys_registered_with_oracles():
    for key in ("x_ewma_anomaly", "x_agg_salted", "x_hll_intersect",
                "x_link_adamic"):
        assert key in REGISTRY
        assert REGISTRY[key].oracle is not None


# ---------------------------------------------------------------------------
# statistical-testing family
# ---------------------------------------------------------------------------


def test_welch_t_handbuilt(spark):
    """Two tiny samples with known moments: t and Welch df match the
    textbook formula computed in pure Python."""
    import statistics

    a = [1.0, 2.0, 3.0, 4.0]
    b = [2.0, 4.0, 6.0, 8.0, 10.0]
    ev = spark.createDataFrame(
        [("A", i, v) for i, v in enumerate(a)]
        + [("B", 100 + i, v) for i, v in enumerate(b)],
        ["event_type", "event_id", "value"],
    )
    s = ev.groupBy("event_type").agg(
        F.count("*").alias("n"), F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )
    x = s.alias("x")
    y = s.alias("y")
    p = x.join(y, F.col("x.event_type") < F.col("y.event_type")).select(
        F.expr(
            "(x.m - y.m) / sqrt(x.v / x.n + y.v / y.n)"
        ).alias("t"),
        F.expr(
            "((x.v / x.n + y.v / y.n) * (x.v / x.n + y.v / y.n)) /"
            " ((x.v / x.n) * (x.v / x.n) / (x.n - 1)"
            "  + (y.v / y.n) * (y.v / y.n) / (y.n - 1))"
        ).alias("df"),
    ).collect()[0]
    va, vb = statistics.variance(a), statistics.variance(b)
    ma, mb = statistics.mean(a), statistics.mean(b)
    se2 = va / len(a) + vb / len(b)
    t_ref = (ma - mb) / math.sqrt(se2)
    df_ref = se2 * se2 / (
        (va / len(a)) ** 2 / (len(a) - 1) + (vb / len(b)) ** 2 / (len(b) - 1)
    )
    assert math.isclose(p.t, t_ref, rel_tol=1e-12)
    assert math.isclose(p.df, df_ref, rel_tol=1e-12)


def test_srm_flags_biased_split(spark):
    """A deliberately biased assignment (80/10/10 observed vs 90/5/5
    declared on n=1000) must trip the chi-square flag; the registered
    unbiased md5 split must not."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans.tierk import (
        _SRM_CHI2,
        _SRM_CRIT,
    )

    def chi2_of(counts):
        n, ct, cv, cs = counts
        df = spark.createDataFrame(
            [(float(n), float(ct), float(cv), float(cs))],
            ["__n", "__ct", "__cv", "__cs"],
        )
        return df.select(F.expr(_SRM_CHI2).alias("c")).collect()[0].c

    assert chi2_of((1000, 800, 100, 100)) > _SRM_CRIT
    assert chi2_of((1000, 900, 50, 50)) == 0.0
    # registered key on driver data: unbiased hash -> no flag
    out = REGISTRY["x_srm_chisq"].fn(spark, SF_SMALL).collect()[0]
    assert out.srm_flag == 0
    assert out.n_docs == out.n_train + out.n_val + out.n_test


def test_bootstrap_weights_poisson_and_deterministic(spark):
    """The md5-drawn weights are deterministic (same rows -> same weights)
    with mean ~ 1 (Poisson(1)), and the registered key's CI brackets the
    mean on driver data."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans.tierk import (
        _BOOT_W,
    )

    rows = spark.range(0, 5000).select(
        F.col("id").alias("event_id"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("boot1:"), F.col("id").cast("string"))),
                    1, 8,
                ),
                16, 10,
            ).cast("bigint").cast("double")
            / F.lit(4294967296.0)
        ).alias("__u"),
    ).withColumn("__w", F.expr(_BOOT_W).cast("double"))
    stats = rows.agg(
        F.avg("__w").alias("m"), F.min("__w").alias("lo"),
        F.max("__w").alias("hi"),
    ).collect()[0]
    assert abs(stats.m - 1.0) < 0.05  # Poisson(1) mean, n=5000
    assert stats.lo >= 0.0 and stats.hi <= 6.0
    again = rows.agg(F.sum("__w").alias("s")).collect()[0].s
    assert again == rows.agg(F.sum("__w").alias("s")).collect()[0].s

    out = {r.event_type: r for r in REGISTRY["x_bootstrap_ci"].fn(spark, SF_SMALL).collect()}
    for r in out.values():
        assert r.ci_lo_r <= r.mean_r <= r.ci_hi_r
        assert r.ci_lo_r < r.ci_hi_r


def test_bootstrap_constant_metric_degenerate_ci(spark):
    """On a constant metric every replicate mean equals the constant —
    the CI collapses to a point regardless of the resample weights (the
    identical-resample property, end to end)."""
    ev = spark.createDataFrame(
        [("A", i, 7.5) for i in range(200)], ["event_type", "event_id", "value"]
    )
    import tempfile, os
    with tempfile.TemporaryDirectory() as td:
        ev_path = os.path.join(td, "events.parquet")
        ev.withColumn("ts", F.current_timestamp()).withColumn(
            "user_id", F.col("event_id") % 10
        ).withColumn("props", F.lit("{}")).write.parquet(ev_path)
        out = REGISTRY["x_bootstrap_ci"].fn(spark, td).collect()[0]
    assert out.mean_r == 7.5
    assert out.ci_lo_r == 7.5 and out.ci_hi_r == 7.5


# ---------------------------------------------------------------------------
# sequence transitions + CUPED
# ---------------------------------------------------------------------------


def test_seq_transitions_handbuilt(spark):
    """Two users with known streams: transitions never cross users; lift
    matches the hand-computed P(b|a)/P(b)."""
    import tempfile, os

    rows = [
        # user 1: A -> B -> A -> B   (transitions AB, BA, AB)
        (1, 1, "A"), (1, 2, "B"), (1, 3, "A"), (1, 4, "B"),
        # user 2: B -> B             (transition BB)
        (2, 5, "B"), (2, 6, "B"),
    ]
    ev = spark.createDataFrame(
        [
            (u, e, datetime(2024, 1, 1, 0, 0, e), t, 1.0, "{}")
            for (u, e, t) in rows
        ],
        ["user_id", "event_id", "ts", "event_type", "value", "props"],
    )
    with tempfile.TemporaryDirectory() as td:
        ev.write.parquet(os.path.join(td, "events.parquet"))
        out = {
            (r.src_type, r.dst_type): (r.n_ab, r.lift_r)
            for r in REGISTRY["x_seq_transitions"].fn(spark, td).collect()
        }
    # totals: 4 transitions; n_ab: AB=2, BA=1, BB=1
    assert out[("A", "B")][0] == 2
    assert out[("B", "A")][0] == 1
    assert out[("B", "B")][0] == 1
    assert ("A", "A") not in out  # never adjacent within a user
    # lift(A->B) = (2/2) / (3/4) = 4/3
    assert out[("A", "B")][1] == round(4.0 / 3.0, 4)
    # lift(B->A) = (1/2) / (1/4) = 2
    assert out[("B", "A")][1] == 2.0


def test_cuped_planted_user_effect(spark):
    """Plant a strong user-level random effect: pre and post share the
    user mean, so theta ~ 1 and CUPED removes most of the variance;
    adjustment must leave the pooled mean unbiased."""
    import tempfile, os

    rows = []
    eid = 0
    for u in range(200):
        mu = float(u % 40) * 5.0  # user-level effect, var >> noise
        for k in range(8):
            noise = float((u * 31 + k * 17) % 7) * 0.1
            rows.append((u, eid, datetime(2024, 1, 1, 0, 0), "view",
                         mu + noise, "{}"))
            eid += 1
    ev = spark.createDataFrame(
        rows, ["user_id", "event_id", "ts", "event_type", "value", "props"]
    )
    with tempfile.TemporaryDirectory() as td:
        ev.write.parquet(os.path.join(td, "events.parquet"))
        out = REGISTRY["x_cuped"].fn(spark, td).collect()
    assert {r.arm for r in out} == {"A", "B"}
    for r in out:
        assert r.var_red_r > 0.95  # the user effect dominates -> big win
    # per-arm adjusted means legitimately SHIFT (CUPED removes the arm's
    # covariate imbalance — that is the method); unbiasedness holds POOLED:
    # sum over all users of theta*(pre - mean(pre)) = 0 by construction.
    n_total = sum(r.n_users for r in out)
    pooled_post = sum(r.mean_post_r * r.n_users for r in out) / n_total
    pooled_adj = sum(r.mean_adj_r * r.n_users for r in out) / n_total
    assert abs(pooled_adj - pooled_post) < 0.01
    assert n_total == 200


# ---------------------------------------------------------------------------
# MMR re-ranking
# ---------------------------------------------------------------------------


def test_mmr_skips_redundant_candidate(spark, monkeypatch):
    """Three candidates: A (most relevant), A' (near-dup of A, second most
    relevant), B (less relevant, orthogonal).  Pure relevance ranks
    A, A', B; MMR must pick A then B — the near-dup's redundancy penalty
    pushes it behind the diverse item."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators import retrieval
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.retrieval import (
        mmr_rerank,
    )

    cand = spark.createDataFrame(
        [(1, 0.95), (2, 0.94), (3, 0.60)], ["vec_id", "simq"]
    )
    sim_cc = spark.createDataFrame(
        [(1, 2, 0.99), (2, 1, 0.99), (1, 3, 0.0), (3, 1, 0.0),
         (2, 3, 0.0), (3, 2, 0.0)],
        ["ia", "ib", "s"],
    )
    out = {r.pos: r.vec_id for r in mmr_rerank(cand, sim_cc, k=3).collect()}
    assert out == {1: 1, 2: 3, 3: 2}
    # lam = 1.0 degenerates to pure relevance order
    monkeypatch.setattr(retrieval, "MMR_LAMBDA", 1.0)
    pure = {r.pos: r.vec_id for r in mmr_rerank(cand, sim_cc, k=3).collect()}
    assert pure == {1: 1, 2: 2, 3: 3}


def test_mmr_pool_exhaustion_stops(spark):
    """k larger than the pool returns every candidate once, no repeats."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.retrieval import (
        mmr_rerank,
    )

    cand = spark.createDataFrame([(1, 0.9), (2, 0.5)], ["vec_id", "simq"])
    sim_cc = spark.createDataFrame(
        [(1, 2, 0.1), (2, 1, 0.1)], ["ia", "ib", "s"]
    )
    out = mmr_rerank(cand, sim_cc, k=5).collect()
    assert sorted((r.pos, r.vec_id) for r in out) == [(1, 1), (2, 2)]


def test_mmr_sparse_pairwise_table_zero_redundancy(spark):
    """A candidate absent from the pairwise-sim table has ZERO redundancy,
    not a dropped row: with sims recorded only between A and B, the
    orthogonal C (simq 0.5 -> score 0.35) must beat the redundant B
    (0.7*0.8 - 0.3*0.99 = 0.263) in round 2."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.retrieval import (
        mmr_rerank,
    )

    cand = spark.createDataFrame(
        [(1, 0.9), (2, 0.8), (3, 0.5)], ["vec_id", "simq"]
    )
    sim_cc = spark.createDataFrame(
        [(1, 2, 0.99), (2, 1, 0.99)], ["ia", "ib", "s"]
    )
    out = {r.pos: r.vec_id for r in mmr_rerank(cand, sim_cc, k=3).collect()}
    assert out == {1: 1, 2: 3, 3: 2}


# ---------------------------------------------------------------------------
# skyline
# ---------------------------------------------------------------------------


def test_skyline_handbuilt_frontier(spark):
    """Hand-built 2-D points: the frontier keeps exactly the undominated
    set, equal-on-both ties survive TOGETHER, and a strictly-dominated
    duplicate of a frontier point on one axis drops."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.curation import (
        skyline_2d,
    )

    pts = [
        (1, 10, 1),   # frontier (best d1)
        (2, 8, 5),    # frontier
        (3, 8, 5),    # exact tie of 2 -> BOTH survive
        (4, 8, 4),    # dominated by 2 (same d1, smaller d2)
        (5, 5, 9),    # frontier (best d2)
        (6, 4, 9),    # dominated by 5 (smaller d1, same d2)
        (7, 3, 3),    # dominated by everything above
    ]
    df = spark.createDataFrame(pts, ["id", "d1", "d2"])
    got = sorted(r.id for r in skyline_2d(df, "d1", "d2").collect())
    assert got == [1, 2, 3, 5]


def test_skyline_matches_naive_join_random(spark):
    """Sweep == naive dominance anti-join on a random integer cloud."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.curation import (
        skyline_2d,
    )

    rows = [(i, (i * 37) % 101, (i * 61) % 97) for i in range(400)]
    df = spark.createDataFrame(rows, ["id", "d1", "d2"]).localCheckpoint()
    sweep = sorted(r.id for r in skyline_2d(df, "d1", "d2").collect())
    a, b = df.alias("a"), df.alias("b")
    dominated = a.join(
        b,
        (F.col("b.d1") >= F.col("a.d1"))
        & (F.col("b.d2") >= F.col("a.d2"))
        & ((F.col("b.d1") > F.col("a.d1")) | (F.col("b.d2") > F.col("a.d2"))),
        "left_semi",
    )
    naive = sorted(
        r.id for r in df.join(dominated.select("id"), "id", "left_anti").collect()
    )
    assert sweep == naive
    assert len(sweep) > 0


def test_geo_nearest_radius_and_tiebreak(spark):
    """The registered key's rows all sit within the radius, every event
    appears at most once, and the winner is the true argmin: spot-check
    one event against a brute-force python haversine over all stations."""
    import math as m

    out = REGISTRY["x_geo_nearest"].fn(spark, SF_SMALL)
    rows = out.collect()
    assert len(rows) == len({r.event_id for r in rows})
    assert all(r.dist_r <= 2000.0 for r in rows)

    def hav(lat, lon, slat, slon):
        return 2 * 6371.0 * m.asin(m.sqrt(
            m.sin(m.radians(slat - lat) / 2) ** 2
            + m.cos(m.radians(lat)) * m.cos(m.radians(slat))
            * m.sin(m.radians(slon - lon) / 2) ** 2))

    sample = rows[0]
    eid = sample.event_id
    lat, lon = (eid % 180) - 90 + 0.5, ((eid * 7) % 360) - 180 + 0.5
    dists = sorted(
        (round(hav(lat, lon, ((s * 37) % 180) - 90 + 0.25,
                   ((s * 53) % 360) - 180 + 0.25), 3), s)
        for s in range(50)
    )
    assert (sample.dist_r, sample.station_id) == dists[0]


def test_salted_distinct_null_semantics(spark):
    """NULL values never count (SQL count(DISTINCT) semantics) and an
    all-NULL group still appears with 0 — both were silent divergences
    of the unfiltered two-phase count (review-pass fix)."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.skew import (
        salted_exact_distinct_count,
    )

    rows = [
        ("a", 1), ("a", 1), ("a", 2), ("a", None),  # NULL must not add 1
        ("b", None), ("b", None),                   # all-NULL -> 0, kept
        ("c", 7),
    ]
    df = spark.createDataFrame(rows, ["k", "v"])
    got = {
        r.k: r.n
        for r in salted_exact_distinct_count(df, ["k"], "v", out_col="n").collect()
    }
    assert got == {"a": 2, "b": 0, "c": 1}
    direct = {
        r.k: r.n
        for r in df.groupBy("k").agg(F.count_distinct("v").alias("n")).collect()
    }
    assert got == direct


def test_mde_formula_and_monotonicity(spark):
    """MDE matches the textbook two-sample power formula on hand-built
    moments and shrinks with sample size (the whole point)."""
    import tempfile, os

    rows = []
    eid = 0
    for arm, n, spread in (("A", 40, 3.0), ("B", 400, 3.0)):
        for k in range(n):
            rows.append((arm, eid, datetime(2024, 1, 1), 50.0 + spread * ((k % 5) - 2), "{}"))
            eid += 1
    ev = spark.createDataFrame(
        rows, ["event_type", "event_id", "ts", "value", "props"]
    ).withColumn("user_id", F.col("event_id") % 7)
    with tempfile.TemporaryDirectory() as td:
        ev.write.parquet(os.path.join(td, "events.parquet"))
        out = {r.event_type: r for r in REGISTRY["x_abtest_mde"].fn(spark, td).collect()}
    import statistics
    vals = [50.0 + 3.0 * ((k % 5) - 2) for k in range(40)]
    v = statistics.variance(vals)
    expected_a = (1.959963984540054 + 0.8416212335729143) * math.sqrt(2 * v / 40)
    assert abs(out["A"].mde_abs_r - round(expected_a, 4)) < 1e-9
    # 10x the sample -> sqrt(10)x smaller MDE (same variance)
    assert out["B"].mde_abs_r < out["A"].mde_abs_r / 3.0
    assert out["B"].mde_abs_r > out["A"].mde_abs_r / 3.4


def test_k_anonymity_flags_small_groups(spark):
    """Groups below k are flagged; counts are exact; every QI class in
    the data appears exactly once."""
    out = REGISTRY["x_k_anonymity"].fn(spark, SF_SMALL).collect()
    assert len(out) == len({(r.nationkey, r.mktsegment) for r in out})
    for r in out:
        assert r.meets_k == int(r.group_n >= 5)
    assert sum(r.group_n for r in out) == 150  # sf0.001 customer count


def test_calibration_perfect_and_miscalibrated(spark):
    """A perfectly calibrated bin (acc == conf) contributes ~0 to ECE;
    flipping every label in one bin moves ECE by that bin's weighted
    gap.  Checked through the registered key on the small SF: bins
    partition the corpus, ECE equals the weighted per-bin gap."""
    rows = REGISTRY["x_calibration"].fn(spark, SF_SMALL).collect()
    n_total = sum(r.n for r in rows)
    assert n_total == 500  # sf0.001 documents count
    assert len({r.bin for r in rows}) == len(rows)
    ece = rows[0].ece_r
    assert all(r.ece_r == ece for r in rows)  # global, repeated per row
    weighted = sum(r.n * abs(r.acc_r - r.conf_r) for r in rows) / n_total
    assert abs(weighted - ece) < 2e-4  # rounded inputs vs rounded output
    assert all(0.0 <= r.conf_r <= 1.0 and 0.0 <= r.acc_r <= 1.0 for r in rows)


def test_cusum_detects_planted_shift(spark):
    """A planted sustained mean shift fires the CUSUM alarm after the
    changepoint and not before; the statistic is non-negative."""
    import tempfile, os
    from datetime import timedelta

    rows = []
    eid = 0
    base = datetime(2024, 1, 1)
    for day in range(30):
        level = 10.0 if day < 20 else 14.0  # +4 shift at day 20
        for k in range(20):
            rows.append(("A", eid, base + timedelta(days=day),
                         level + 0.1 * ((eid * 7) % 5), "{}"))
            eid += 1
    ev = spark.createDataFrame(
        rows, ["event_type", "event_id", "ts", "value", "props"]
    ).withColumn("user_id", F.col("event_id") % 9)
    with tempfile.TemporaryDirectory() as td:
        ev.write.parquet(os.path.join(td, "events.parquet"))
        out = sorted(
            REGISTRY["x_cusum_changepoint"].fn(spark, td).collect(),
            key=lambda r: r.day,
        )
    assert all(r.cusum_r >= 0.0 for r in out)
    alarms = [i for i, r in enumerate(out) if r.alarm == 1]
    assert alarms and min(alarms) >= 20  # fires after the shift only
    assert out[-1].alarm == 1  # still alarming at the end


def test_cusum_shift_at_day_zero(spark):
    """r7 ADVICE regression: a series elevated FROM DAY 0 (prefix sums
    never dip negative) must not have its statistic floored by a running
    min that excludes S'_0 = 0.  With the least(0, ·) floor, day 0's
    statistic equals x_0 − μ₀ − k exactly; the broken formula forced it
    to 0 and understated every later C_t by S'_1."""
    import tempfile, os
    from datetime import timedelta
    from statistics import mean, stdev

    levels = [20.0] * 10 + [10.0] * 20  # high from day 0
    base = datetime(2024, 1, 1)
    rows = [
        ("A", day, base + timedelta(days=day), lv, "{}")
        for day, lv in enumerate(levels)
    ]
    ev = spark.createDataFrame(
        rows, ["event_type", "event_id", "ts", "value", "props"]
    ).withColumn("user_id", F.lit(1))
    with tempfile.TemporaryDirectory() as td:
        ev.write.parquet(os.path.join(td, "events.parquet"))
        out = sorted(
            REGISTRY["x_cusum_changepoint"].fn(spark, td).collect(),
            key=lambda r: r.day,
        )
    mu0 = round(mean(levels), 6)
    k = round(0.25 * round(stdev(levels), 6), 6)
    # Day 0: C_1 = max(0, x_1 - mu0 - k) = S'_1 since the series starts high.
    assert out[0].cusum_r > 0.0
    assert abs(out[0].cusum_r - round(levels[0] - mu0 - k, 6)) < 2e-6
    # While prefix sums stay positive, C_t tracks S'_t (sum of increments).
    run = 0.0
    for i in range(10):
        run += round(levels[i] - mu0 - k, 6)
        assert abs(out[i].cusum_r - round(run, 6)) < 1e-5


def test_mase_seasonal_signal(spark):
    """On a strongly weekly-periodic series the seasonal-naive forecast
    beats last-value carry-forward: MASE < 1; on a flat series both
    forecasts are perfect and MASE is NULL-safe (0/0 avoided upstream
    by the driver data; here we assert the periodic case only)."""
    import tempfile, os
    from datetime import timedelta

    rows = []
    eid = 0
    base = datetime(2024, 1, 1)
    for day in range(28):
        level = [5.0, 50.0, 5.0, 5.0, 5.0, 5.0, 5.0][day % 7]  # weekly spike
        rows.append(("A", eid, base + timedelta(days=day), level, "{}"))
        eid += 1
    ev = spark.createDataFrame(
        rows, ["event_type", "event_id", "ts", "value", "props"]
    ).withColumn("user_id", F.lit(1))
    with tempfile.TemporaryDirectory() as td:
        ev.write.parquet(os.path.join(td, "events.parquet"))
        out = REGISTRY["x_forecast_mase"].fn(spark, td).collect()[0]
    assert out.n_scored == 21  # 28 days - 7 unseeded
    assert out.mae_r == 0.0    # perfectly periodic -> seasonal forecast exact
    assert out.mase_r == 0.0


def test_theta_intersect_exact_below_k(spark):
    """KMV/theta sharpness: when every source's distinct-shingle set is
    smaller than k the sketch IS the set (θ = 1.0) and the intersection
    estimate is exactly the true intersection — the estimator's
    degenerate-exact regime, which any off-by-one in the θ cut or a
    leaky sample join would break."""
    import tempfile, os

    docs = [
        (1, "a b c d e", "en", "src0", 9),   # {a b c, b c d, c d e}
        (2, "a b c d x", "en", "src1", 9),   # {a b c, b c d, c d x}
        (3, "a b c q r", "en", "src2", 9),   # {a b c, b c q, c q r}
    ]
    df = spark.createDataFrame(
        docs, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "documents.parquet"))
        rows = REGISTRY["x_theta_intersect"].fn(spark, td).collect()
    got = {(r.src_a, r.src_b): r for r in rows}
    expect = {("src0", "src1"): 2, ("src0", "src2"): 1, ("src1", "src2"): 1}
    assert set(got) == set(expect)
    for pair, n in expect.items():
        r = got[pair]
        assert r.exact_inter == n
        assert r.theta_r == 1.0
        assert r.est_inter_r == float(n)  # exact in the below-k regime
        assert r.ok == 1


def test_dp_counts_deterministic_laplace_and_threshold(spark):
    """The DP release replays the exact inverse-CDF Laplace draw: for a
    hand-built corpus the released value equals n + the python-computed
    noise for that source's md5 uniform, and the tau threshold flags
    exactly the groups whose NOISY count falls below tau."""
    import hashlib
    import math
    import tempfile, os

    docs = [(i, f"text {i}", "en", "big", 7) for i in range(100)]
    docs += [(100 + i, f"t {i}", "en", "tiny", 3) for i in range(2)]
    df = spark.createDataFrame(
        docs, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "documents.parquet"))
        out = {r.source: r for r in REGISTRY["x_dp_counts"].fn(spark, td).collect()}

    def noise(source: str) -> float:
        u = int(hashlib.md5(f"dp:{source}".encode()).hexdigest()[:8], 16) / 4294967296.0
        return -(1.0 / 1.0) * math.copysign(1.0, u - 0.5) * math.log(
            max(1e-12, 1.0 - 2.0 * abs(u - 0.5))
        ) if u != 0.5 else 0.0

    for src, n in (("big", 100), ("tiny", 2)):
        r = out[src]
        assert r.n_true == n
        assert abs(r.released_r - round(n + noise(src), 4)) < 1e-9
        assert r.suppressed == int(n + noise(src) < 5.0)
    assert out["big"].suppressed == 0  # 100 ± a few Laplace(1) units never dips to 5


def test_gini_extremes_and_bounds(spark):
    """Uniform frequencies give Gini 0; a maximally concentrated
    distribution approaches (n-1)/n·(1 - 1/total-ish); registered key's
    values stay in [0, 1) and the identity is checked against a direct
    python computation on one source."""
    import tempfile, os

    docs = [
        # src 'u': four tokens, each exactly 3 times -> perfectly uniform
        (1, "a b c d a b c d a b c d", "en", "u", 23),
        # src 'c': one dominant token + three singletons -> concentrated
        (2, "x x x x x x x x x y z w", "en", "c", 23),
    ]
    df = spark.createDataFrame(
        docs, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "documents.parquet"))
        out = {r.source: r for r in REGISTRY["x_gini_concentration"].fn(spark, td).collect()}
    assert out["u"].gini_r == 0.0
    # direct python for src 'c': freqs sorted asc with token tiebreak
    freqs = sorted([(1, "w"), (1, "y"), (1, "z"), (9, "x")])
    n = len(freqs); tot = sum(c for c, _ in freqs)
    wsum = sum((i + 1) * c for i, (c, _) in enumerate(freqs))
    gini = 2.0 * wsum / (n * float(tot)) - (n + 1.0) / n
    assert out["c"].gini_r == round(gini, 6)
    assert 0.0 < out["c"].gini_r < 1.0
