"""Tier E edge semantics the sf fixtures can't isolate: triangle counts on
known graphs, the MAD outlier rule on constructed values, OHLC tie-breaks,
weighted-sampling weight dominance, Bloom zero-false-negatives, and the
planted near-dup pairs for semantic/edit-distance dedup."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans.tiere import (
    q_triangle_count,
    q_ts_downsample,
    x_decontaminate_bloom,
    x_dedup_lev,
    x_dedup_semantic,
    x_outlier_mad,
    x_sample_weighted,
)

SF_SMALL = "/root/testdata/sf0.001"


def _write(spark, tmp_path, name, rows, schema):
    sf_dir = str(tmp_path)
    df = spark.createDataFrame(rows, schema)
    df.write.mode("overwrite").parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return sf_dir


def _write_events(spark, tmp_path, rows):
    """rows: (event_id, ts_epoch_s, user_id, event_type, value, props)."""
    sf_dir = str(tmp_path)
    df = spark.createDataFrame(
        rows,
        "event_id long, ts_s long, user_id long, event_type string, value double, props string",
    ).select(
        "event_id",
        F.timestamp_seconds(F.col("ts_s")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    df.write.mode("overwrite").parquet(os.path.join(sf_dir, "events.parquet"))
    return sf_dir


# -- q_triangle_count -------------------------------------------------------


def test_triangle_single(spark, tmp_path):
    # order 1 = parts {1,2,3} -> one triangle; order 2 = {3,4} -> a dangling
    # edge; order 3 = {1,2} -> repeated edge (dedup'd by DISTINCT)
    rows = [(1, 1), (1, 2), (1, 3), (2, 3), (2, 4), (3, 1), (3, 2)]
    sf = _write(spark, tmp_path, "lineitem", rows, "l_orderkey long, l_partkey long")
    got = {r["part_id"]: r["n_triangles"] for r in q_triangle_count(spark, sf).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_triangle_k4(spark, tmp_path):
    # one order with 4 parts = K4: 4 triangles, each node in exactly 3
    rows = [(1, p) for p in (1, 2, 3, 4)]
    sf = _write(spark, tmp_path, "lineitem", rows, "l_orderkey long, l_partkey long")
    got = {r["part_id"]: r["n_triangles"] for r in q_triangle_count(spark, sf).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


# -- x_outlier_mad ----------------------------------------------------------


def test_mad_flags_only_the_outlier(spark, tmp_path):
    # values 1..4 + 100: med=3, MAD=1 -> only 100 exceeds 3*1.4826*1
    rows = [
        (i, 1_700_000_000 + i, 1, "a", v, "{}")
        for i, v in enumerate([1.0, 2.0, 3.0, 4.0, 100.0])
    ]
    sf = _write_events(spark, tmp_path, rows)
    row = x_outlier_mad(spark, sf).collect()[0]
    assert (row["n"], row["n_outliers"]) == (5, 1)
    assert row["med"] == 3.0 and row["mad"] == 1.0
    assert abs(row["outlier_rate"] - 0.2) < 1e-9


# -- q_ts_downsample --------------------------------------------------------


def test_ohlc_ties_break_by_event_id(spark, tmp_path):
    # two events at the SAME timestamp: open must be the lower event_id's
    t0 = 1_700_000_000
    rows = [
        (2, t0, 1, "a", 5.0, "{}"),
        (1, t0, 1, "a", 3.0, "{}"),
        (3, t0 + 60, 1, "a", 9.0, "{}"),
    ]
    sf = _write_events(spark, tmp_path, rows)
    row = q_ts_downsample(spark, sf).collect()[0]
    assert (row["open"], row["high"], row["low"], row["close"]) == (3.0, 9.0, 3.0, 9.0)
    assert row["n_events"] == 3 and row["vol"] == 17.0


# -- x_sample_weighted ------------------------------------------------------


def test_weighted_sample_weight_dominates_and_is_deterministic(spark, tmp_path):
    # a doc with a 1e9-char weight gets key ~ -1e-9 -- above any unit-weight
    # doc's (ln(u) ~ -0.7 on average), so it must rank first
    rows = [(i, f"doc {i}", "en", "src0", 10) for i in range(1, 40)] + [
        (999, "heavy", "en", "src0", 1_000_000_000)
    ]
    sf = _write(
        spark, tmp_path, "documents", rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out1 = x_sample_weighted(spark, sf).collect()
    assert out1[0]["doc_id"] == 999 and out1[0]["rank"] == 1
    assert [r["rank"] for r in out1] == list(range(1, len(out1) + 1))
    assert all(r["priority"] <= 0.0 for r in out1)
    assert out1 == x_sample_weighted(spark, sf).collect()


# -- x_decontaminate_bloom --------------------------------------------------


def test_bloom_has_no_false_negatives(spark, tmp_path):
    # corpus doc 1 shares the 3-gram 'alpha beta gamma' with bench doc 0
    # (0 % 97 == 0) -> MUST be flagged; doc 2 shares nothing -> with a
    # near-empty filter (fill ~ 1e-4) a false positive would need a ~1e-12
    # event, so assert clean
    rows = [
        (0, "alpha beta gamma delta epsilon", "en", "src0", 30),
        (1, "intro words alpha beta gamma outro", "en", "src0", 34),
        (2, "zeta eta theta iota kappa lambdas", "en", "src0", 33),
    ]
    sf = _write(
        spark, tmp_path, "documents", rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r["doc_id"]: r for r in x_decontaminate_bloom(spark, sf).collect()}
    assert set(got) == {1, 2}
    assert got[1]["contaminated"] == 1 and got[1]["n_flagged"] >= 1
    assert got[2]["contaminated"] == 0 and got[2]["n_flagged"] == 0


# -- x_dedup_semantic / x_dedup_lev (planted duplicates, real fixture) ------


def test_semantic_dedup_drops_every_planted_copy(spark):
    planted = {
        r["vec_id"] + 1_000_000
        for r in spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        .filter(F.col("vec_id") < 50)
        .select("vec_id")
        .collect()
    }
    out = x_dedup_semantic(spark, SF_SMALL).collect()
    dropped = {r["dropped_id"] for r in out}
    # identical copies share the original's cluster -> all must be dropped,
    # absorbed by a lower id at cos ~ 1.0
    assert planted <= dropped
    by_id = {r["dropped_id"]: r for r in out}
    assert all(by_id[p]["kept_by"] < p and by_id[p]["cos_sim"] >= 0.99 for p in planted)


def test_each_semantic_dedup_key_runs_its_own_assignment_kernel(spark, monkeypatch):
    """x_dedup_semantic assigns with the broadcast argmax and
    x_dedup_semantic_guarded with the two-level BLAS argmax.  Both
    kernels give the same clusters, so the oracle cannot see a swap, and
    the guarded key's assignment sits behind stored() ("Scan
    ExistingRDD" in a plan); record the calls instead."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators import (
        similarity,
    )
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans.tiere import (
        x_dedup_semantic_guarded,
    )
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.storage import (
        release_scope,
    )

    calls: list[str] = []

    def recording(name):
        real = getattr(similarity, name)

        def wrapper(*args, **kwargs):
            calls.append(name)
            return real(*args, **kwargs)

        monkeypatch.setattr(similarity, name, wrapper)

    recording("assign_to_centroids")
    recording("assign_to_centroids_2level_blas")
    with release_scope():
        assert x_dedup_semantic(spark, SF_SMALL).count() > 0
        assert calls == ["assign_to_centroids"]
        calls.clear()
        assert x_dedup_semantic_guarded(spark, SF_SMALL).count() > 0
        assert calls == ["assign_to_centroids_2level_blas"]


def test_lev_dedup_catches_planted_suffix_edits(spark):
    out = x_dedup_lev(spark, SF_SMALL).collect()
    pairs = {(r["id_a"], r["id_b"]): r["edit_distance"] for r in out}
    planted = [(a, b) for (a, b) in pairs if b == a + 1_000_000]
    # the ' zz9 qq8' suffix is an 8-char edit (0 when the head window
    # ends before it); LSH must surface these and the verifier keep them
    assert planted, "no planted near-dup pair survived LSH + levenshtein"
    assert all(pairs[p] <= 8 for p in planted)
    assert all(d <= 24 for d in pairs.values())


# -- streaming MAD scoring (fit on batch, score the stream) -----------------


def test_flag_outliers_scores_stream_against_batch_stats(spark, tmp_path):
    import json as _json

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.outliers import (
        flag_outliers,
        mad_stats,
    )

    # reference batch: med=3, MAD=1 -> outlier cut at |v-3| > 4.4478
    ref = spark.createDataFrame(
        [("a", v) for v in [1.0, 2.0, 3.0, 4.0, 5.0]], "event_type string, value double"
    )
    stats = mad_stats(ref)

    landing = tmp_path / "landing"
    landing.mkdir()
    rows = [
        {"event_id": 1, "event_type": "a", "value": 3.5},   # inlier
        {"event_id": 2, "event_type": "a", "value": 99.0},  # outlier
        {"event_id": 3, "event_type": "a", "value": -50.0}, # outlier (low side)
    ]
    with open(landing / "b1.json", "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")
    schema = StructType([
        StructField("event_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ])
    stream = spark.readStream.schema(schema).json(str(landing))
    q = (
        flag_outliers(stream, stats)
        .writeStream.format("memory")
        .queryName("mad_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {r["event_id"]: r for r in spark.sql("SELECT * FROM mad_out").collect()}
    assert not got[1]["is_outlier"] and got[2]["is_outlier"] and got[3]["is_outlier"]
    assert got[3]["robust_z"] < 0 < got[2]["robust_z"]


def test_triangle_random_graph_matches_bruteforce(spark, tmp_path):
    """Erdős–Rényi-ish fixed-seed graph, each order = one edge; per-node
    counts must equal the O(n³) Python reference."""
    import itertools
    import random

    rng = random.Random(7)
    n = 30
    edges = [
        (u, v) for u, v in itertools.combinations(range(1, n + 1), 2)
        if rng.random() < 0.3
    ]
    rows = [(i, p) for i, (u, v) in enumerate(edges) for p in (u, v)]
    sf = _write(spark, tmp_path, "lineitem", rows, "l_orderkey long, l_partkey long")

    adj = {i: set() for i in range(1, n + 1)}
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    expected = {}
    for a, b, c in itertools.combinations(range(1, n + 1), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for node in (a, b, c):
                expected[node] = expected.get(node, 0) + 1
    top50 = dict(sorted(expected.items(), key=lambda kv: (-kv[1], kv[0]))[:50])

    got = {r["part_id"]: r["n_triangles"] for r in q_triangle_count(spark, sf).collect()}
    assert got == top50


# -- x_sample_stratified / x_winsorize --------------------------------------


def test_stratified_sample_exact_counts_and_band_containment(spark, tmp_path):
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans.tiere import (
        x_sample_stratified,
        x_winsorize,
    )

    # 3 strata with 50/25/5 docs: quotas are exactly 20/20/5
    rows = [
        (i, f"doc {i}", "en", f"src{i % 3 if i < 75 else 2}", 10)
        for i in range(100)
    ]
    rows = (
        [(i, f"d{i}", "en", "big", 10) for i in range(50)]
        + [(100 + i, f"d{i}", "en", "mid", 10) for i in range(25)]
        + [(200 + i, f"d{i}", "en", "tiny", 10) for i in range(5)]
    )
    sf = _write(
        spark, tmp_path, "documents", rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = x_sample_stratified(spark, sf).collect()
    import collections

    counts = collections.Counter(r["source"] for r in out)
    assert counts == {"big": 20, "mid": 20, "tiny": 5}
    assert all(1 <= r["strat_rank"] <= 20 for r in out)
    # deterministic across runs
    assert sorted((r["source"], r["doc_id"]) for r in out) == sorted(
        (r["source"], r["doc_id"]) for r in x_sample_stratified(spark, sf).collect()
    )

    # winsorize: values 0..98 plus one huge tail value in one group
    vals = [float(i) for i in range(99)] + [10_000.0]
    ev = [(i, 1_700_000_000 + i, 1, "a", v, "{}") for i, v in enumerate(vals)]
    _write_events(spark, tmp_path, ev)
    w = x_winsorize(spark, sf).collect()[0]
    # p05/p95 at linear-interpolated rank 0.05/0.95*(n-1): 4.95 / 94.05
    assert w["p05"] == 4.95 and w["p95"] == 94.05
    assert w["n"] == 100 and w["n_clipped"] == 10
    # clipping the 10000 tail must pull the mean down
    assert w["mean_winsorized"] < w["mean_raw"]


def test_stratified_sample_uses_window_group_limit(spark, tmp_path):
    from conftest import plan_of
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans.tiere import (
        x_sample_stratified,
    )

    plan = plan_of(x_sample_stratified(spark, SF_SMALL))
    assert "WindowGroupLimit" in plan


# -- edge inputs ------------------------------------------------------------


def test_triangle_empty_and_triangle_free_graphs(spark, tmp_path):
    # a path graph (1-2-3) has wedges but zero triangles
    rows = [(1, 1), (1, 2), (2, 2), (2, 3)]
    sf = _write(spark, tmp_path, "lineitem", rows, "l_orderkey long, l_partkey long")
    assert q_triangle_count(spark, sf).count() == 0
    # single-part orders -> no edges at all
    rows = [(1, 1), (2, 2)]
    sf = _write(spark, tmp_path, "lineitem", rows, "l_orderkey long, l_partkey long")
    assert q_triangle_count(spark, sf).count() == 0


def test_mad_constant_group_flags_nothing(spark, tmp_path):
    # constant values: med=v, MAD=0 -> strict > never fires, no outliers
    rows = [(i, 1_700_000_000 + i, 1, "c", 7.5, "{}") for i in range(6)]
    sf = _write_events(spark, tmp_path, rows)
    row = x_outlier_mad(spark, sf).collect()[0]
    assert (row["n"], row["n_outliers"], row["mad"]) == (6, 0, 0.0)

    # and the streaming scorer emits NULL robust_z (try_divide), not a crash
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.outliers import (
        flag_outliers,
        mad_stats,
    )

    # degenerate scale (MAD=0): robust_z is NULL (unquantifiable), but ANY
    # deviation from a constant reference distribution IS an outlier —
    # the value sits infinitely many MADs out
    ref = spark.createDataFrame([("c", 7.5)] * 4, "event_type string, value double")
    stats = mad_stats(ref)
    dev, same = (
        flag_outliers(
            spark.createDataFrame(
                [(1, "c", 9.9), (2, "c", 7.5)], "id long, event_type string, value double"
            ),
            stats,
        )
        .orderBy("id")
        .collect()
    )
    assert dev["robust_z"] is None and dev["is_outlier"]
    assert not same["is_outlier"]


# -- x_dedup_containment ----------------------------------------------------


def test_containment_catches_wrapped_doc_jaccard_misses(spark, tmp_path):
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    body = " ".join(f"w{i}" for i in range(40))
    header = " ".join(f"c{i}" for i in range(120))
    footer = " ".join(f"d{i}" for i in range(120))
    rows = [(1, body), (2, f"{header} {body} {footer}")]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")

    got = containment_pairs(corpus, threshold=0.9).collect()
    assert len(got) == 1
    r = got[0]
    # every 3-gram of the body is a contiguous 3-gram of the wrapper
    assert (r["contained_id"], r["container_id"]) == (1, 2)
    assert r["containment"] == 1.0
    # ...but resemblance is far below any near-dup threshold
    assert r["jaccard"] < 0.2
    assert ngram_jaccard_pairs(corpus, threshold=0.6).count() == 0

    # the max_df guard path scores surviving pairs identically
    guarded = containment_pairs(corpus, threshold=0.9, max_df=10).collect()
    assert [tuple(x) for x in guarded] == [tuple(x) for x in got]


def test_containment_min_size_floor_stops_tiny_boilerplate(spark, tmp_path):
    """A chrome-only snippet (3 distinct shingles) is 'contained' in every
    doc carrying that chrome — containment's min(|A|,|B|) denominator makes
    the tiny side score 1.0 against the whole corpus.  min_size drops it
    before candidate generation; real-sized pairs are untouched."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.dedup import (
        containment_pairs,
    )

    chrome = "nav home about contact login"  # 5 tokens -> 3 distinct 3-grams
    body = " ".join(f"w{i}" for i in range(40))
    rows = [
        (1, chrome),  # tiny boilerplate doc
        (2, f"{chrome} {body}"),
        (3, f"{chrome} {' '.join(f'x{i}' for i in range(40))}"),
        (4, body),  # contained whole in doc 2
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")

    unfloored = containment_pairs(corpus, threshold=0.9)
    # tiny doc 1 pairs with EVERY chrome carrier (containment 1.0 each)
    assert unfloored.filter("contained_id = 1").count() == 2

    floored = containment_pairs(corpus, threshold=0.9, min_size=10)
    rowsf = floored.collect()
    # the tiny doc is gone from candidates entirely...
    assert all(r["contained_id"] != 1 and r["container_id"] != 1 for r in rowsf)
    # ...while the real containment catch (body inside doc 2) survives
    assert any(
        (r["contained_id"], r["container_id"]) == (4, 2) for r in rowsf
    )


# -- x_drift_psi ------------------------------------------------------------


def test_psi_flags_shifted_distribution_only(spark, tmp_path):
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans.tiere import (
        x_drift_psi,
    )

    t0 = 1_700_000_000
    rows = []
    # type 'stable': same value cycle in both halves -> psi ~ 0
    for i in range(200):
        rows.append((i, t0 + i, 1, "stable", float(i % 10), "{}"))
    for i in range(200):
        rows.append((1000 + i, t0 + 1000 + i, 1, "stable", float(i % 10), "{}"))
    # type 'shifted': first half 0..9, second half clustered at the top
    for i in range(200):
        rows.append((2000 + i, t0 + i, 1, "shifted", float(i % 10), "{}"))
    for i in range(200):
        rows.append((3000 + i, t0 + 1000 + i, 1, "shifted", 9.0, "{}"))
    sf = _write_events(spark, tmp_path, rows)
    got = {r["event_type"]: r for r in x_drift_psi(spark, sf).collect()}
    assert got["stable"]["drifted"] == 0 and got["stable"]["psi"] < 0.05
    assert got["shifted"]["drifted"] == 1 and got["shifted"]["psi"] > 0.2
    assert got["shifted"]["n_ref"] == 200 and got["shifted"]["n_cur"] == 200


def test_psi_sees_new_types_and_constant_reference(spark, tmp_path):
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans.tiere import (
        x_drift_psi,
    )

    t0 = 1_700_000_000
    rows = []
    # 'newtype': first appears AFTER the temporal midpoint -> no reference
    # distribution -> must still be flagged, psi NULL
    # (the midpoint is set by 'const', spanning t0 .. t0+2000)
    for i in range(50):
        rows.append((i, t0 + 1500 + i, 1, "newtype", float(i), "{}"))
    # 'const': constant reference half, current half moves off the
    # constant -> the 2-bucket degenerate rule must register drift
    for i in range(100):
        rows.append((1000 + i, t0 + i, 1, "const", 5.0, "{}"))
    for i in range(100):
        rows.append((2000 + i, t0 + 2000 - 99 + i, 1, "const", 42.0, "{}"))
    sf = _write_events(spark, tmp_path, rows)
    got = {r["event_type"]: r for r in x_drift_psi(spark, sf).collect()}
    assert got["newtype"]["n_ref"] == 0 and got["newtype"]["n_cur"] == 50
    assert got["newtype"]["psi"] is None and got["newtype"]["drifted"] == 1
    assert got["const"]["drifted"] == 1 and got["const"]["psi"] > 0.2
