"""Tier I edge semantics: PQ round-trip invariants (code range, exact
reconstruction of codewords themselves, fidelity bounds, tie
determinism), ADC-recall sanity, and plan shape (map-side encode, no
Python nodes, codebook broadcast)."""

from __future__ import annotations

from pyspark.sql import functions as F

from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.pq import (
    pq_encode,
    pq_report,
    pq_train,
)

from conftest import plan_of

SF_SMALL = "/root/testdata/sf0.001"


def _embeddings(spark):
    return spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")


def test_pq_codes_in_range_and_every_vector_coded(spark):
    e = _embeddings(spark)
    cb = pq_train(e, dim=64, m=8, ksub=16)
    enc = pq_encode(e, cb, dim=64, m=8)
    assert enc.count() == e.count()
    bad = enc.filter(
        (F.size("pq_codes") != 8)
        | F.exists("pq_codes", lambda c: (c < 0) | (c >= 16))
        | (F.size("pq_recon") != 64)
    ).count()
    assert bad == 0


def test_pq_codeword_vectors_reconstruct_to_their_codeword(spark):
    """A vector that IS a codeword must code to itself with zero error in
    every subspace — the PQ fixed point (the scalar-quantization
    lattice-point invariant's product analog)."""
    dim, m, ksub = 8, 4, 2
    # 2 seed vectors -> after one Lloyd round each seed's cell mean is a
    # codeword; make each seed its own cell by separating them
    rows = [(0, [0.0] * dim), (1, [10.0] * dim), (2, [0.1] * dim), (3, [9.9] * dim)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cb = pq_train(e, dim=dim, m=m, ksub=ksub)
    rep = {r["vec_id"]: r for r in pq_report(e, cb, dim=dim, m=m).collect()}
    # codewords are cell means: vec 0+2 -> mean(0.0, 0.1)=0.05 etc.; all
    # four vectors sit 0.05 from their codeword in every component
    for vid in (0, 1, 2, 3):
        assert rep[vid]["max_abs_err"] <= 0.05 + 1e-9
    # exact-codeword corpus: vectors AT the codewords -> zero error
    e2 = spark.createDataFrame(
        [(0, [0.05] * dim), (1, [9.95] * dim)], "vec_id long, embedding array<float>"
    )
    rep2 = pq_report(e2, cb, dim=dim, m=m).collect()
    assert all(r["mse"] == 0.0 and r["cos_fidelity"] == 1.0 for r in rep2)


def test_pq_tie_breaks_to_lowest_code_id(spark):
    """Two identical codewords (duplicate seed vectors) are a permanent
    round-6 tie — every assignment must pick the LOWER code_id, matching
    the oracle's ORDER BY dist ASC, code_id ASC."""
    dim, m = 4, 2
    e = spark.createDataFrame(
        [(0, [1.0] * dim), (1, [1.0] * dim), (2, [1.2] * dim)],
        "vec_id long, embedding array<float>",
    )
    cb = pq_train(e, dim=dim, m=m, ksub=2)
    enc = pq_encode(e, cb, dim=dim, m=m).collect()
    for r in enc:
        assert list(r["pq_codes"]) == [0, 0], r


def test_pq_adc_recall_bounded_and_nontrivial(spark):
    """Recall@3 through the 4-byte code lies in [0, 1] per query and the
    corpus mean clears chance by >10×.  The driver embeddings are iid
    random, the WORST case for PQ (no cluster structure; all pairwise
    cosines ≈ 0 so exact top-3 margins are tiny): measured mean ≈ 0.23
    vs chance 3/499 ≈ 0.006.  Real embedding corpora cluster and recall
    rises with it — the adjudicated contract is Spark ≡ oracle, and this
    test only pins 'far above chance', not a data-dependent absolute."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans.tieri import (
        x_sim_pq,
    )

    rows = x_sim_pq(spark, SF_SMALL).collect()
    assert len(rows) == 10
    assert all(0.0 <= r["recall_at_3"] <= 1.0 for r in rows)
    assert sum(r["recall_at_3"] for r in rows) / len(rows) > 0.1


def test_pq_encode_plan_is_mapside_broadcast(spark):
    """Encoding must be scan → broadcast-join(1-row nest) → project: the
    corpus reaches the join without an exchange of its own (the only
    hash exchanges in the plan belong to the k-row codebook lineage
    feeding the broadcast), and no Python eval nodes anywhere."""
    e = _embeddings(spark)
    cb = pq_train(e, dim=64, m=8, ksub=16)
    # materialize the trained codebook so the encode plan is ONLY encode
    cb_rows = cb.collect()  # m*ksub rows — control-plane size
    cb2 = spark.createDataFrame(
        cb_rows, "subspace int, code_id int, codeword array<double>"
    )
    plan = plan_of(pq_encode(e, cb2, dim=64, m=8))
    assert "BroadcastNestedLoopJoin" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # corpus side: scan feeds the join directly; the lone hash exchange
    # pair below the broadcast aggregates the 64-row codebook nest
    assert plan.count("Exchange hashpartitioning") <= 1


def test_cms_stream_and_counts_builds_agree_and_never_underestimate(spark):
    """The occurrence-stream grid (production path) and the derived-from-
    exact-counts grid (adjudication path) must be cell-identical, and
    every key's estimate must be >= its exact count — the CMS invariant."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.functions.text import (
        tokens,
    )
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.sketches import (
        cms_estimate,
        cms_from_counts,
        cms_from_stream,
    )

    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    tok = d.select(F.explode(tokens("text")).alias("token"))
    cnt = tok.groupBy("token").agg(F.count("*").alias("n"))
    g1 = cms_from_stream(tok, "token", width=64)
    g2 = cms_from_counts(cnt, "token", "n", width=64)
    assert g1.exceptAll(g2).count() == 0 and g2.exceptAll(g1).count() == 0
    est = cms_estimate(cnt, g2, "token", width=64)
    assert est.filter(F.col("est") < F.col("n")).count() == 0
    # width 64 << distinct tokens forces real collisions: some overcount>0
    assert est.filter(F.col("est") > F.col("n")).count() > 0


def test_bpe_greedy_single_pass_on_identical_run(spark):
    """Merge (a,a) over 'aaa' and 'aaaa' must give ['aa','a'] and
    ['aa','aa'] — one left-to-right pass, merged output never re-merged
    (the reference BPE semantics the oracle's even-offset rule replays)."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.bpe import (
        apply_merge,
        chars_of,
    )

    df = spark.createDataFrame([("aaa",), ("aaaa",), ("baab",)], "word string")
    out = {
        r["word"]: list(r["m"])
        for r in df.select(
            "word", apply_merge(chars_of(F.col("word")), "a", "a").alias("m")
        ).collect()
    }
    assert out == {
        "aaa": ["aa", "a"],
        "aaaa": ["aa", "aa"],
        "baab": ["b", "aa", "b"],
    }


def test_bpe_learns_deterministic_merges_and_raises_when_exhausted(spark):
    """Tie-break (count desc, lhs asc, rhs asc) and later rounds seeing
    merged symbols; single-symbol-only vocab raises loudly."""
    import pytest

    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.bpe import (
        bpe_learn,
    )

    words = spark.createDataFrame([("abab", 3), ("ab", 2)], "word string, wn long")
    merges, rep = bpe_learn(spark, words, rounds=2)
    got = [(r["round"], r["lhs"], r["rhs"], r["pair_n"]) for r in merges.collect()]
    # r1: pairs ab=8 (3+3+2), ba=3 -> merge (a,b); r2: (ab,ab)=3 -> 'abab'
    assert got == [(1, "a", "b", 8), (2, "ab", "ab", 3)]
    # after r2 every word is one symbol -> round 3 must raise loudly
    with pytest.raises(RuntimeError):
        bpe_learn(spark, words, rounds=3)


def test_pq_blas_encode_matches_declarative(spark):
    """pq_encode_blas (production Arrow kernel) must equal the declarative
    HOF contract rowwise — codes AND reconstructions — on real corpus
    data (the x_sim_ivf_2level_exact lesson: tiny fixtures miss
    config-dependent paths, so this runs on the driver's embeddings)."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.pq import (
        pq_encode,
        pq_encode_blas,
    )

    e = _embeddings(spark)
    cb = pq_train(e, dim=64, m=8, ksub=16)
    a = {
        r["vec_id"]: (list(r["pq_codes"]), list(r["pq_recon"]))
        for r in pq_encode(e, cb, dim=64, m=8).collect()
    }
    b = {
        r["vec_id"]: (list(r["pq_codes"]), list(r["pq_recon"]))
        for r in pq_encode_blas(e, cb, dim=64, m=8).collect()
    }
    assert a == b


def test_cms_estimate_never_seen_key_is_zero(spark):
    """A key absent from the stream must get est=0 (canonical CMS answer
    for empty cells) and must NOT vanish from the output — the sparse
    grid probe is a left join with absent cells counting 0 (code-review
    r7 finding)."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.sketches import (
        cms_estimate,
        cms_from_stream,
    )

    items = spark.createDataFrame([("a",), ("a",), ("b",)], "token string")
    # width 4096 >> 2 distinct keys: some probe cells of an unseen key
    # are guaranteed empty
    g = cms_from_stream(items, "token", width=4096)
    probe = spark.createDataFrame(
        [("a",), ("never-seen-key",)], "token string"
    )
    est = {r["token"]: r["est"] for r in
           cms_estimate(probe, g, "token", width=4096).collect()}
    assert est["a"] >= 2
    assert est["never-seen-key"] == 0


def test_bpe_chars_of_empty_word_is_empty_array(spark):
    """chars_of('') must be [] — Spark's sequence(1, 0) is DESCENDING, so
    the unguarded transform yielded ['', ''] and a frequent empty word
    could win a garbage merge (code-review r7 finding)."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.bpe import (
        chars_of,
    )

    df = spark.createDataFrame([("",), ("ab",)], "word string")
    out = {r["word"]: list(r["c"]) for r in
           df.select("word", chars_of(F.col("word")).alias("c")).collect()}
    assert out == {"": [], "ab": ["a", "b"]}


def test_pq_blas_degenerate_rows_yield_null_not_crash(spark):
    """NULL / wrong-length embeddings must produce NULL codes+recon from
    the BLAS kernel (matching declarative NULL propagation), not an
    np.array crash of the whole batch (code-review r7 finding)."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.pq import (
        pq_encode_blas,
    )

    dim, m = 8, 4
    e = spark.createDataFrame(
        [(0, [1.0] * dim), (1, None), (2, [1.0] * 3), (3, [2.0] * dim)],
        "vec_id long, embedding array<float>",
    )
    cb = pq_train(
        e.filter(F.col("vec_id").isin(0, 3)), dim=dim, m=m, ksub=2
    )
    out = {r["vec_id"]: r for r in pq_encode_blas(e, cb, dim=dim, m=m).collect()}
    assert out[1]["pq_codes"] is None and out[1]["pq_recon"] is None
    assert out[2]["pq_codes"] is None and out[2]["pq_recon"] is None
    # only vec 0 seeds (ids < ksub=2); both valid rows land in its cell
    assert list(out[0]["pq_codes"]) == [0] * m
    assert list(out[3]["pq_codes"]) == [0] * m
    assert list(out[3]["pq_recon"]) == [1.5] * dim  # cell mean of 1.0, 2.0


def test_cms_grids_merge_across_batches(spark):
    """CMS mergeability (the streaming contract): grids built per batch
    and summed cell-wise equal the grid built over the whole stream —
    so per-microbatch sketches aggregate with one sketch-sized shuffle."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.sketches import (
        cms_from_stream,
    )

    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.functions.text import (
        tokens,
    )

    tok = d.select("doc_id", F.explode(tokens("text")).alias("token"))
    whole = cms_from_stream(tok, "token", width=64)
    b1 = cms_from_stream(tok.filter(F.col("doc_id") % 2 == 0), "token",
                         width=64)
    b2 = cms_from_stream(tok.filter(F.col("doc_id") % 2 == 1), "token",
                         width=64)
    merged = (
        b1.unionByName(b2).groupBy("j", "bucket").agg(F.sum("cell").alias("cell"))
    )
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


def test_linreg_gd_converges_and_is_deterministic(spark):
    """GD on a noiseless y = 3 + 2x relation must drive mse monotonically
    toward 0 and reproduce the identical trajectory on a second run."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.regression import (
        linreg_gd,
    )

    df = spark.range(200).select(
        (F.col("id") / 100.0).alias("x"),
        (3.0 + 2.0 * (F.col("id") / 100.0)).alias("y"),
    )
    t1 = linreg_gd(spark, df, "x", "y", rounds=5, lr=0.3).collect()
    mses = [r["mse"] for r in t1]
    assert all(a > b for a, b in zip(mses, mses[1:]))  # strictly improving
    assert mses[-1] < mses[0] / 2
    t2 = linreg_gd(spark, df, "x", "y", rounds=5, lr=0.3).collect()
    assert [tuple(r) for r in t1] == [tuple(r) for r in t2]
