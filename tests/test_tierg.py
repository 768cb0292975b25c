"""Tier G edge semantics: quantization round-trip invariants on
constructed vectors, ADC recall bounds, entropy extremes (uniform vs
single-token docs), PMI on planted collocations, bigram-LM ordering of
predictable vs shuffled text, and the MinHash estimator's exact-duplicate
fixed point."""

from __future__ import annotations

import math
import os

from pyspark.sql import functions as F

from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.quantization import (
    dim_codebook,
    quantization_error,
    quantize,
)
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans.tierg import (
    x_lm_bigram,
    x_minhash_calibration,
    x_pmi_collocations,
    x_sim_quantized,
    x_token_entropy,
)

from conftest import plan_of

SF_SMALL = "/root/testdata/sf0.001"


def _write_docs(spark, tmp_path, rows):
    sf_dir = str(tmp_path)
    df = spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(os.path.join(sf_dir, "documents.parquet"))
    return sf_dir


def _emb(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v], lab) for i, v, lab in rows],
        "vec_id long, embedding array<float>, label int",
    )


# -- quantization operator ---------------------------------------------------


def test_quantize_codebook_extremes_are_exact(spark):
    # lo and hi of every dimension map to codes 0 and 255 and dequantize
    # back to themselves exactly (affine endpoints are fixed points).
    e = _emb(spark, [(0, [0.0, -1.0], 0), (1, [1.0, 3.0], 0), (2, [0.5, 1.0], 0)])
    q = quantize(e, dim_codebook(e)).orderBy("vec_id").collect()
    assert q[0]["qcode"] == [0, 0] and q[1]["qcode"] == [255, 255]
    assert q[0]["xq"] == [0.0, -1.0] and q[1]["xq"] == [1.0, 3.0]
    # interior point: code = floor(0.5*255 + 0.5) = 128, xq = 128/255
    assert q[2]["qcode"][0] == 128
    assert abs(q[2]["xq"][0] - 128.0 / 255.0) < 1e-12


def test_quantize_constant_dimension_is_lossless(spark):
    # hi == lo dimension: code 0, dequantized value = the constant itself.
    e = _emb(spark, [(0, [7.5, 1.0], 0), (1, [7.5, 2.0], 0)])
    q = quantize(e, dim_codebook(e)).orderBy("vec_id").collect()
    assert [r["xq"][0] for r in q] == [7.5, 7.5]
    assert [r["qcode"][0] for r in q] == [0, 0]
    err = quantization_error(e, dim_codebook(e)).orderBy("vec_id").collect()
    # the non-constant dim is also an endpoint in both rows -> zero error
    assert all(r["mse"] == 0.0 and r["max_abs_err"] == 0.0 for r in err)
    assert all(r["cos_fidelity"] == 1.0 for r in err)


def test_quantization_error_bounded_by_half_step(spark):
    # |x - xq| <= (hi - lo) / (2 * 255) per dimension, by construction.
    err = quantization_error(
        _emb(spark, [(i, [i / 7.0, math.sin(i)], 0) for i in range(8)]),
        dim_codebook(_emb(spark, [(i, [i / 7.0, math.sin(i)], 0) for i in range(8)])),
    ).collect()
    step = max(1.0, 2.0) / 255.0  # widest dim range here is sin's ~1.98
    assert all(r["max_abs_err"] <= step / 2 + 1e-9 for r in err)


def test_quantize_is_mapside_only(spark):
    # the corpus side feeds the broadcast-codebook cross join DIRECTLY —
    # quantization adds zero shuffles above the corpus scan.  Asserted
    # structurally (not by line positions, which drift across Spark/AQE
    # versions): the codebook arrives via a broadcast join, and every
    # shuffle Exchange in the plan keys on the codebook's posexploded
    # 'dim' aggregation — no hashpartitioning exchange ever carries the
    # corpus rows.
    import re

    e = _emb(spark, [(i, [float(i), float(-i)], 0) for i in range(10)])
    plan = plan_of(quantize(e, dim_codebook(e)), "simple")
    assert "BroadcastNestedLoopJoin" in plan
    shuffles = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert all("dim" in keys for keys in shuffles), shuffles


def test_quantize_input_with_lo_hi_columns(spark):
    # regression: an input frame carrying its own 'lo'/'hi' columns must
    # not collide with the codebook's (reserved __cb_ aliases inside
    # quantize) — previously failed analysis on ambiguous references
    base = _emb(spark, [(0, [0.0, 4.0], 0), (1, [2.0, 0.0], 0)])
    e = base.withColumn("lo", F.lit(11)).withColumn("hi", F.lit(22))
    q = quantize(e, dim_codebook(base)).orderBy("vec_id").collect()
    assert [r["lo"] for r in q] == [11, 11] and [r["hi"] for r in q] == [22, 22]
    # codes still derive from the codebook's ranges, not the input columns
    assert q[0]["qcode"] == [0, 255] and q[1]["qcode"] == [255, 0]


def test_sim_quantized_recall_bounds(spark):
    out = x_sim_quantized(spark, SF_SMALL).collect()
    assert len(out) > 0
    assert all(0.0 <= r["recall_at_3"] <= 1.0 for r in out)
    assert all(r["n_hits"] == round(r["recall_at_3"] * 3) for r in out)


# -- token entropy -----------------------------------------------------------


def test_entropy_extremes(spark, tmp_path):
    sf = _write_docs(
        spark,
        tmp_path,
        [(100, "spam spam spam spam"), (101, "alpha beta gamma delta")],
    )
    got = {r["doc_id"]: r for r in x_token_entropy(spark, sf).collect()
           if r["doc_id"] < 1000}
    # single repeated token -> H = 0, TTR = 1/4; all-distinct -> H = ln 4
    assert got[100]["entropy"] == 0.0 and got[100]["ttr"] == 0.25
    assert abs(got[101]["entropy"] - round(math.log(4), 6)) < 1e-9
    assert got[101]["ttr"] == 1.0


# -- PMI collocations --------------------------------------------------------


def test_pmi_planted_collocation_tops_table(spark, tmp_path):
    # 'zz9 qq8' always adjacent (the corpus-planted suffix); filler tokens
    # co-occur with everything. 10 docs so c_ab >= 5 passes.
    sf = _write_docs(
        spark, tmp_path,
        [(i, f"tok{i} filler common words here") for i in range(10)],
    )
    out = x_pmi_collocations(spark, sf).collect()
    assert out[0]["w1"] == "zz9" and out[0]["w2"] == "qq8"
    assert all(out[i]["pmi"] >= out[i + 1]["pmi"] for i in range(len(out) - 1))
    assert all(r["n_pair"] >= 5 for r in out)


def test_pmi_topk_plan_uses_global_limit(spark):
    plan = plan_of(x_pmi_collocations(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan


# -- bigram LM ---------------------------------------------------------------


def test_lm_bigram_prefers_predictable_sequences(spark, tmp_path):
    # doc 0 repeats one bigram pattern 20x; doc 1 is the same vocabulary
    # in a never-repeating order. The bigram LM must score 0 higher.
    predictable = "a b " * 20
    salad = "a a b b a b b a b a a b a b b b a a b a"
    sf = _write_docs(spark, tmp_path, [(0, predictable.strip()), (1, salad)])
    got = {r["doc_id"]: r["bigram_logprob"] for r in x_lm_bigram(spark, sf).collect()
           if r["doc_id"] < 1000}
    assert got[0] > got[1]


def test_lm_bigram_short_docs_drop_out(spark, tmp_path):
    sf = _write_docs(spark, tmp_path, [(0, "solo"), (1, "two tokens")])
    ids = {r["doc_id"] for r in x_lm_bigram(spark, sf).collect()}
    assert 0 not in ids and 1 in ids  # <2 tokens -> no bigrams


# -- minhash calibration -----------------------------------------------------


def test_minhash_calibration_exact_duplicate_fixed_point(spark, tmp_path):
    # identical shingle sets -> every permutation minimum equal: est = 1.0
    # AND exact = 1.0 (the estimator is exact at J=1, Broder '97).
    text = "one two three four five six seven eight nine ten"
    sf = _write_docs(spark, tmp_path, [(0, text), (1, text)])
    out = {(r["id_a"], r["id_b"]): r for r in x_minhash_calibration(spark, sf).collect()}
    assert out[(0, 1)]["est_jaccard"] == 1.0
    assert out[(0, 1)]["exact_jaccard"] == 1.0
    assert out[(0, 1)]["abs_err"] == 0.0


def test_minhash_calibration_err_is_consistent(spark):
    out = x_minhash_calibration(spark, SF_SMALL).collect()
    assert len(out) > 0
    for r in out:
        assert 0.0 <= r["est_jaccard"] <= 1.0
        assert abs(r["abs_err"] - round(abs(r["est_jaccard"] - r["exact_jaccard"]), 4)) <= 1e-4


# -- rank fusion --------------------------------------------------------------


def test_rank_fusion_rrf_arithmetic(spark):
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans.tierg import (
        x_rank_fusion,
    )
    out = x_rank_fusion(spark, SF_SMALL).collect()
    assert 0 < len(out) <= 20
    for r in out:
        expect = (1.0 / (60 + r["bm25_rank"]) if r["bm25_rank"] else 0.0) + (
            1.0 / (60 + r["tfidf_rank"]) if r["tfidf_rank"] else 0.0
        )
        assert abs(r["rrf_score"] - round(expect, 6)) < 1e-9
    # fused list is sorted by rrf desc
    assert all(out[i]["rrf_score"] >= out[i + 1]["rrf_score"]
               for i in range(len(out) - 1))


# -- percentile normalization -------------------------------------------------


def test_percentile_norm_bounds_and_ties(spark, tmp_path):
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans.tierg import (
        x_percentile_norm,
    )
    rows = [(0, "a", "en", "s1", 10), (1, "b", "en", "s1", 10),
            (2, "c", "en", "s1", 20), (3, "d", "en", "s2", 99)]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    got = {r["doc_id"]: r["pnorm"] for r in x_percentile_norm(spark, sf).collect()}
    # ties share competition rank: both 10-char docs in s1 get 0.0; the
    # 20-char doc gets (3-1)/(3-1)=1.0; singleton source s2 gets 0.0.
    assert got[0] == 0.0 and got[1] == 0.0 and got[2] == 1.0 and got[3] == 0.0


# -- dedup census -------------------------------------------------------------


def test_dedup_census_counts_planted_pairs(spark):
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans.tierg import (
        x_dedup_census,
    )
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans.tierc import (
        _doc_corpus,
    )
    out = {r["cluster_size"]: r for r in x_dedup_census(spark, SF_SMALL).collect()}
    # doc-count identity: sum over sizes of size*n_clusters = corpus size
    # (every doc is in exactly one component, singletons included)
    assert sum(r["n_docs"] for r in out.values()) == _doc_corpus(spark, SF_SMALL).count()
    assert all(r["n_docs"] == r["cluster_size"] * r["n_clusters"]
               for r in out.values())
    # the 50 planted near-copies guarantee multi-doc clusters exist
    assert any(s >= 2 for s in out)


# -- split leakage ------------------------------------------------------------


def test_split_leakage_pairs_straddle_splits(spark):
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans.tierg import (
        x_split_leakage,
    )
    out = x_split_leakage(spark, SF_SMALL).collect()
    assert len(out) > 0  # planted copies hash independently of originals
    assert all(r["split_a"] != r["split_b"] for r in out)
    assert all(r["jaccard"] >= 0.6 for r in out)


# -- cluster-safe split -------------------------------------------------------


def test_cluster_safe_split_has_zero_leakage(spark):
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans.tierg import (
        x_split_cluster_safe,
        x_split_leakage,
    )
    safe = x_split_cluster_safe(spark, SF_SMALL).collect()
    assert len(safe) >= 2  # at least two splits materialize
    assert all(r["n_leaking_pairs"] == 0 for r in safe)
    # ... on the same corpus where doc-id splitting DOES leak
    assert len(x_split_leakage(spark, SF_SMALL).collect()) > 0


# -- keyword extraction -------------------------------------------------------


def test_keywords_tfidf_per_doc_topk(spark, tmp_path):
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans.tierg import (
        x_keywords_tfidf,
    )
    # 'rare' appears once in one doc; 'common' in all docs -> idf 0
    sf = _write_docs(
        spark, tmp_path,
        [(0, "common rare common"), (1, "common common"), (2, "common common")],
    )
    out = [r for r in x_keywords_tfidf(spark, sf).collect() if r["doc_id"] == 0]
    assert out[0]["term"] == "rare" and out[0]["rank"] == 1
    by_doc = {}
    for r in x_keywords_tfidf(spark, SF_SMALL).collect():
        by_doc.setdefault(r["doc_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) and len(v) <= 3
               for v in by_doc.values())


# -- language mismatch QA -----------------------------------------------------


def test_lang_mismatch_flags_wrong_declared_label(spark, tmp_path):
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans.tierg import (
        x_lang_mismatch,
    )
    sf_dir = str(tmp_path)
    rows = [
        (0, "the cat and the dog of a house", "de"),   # english text, declared de
        (1, "the fish and the bird to a tree", "en"),  # consistent
        (2, "xq zz yy ww", "fr"),                      # no evidence -> und, soft
    ]
    spark.createDataFrame(
        [(i, t, lang, "s", len(t)) for i, t, lang in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(os.path.join(sf_dir, "documents.parquet"))
    out = {(r["declared"], r["pred_lang"]): r for r in x_lang_mismatch(spark, sf_dir).collect()}
    assert out[("de", "en")]["n_hard_mismatch"] == 1
    assert out[("en", "en")]["n_hard_mismatch"] == 0
    assert out[("fr", "und")]["n_hard_mismatch"] == 0  # und = soft


# -- embedding norm QA --------------------------------------------------------


def test_embed_norms_catches_ragged_and_zero(spark, tmp_path):
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans.tierg import (
        x_embed_norms,
    )
    sf_dir = str(tmp_path)
    rows = [(0, [3.0, 4.0], 0), (1, [0.0, 0.0], 0), (2, [1.0], 1)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(os.path.join(sf_dir, "embeddings.parquet"))
    out = {r["label"]: r for r in x_embed_norms(spark, sf_dir).collect()}
    assert out[0]["max_norm"] == 5.0 and out[0]["n_zero"] == 1
    assert out[0]["dims_min"] == out[0]["dims_max"] == 2
    assert out[1]["dims_min"] == 1  # the ragged writer is visible per label


def test_quantize_is_idempotent(spark):
    # re-quantizing the dequantized corpus under the SAME codebook returns
    # identical codes — re-ingestion of a quantized store is stable (lo/hi
    # are affine fixed points, and floor(c ± eps + 0.5) = c for integral c).
    e = _emb(spark, [(i, [i / 7.0, math.sin(i), 2.5], 0) for i in range(8)])
    cb = dim_codebook(e)
    q1 = quantize(e, cb).select("vec_id", "qcode", F.col("xq").alias("embedding"))
    q2 = quantize(q1.select("vec_id", "embedding"), cb)
    joined = (
        q1.select("vec_id", F.col("qcode").alias("c1"))
        .join(q2.select("vec_id", F.col("qcode").alias("c2")), "vec_id")
        .collect()
    )
    assert all(r["c1"] == r["c2"] for r in joined)


# -- dataset diff -------------------------------------------------------------


def test_dataset_diff_census(spark):
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans.tierg import (
        x_dataset_diff,
    )
    out = x_dataset_diff(spark, SF_SMALL).collect()
    census = {}
    for r in out:
        census[r["change"]] = census.get(r["change"], 0) + 1
    # fixture derivation: 25 edited, 25 dropped, 3 added (doc_id < 3)
    assert census == {"modified": 25, "removed": 25, "added": 3}
    added = {r["doc_id"] for r in out if r["change"] == "added"}
    assert added == {1000000, 1000001, 1000002}


# -- per-source KL divergence -------------------------------------------------


def test_source_kl_flags_distinct_domain(spark, tmp_path):
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans.tierg import (
        x_source_kl,
    )
    sf_dir = str(tmp_path)
    # src_pool: common vocabulary; src_weird: disjoint vocabulary -> high KL
    rows = [(i, "alpha beta gamma delta epsilon", "src_pool") for i in range(8)]
    rows += [(100 + i, "zorp quux flib wibble snark", "src_weird") for i in range(2)]
    import os as _os
    spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(_os.path.join(sf_dir, "documents.parquet"))
    got = {r["source"]: r["kl_nats"] for r in x_source_kl(spark, sf_dir).collect()}
    assert got["src_weird"] > got["src_pool"]
    assert all(v >= 0 or abs(v) < 1e-6 for v in got.values())  # KL >= 0 up to rounding


# -- codebook persistence + streaming application -----------------------------


def test_codebook_roundtrip_and_streaming_quantize(spark, tmp_path):
    # batch-fit the codebook, persist it, apply it MAP-SIDE to a stream:
    # streamed codes must equal the batch path bit for bit (re-deriving
    # min/max per batch would drift the code space; the persisted book
    # is the contract).
    e = _emb(spark, [(i, [i / 9.0, 1.0 - i / 9.0, 0.25], 0) for i in range(10)])
    src = os.path.join(str(tmp_path), "vecs")
    cb_path = os.path.join(str(tmp_path), "codebook")
    out = os.path.join(str(tmp_path), "out")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    e.write.parquet(src)
    dim_codebook(e).write.parquet(cb_path)
    cb = spark.read.parquet(cb_path)
    stream = spark.readStream.schema(e.schema).parquet(src)
    q = (
        quantize(stream, cb)
        .select("vec_id", "qcode")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {r["vec_id"]: r["qcode"] for r in spark.read.parquet(out).collect()}
    batch = {r["vec_id"]: r["qcode"]
             for r in quantize(e, cb).select("vec_id", "qcode").collect()}
    assert streamed == batch and len(streamed) == 10


def test_quantize_clamps_out_of_range_batch(spark):
    # production cadence: a PERSISTED codebook applied to a later batch
    # whose components exceed the trained [lo, hi] — codes must clamp to
    # [0, 255] (one byte) and dequant must stay inside the trained range
    # instead of extrapolating.
    train = _emb(spark, [(0, [0.0, 0.0], 0), (1, [1.0, 1.0], 0)])
    cb = dim_codebook(train)
    newbatch = _emb(spark, [(2, [2.0, -1.0], 0)])
    r = quantize(newbatch, cb).collect()[0]
    assert r["qcode"] == [255, 0]
    assert r["xq"] == [1.0, 0.0]
