"""Dataset-curation operators (operators/curation.py, functions/text.py PII):
pure semantics on hand-built rows + the plan shapes the 100 TB design relies
on (broadcast decontamination join, WindowGroupLimit quotas)."""

from __future__ import annotations

from pyspark.sql import functions as F

from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.functions.text import (
    email_count,
    phone_count,
    redact_pii,
)
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.curation import (
    decontaminate,
    domain_quota,
    hash_split,
    mix_downsample,
    mix_upsample,
    pack_sequences,
)
from conftest import plan_of


def test_hash_split_deterministic_and_salted(spark):
    d = spark.createDataFrame([(i,) for i in range(200)], "doc_id bigint")
    a = {r["doc_id"]: (r["bucket"], r["split"]) for r in hash_split(d).collect()}
    b = {r["doc_id"]: (r["bucket"], r["split"]) for r in hash_split(d).collect()}
    assert a == b  # rerun-stable
    for bucket, split in a.values():
        assert 0 <= bucket < 100
        assert split == ("train" if bucket < 90 else "val" if bucket < 95 else "test")
    # all three splits materialize at n=200 and roughly honor 90/5/5
    n_train = sum(1 for _, s in a.values() if s == "train")
    assert 150 < n_train < 200
    # a different salt is an independent re-split
    c = {r["doc_id"]: r["split"] for r in hash_split(d, salt="v2").collect()}
    assert any(c[k] != a[k][1] for k in c)


def test_pack_sequences_layout(spark):
    rows = [(1, "s", 300), (2, "s", 300), (3, "s", 100), (10, "t", 600)]
    d = spark.createDataFrame(rows, "doc_id bigint, source string, n_tokens int")
    got = {
        r["doc_id"]: (r["pack_id"], r["pack_offset"])
        for r in pack_sequences(d, 512).collect()
    }
    # shard s: starts 0, 300, 600 → windows 0,0,1; offsets 0,300,88
    # shard t packs independently from offset 0
    assert got == {1: (0, 0), 2: (0, 300), 3: (1, 88), 10: (0, 0)}


def test_decontaminate_counts_shared_kgrams(spark):
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),      # shares 'alpha beta gamma' + 'beta gamma delta'
            (2, "zeta eta theta iota"),          # no overlap
            (3, "alpha beta gamma"),             # shares 1 (single shingle doc)
        ],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id bigint, text string"
    )
    got = {r["doc_id"]: r["n_overlap"] for r in decontaminate(corpus, bench).collect()}
    assert got == {1: 2, 3: 1}  # doc 2 absent: no shared 3-grams


def test_decontaminate_benchmark_broadcasts(spark):
    corpus = spark.createDataFrame([(1, "a b c d")], "doc_id bigint, text string")
    bench = spark.createDataFrame([(2, "a b c")], "doc_id bigint, text string")
    plan = plan_of(decontaminate(corpus, bench))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_domain_quota_rank_and_tiebreak(spark):
    rows = [(1, "x", 0.9), (2, "x", 0.9), (3, "x", 0.5), (4, "y", 0.1)]
    d = spark.createDataFrame(rows, "doc_id bigint, source string, q double")
    got = {
        r["doc_id"]: r["quota_rank"]
        for r in domain_quota(
            d, "source", [F.col("q").desc(), F.col("doc_id").asc()], 2
        ).collect()
    }
    assert got == {1: 1, 2: 2, 4: 1}  # doc 3 over quota; tie broken by doc_id


def test_domain_quota_uses_window_group_limit(spark):
    d = spark.createDataFrame([(1, "x", 0.9)], "doc_id bigint, source string, q double")
    plan = plan_of(
        domain_quota(d, "source", [F.col("q").desc(), F.col("doc_id").asc()], 2)
    )
    assert "WindowGroupLimit" in plan


def test_mix_downsample_rates_and_determinism(spark):
    rows = [(i, f"src{i % 3}") for i in range(300)]
    d = spark.createDataFrame(rows, "doc_id bigint, source string")
    kept = mix_downsample(d, {"src0": 100, "src1": 50, "src2": 0})
    got = {(r["doc_id"], r["source"]) for r in kept.collect()}
    assert got == {(r["doc_id"], r["source"]) for r in kept.collect()}  # rerun-stable
    by_src = {s: sum(1 for _, x in got if x == s) for s in ("src0", "src1", "src2")}
    assert by_src["src0"] == 100  # 100% kept
    assert by_src["src2"] == 0    # 0% kept
    assert 30 < by_src["src1"] < 70  # ~50% of 100


def test_mix_upsample_epochs(spark):
    d = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id bigint, source string"
    )
    out = mix_upsample(d, {"a": 3, "b": 2}).collect()
    got = sorted((r["doc_id"], r["epoch"]) for r in out)
    assert got == [(1, 0), (1, 1), (1, 2), (2, 0), (2, 1), (3, 0)]


def test_curation_null_and_empty_text_edges(spark):
    # empty/whitespace text yields one empty-ish shingle that can't match
    # real benchmark grams; NULL text drops out of the explode entirely —
    # neither crashes under ANSI mode.
    corpus = spark.createDataFrame(
        [(1, ""), (2, None), (3, "   "), (4, "alpha beta gamma")],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame([(9, "alpha beta gamma")], "doc_id bigint, text string")
    got = {r["doc_id"]: r["n_overlap"] for r in decontaminate(corpus, bench).collect()}
    assert got == {4: 1}
    # hash_split on a NULL id: bucket NULL → falls to the 'test' branch
    d = spark.createDataFrame([(None,), (7,)], "doc_id bigint")
    sp = {r["doc_id"]: r["split"] for r in hash_split(d).collect()}
    assert sp[None] == "test" and sp[7] in ("train", "val", "test")


def test_pii_count_and_redact(spark):
    d = spark.createDataFrame(
        [
            (1, "write to bob.smith@acme.io or ann@ex.org, call 555-0123"),
            (2, "no pii here at all"),
            (3, "555-9999 and 555-0000"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["e"], r["p"], r["red"])
        for r in d.select(
            "doc_id",
            email_count("text").alias("e"),
            phone_count("text").alias("p"),
            redact_pii("text").alias("red"),
        ).collect()
    }
    assert got[1][0] == 2 and got[1][1] == 1
    assert "<EMAIL>" in got[1][2] and "<PHONE>" in got[1][2]
    assert "@" not in got[1][2] and "555-" not in got[1][2]
    assert got[2] == (0, 0, "no pii here at all")
    assert got[3][:2] == (0, 2) and got[3][2] == "<PHONE> and <PHONE>"


def test_quality_model_logit_matches_python(spark):
    """Fixed-weight linear classifier reproduces a plain-Python scoring of
    the same features on a hand-built corpus."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.functions.text import (
        QUALITY_BIAS,
        QUALITY_LEXICON,
        QUALITY_W_STOP,
        QUALITY_W_WLEN,
        STOPWORDS,
        quality_logit,
        tokens,
    )
    from pyspark.sql import functions as F

    rows = [
        (1, "the fast spark data pipeline is fast and big"),
        (2, "slow slow slow nothing"),
        (3, "a of to in data"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    t = df.select("doc_id", "text", tokens("text").alias("t"))
    out = {
        r["doc_id"]: r["score"]
        for r in t.select(
            "doc_id", quality_logit(F.col("t"), F.col("text")).alias("score")
        ).collect()
    }
    for doc_id, text in rows:
        toks = [w for w in text.lower().split() if w]
        n_g = max(len(toks), 1)
        stop = sum(1 for w in toks if w in STOPWORDS) / n_g
        wlen = len(text) / n_g
        lex = None
        for word, w in QUALITY_LEXICON:
            term = w * sum(1 for x in toks if x == word)
            lex = term if lex is None else lex + term
        expect = QUALITY_BIAS + QUALITY_W_STOP * stop + QUALITY_W_WLEN * wlen + lex / n_g
        assert out[doc_id] == expect, doc_id  # bit-exact, same op order


def test_embed_reduce_preserves_relative_distance(spark):
    """JL sketch sanity: identical vectors project identically; a far
    vector stays far in the reduced space."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.embedding import (
        project_embeddings,
    )
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.similarity import (
        rademacher_planes,
    )

    dim, planes = 16, rademacher_planes(n_planes=4, dim=16)
    a = [1.0] * dim
    b = [1.0] * dim          # duplicate of a
    c = [-1.0] * dim         # opposite
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "vec_id int, embedding array<float>"
    )
    out = {r["vec_id"]: [r[f"r{j}"] for j in range(4)]
           for r in project_embeddings(df, planes).collect()}
    assert out[1] == out[2]
    assert out[3] == [-v for v in out[1]]


def test_url_parse_components(spark):
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.functions.urls import (
        registered_domain,
        url_host,
        url_path,
        url_query_param,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("https://en.src0.example.org/d/3/item?id=42&ref=rss",)], "url string"
    )
    row = df.select(
        url_host("url").alias("host"),
        url_path("url").alias("path"),
        url_query_param("url", "id").cast("bigint").alias("qid"),
        registered_domain(url_host("url")).alias("reg"),
    ).collect()[0]
    assert row["host"] == "en.src0.example.org"
    assert row["path"] == "/d/3/item"
    assert row["qid"] == 42
    assert row["reg"] == "example.org"


def test_decontaminate_near_finds_edited_leak(spark):
    """An edited (not verbatim) copy of a benchmark doc must surface via
    MinHash banding + Jaccard, while unrelated docs stay clean."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.dedup import (
        decontaminate_near,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    corpus = spark.createDataFrame(
        [
            (1, base + "lambda mu"),              # light edit of bench 100
            (2, "totally different words here about other topics entirely"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, base)], "doc_id long, text string")
    hits = decontaminate_near(corpus, bench).collect()
    assert [(r["corpus_id"], r["bench_id"]) for r in hits] == [(1, 100)]
    assert hits[0]["jaccard"] >= 0.8


def test_decontaminate_near_broadcasts_bench(spark):
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.dedup import (
        decontaminate_near,
    )
    from conftest import plan_of

    corpus = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    bench = spark.createDataFrame([(2, "a b c d e")], "doc_id long, text string")
    plan = plan_of(decontaminate_near(corpus, bench))
    assert "BroadcastHashJoin" in plan


def test_chunk_documents_covers_every_token_once(spark):
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.curation import (
        chunk_documents,
    )

    df = spark.createDataFrame(
        [(1, 0), (2, 5), (3, 32), (4, 33), (5, 100)], "doc_id long, n_tokens int"
    )
    out = chunk_documents(df, window_tokens=32).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[1]) == 1 and by_doc[1][0]["chunk_len"] == 0
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk_len"] == 5
    assert len(by_doc[3]) == 1 and by_doc[3][0]["chunk_len"] == 32
    assert len(by_doc[4]) == 2
    for doc_id, n in [(2, 5), (3, 32), (4, 33), (5, 100)]:
        chunks = sorted(by_doc[doc_id], key=lambda r: r["chunk_id"])
        assert chunks[0]["chunk_start"] == 0
        assert sum(c["chunk_len"] for c in chunks) == n       # full coverage
        for a, b in zip(chunks, chunks[1:]):
            assert b["chunk_start"] == a["chunk_start"] + a["chunk_len"]


def test_curriculum_order_within_shard_monotone_and_stable(spark):
    """curriculum_order: positions are 1..n within every shard, score is
    non-decreasing along curriculum_pos, shard assignment matches the
    hash contract, and the ordering is invariant to input row order
    (hash + rank, no nondeterminism)."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.curation import (
        curriculum_order,
    )

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        # scores with deliberate TIES (id % 7) so the doc_id tiebreak matters
        (F.col("id") % 7).cast("double").alias("score"),
    )
    out = curriculum_order(df, "score", n_shards=4).collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    assert set(by_shard) <= set(range(4)) and len(out) == 200
    for shard, rows in by_shard.items():
        rows = sorted(rows, key=lambda r: r["curriculum_pos"])
        assert [r["curriculum_pos"] for r in rows] == list(range(1, len(rows) + 1))
        key = [(r["score"], r["doc_id"]) for r in rows]
        assert key == sorted(key)  # ascending (score, id) curriculum
    # stability: a reshuffled input yields the identical assignment
    reshuffled = curriculum_order(
        df.orderBy(F.col("doc_id").desc()).repartition(7), "score", n_shards=4
    ).collect()
    assert {(r["doc_id"], r["shard"], r["curriculum_pos"]) for r in out} == {
        (r["doc_id"], r["shard"], r["curriculum_pos"]) for r in reshuffled
    }
