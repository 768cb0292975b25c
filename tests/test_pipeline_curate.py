"""End-to-end curation pipeline: stage order, monotone funnel, planted
duplicates collapsed, decontamination drops, and cluster-safe splits."""

from __future__ import annotations

from pyspark.sql import functions as F

from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.dedup import (
    minhash_near_dup,
)
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators import pipeline_curate
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.pipeline_curate import (
    curate_corpus,
)

SF_SMALL = "/root/testdata/sf0.001"


def _corpus(spark):
    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    dups = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz9 qq8")).alias("text"),
        "lang", "source", "n_chars",
    )
    return d.unionByName(dups)


def test_curate_corpus_funnel_and_dedup(spark, monkeypatch):
    corpus = _corpus(spark)
    monkeypatch.setattr(pipeline_curate, "QUALITY_THRESHOLD", -1e9)  # gate off: isolate dedup
    out = curate_corpus(corpus)
    funnel = {r["stage"]: r["n_docs"] for r in out["funnel"].collect()}
    assert funnel["input"] == corpus.count()
    assert funnel["quality_gate"] == funnel["input"]  # gate disabled
    assert funnel["exact_dedup"] <= funnel["quality_gate"]
    assert funnel["near_dedup"] < funnel["exact_dedup"]  # planted copies collapse
    assert funnel["decontaminated"] == funnel["near_dedup"]  # no benchmark
    curated = out["curated"].collect()
    assert len(curated) == funnel["near_dedup"]
    ids = {r["doc_id"] for r in curated}
    # the collapse invariant: no near-dup pair (at the configured
    # threshold) survives with BOTH endpoints kept.  (A short planted
    # copy whose 2-token suffix dilutes Jaccard below 0.8 legitimately
    # keeps both — doc 40 at sf0.001 — so assert on the pair list, not
    # on the planting scheme.)
    surviving_pairs = (
        minhash_near_dup(
            _corpus(spark).select("doc_id", "text"), threshold=0.8, max_bucket=100
        )
        .filter(F.col("id_a").isin(*ids) & F.col("id_b").isin(*ids))
        .count()
    )
    assert surviving_pairs == 0
    # and the planted copies that ARE >= 0.8 near-dups did collapse
    assert sum(1 for i in ids if i >= 1000000) < 50


def test_curate_corpus_split_is_cluster_safe(spark, monkeypatch):
    corpus = _corpus(spark)
    monkeypatch.setattr(pipeline_curate, "QUALITY_THRESHOLD", -1e9)
    out = curate_corpus(corpus)
    sp = out["curated"].select("doc_id", "split")
    pairs = minhash_near_dup(
        out["curated"].select("doc_id", "text"), threshold=0.8, max_bucket=100
    ).select("id_a", "id_b")
    leaks = (
        pairs.join(sp.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa")), "id_a")
        .join(sp.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb")), "id_b")
        .filter(F.col("sa") != F.col("sb"))
        .count()
    )
    assert leaks == 0


def test_curate_corpus_quality_gate_and_mixture(spark, monkeypatch):
    corpus = _corpus(spark)
    monkeypatch.setattr(pipeline_curate, "QUALITY_THRESHOLD", 1e9)
    strict = curate_corpus(corpus)
    assert strict["curated"].count() == 0  # everything gated
    monkeypatch.setattr(pipeline_curate, "QUALITY_THRESHOLD", -1e9)
    out = curate_corpus(corpus)
    mix = out["mixture"].collect()
    assert abs(sum(r["weight"] for r in mix) - 1.0) < 1e-3
    assert all(r["n_docs"] > 0 for r in mix)


def test_curate_corpus_decontaminates_kept_canonicals(spark, monkeypatch):
    corpus = _corpus(spark)
    # benchmark = the exact text of doc 60 (not a planted dup) -> doc 60 dropped
    bench = corpus.filter(F.col("doc_id") == 60).select("text")
    monkeypatch.setattr(pipeline_curate, "QUALITY_THRESHOLD", -1e9)
    out = curate_corpus(corpus, benchmark=bench)
    ids = {r["doc_id"] for r in out["curated"].select("doc_id").collect()}
    assert 60 not in ids
    funnel = {r["stage"]: r["n_docs"] for r in out["funnel"].collect()}
    assert funnel["decontaminated"] < funnel["near_dedup"]


def test_curate_corpus_drops_cluster_of_contaminated_variant(spark, monkeypatch):
    """A benchmark 3-gram overlapping ONLY a discarded near-dup variant's
    edited text must still remove the surviving canonical (the canonical
    is a near-copy of the contaminated text by construction)."""
    corpus = _corpus(spark)
    # find a planted pair that actually collapses (>= 0.8 jaccard) so the
    # canonical survives while its +1000000 variant is dropped
    monkeypatch.setattr(pipeline_curate, "QUALITY_THRESHOLD", -1e9)
    out_plain = curate_corpus(corpus)
    kept = {r["doc_id"] for r in out_plain["curated"].select("doc_id").collect()}
    canon = next(i for i in range(50) if i in kept and (i + 1000000) not in kept)
    # benchmark shares a shingle only with the VARIANT's appended suffix:
    # its single 3-gram is "<last original token> zz9 qq8"
    text = corpus.filter(F.col("doc_id") == canon).select("text").collect()[0][0]
    last_tok = text.lower().split()[-1]
    bench = spark.createDataFrame([(f"{last_tok} zz9 qq8",)], ["text"])
    # sanity: the canonical's own text has no overlap with the benchmark
    assert "zz9" not in text
    out = curate_corpus(corpus, benchmark=bench)
    ids = {r["doc_id"] for r in out["curated"].select("doc_id").collect()}
    assert canon not in ids

