"""Incremental corpus-admission dedup against the persistent fingerprint
ledger: cross-batch rejection, within-batch canonical pick and replay
idempotency."""

from __future__ import annotations

from pyspark.sql import functions as F

from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.dedup_ledger import (
    admit_near_new_documents,
    admit_new_documents,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_cross_batch_and_within_batch_dedup(spark, tmp_path):
    ledger = str(tmp_path / "ledger")
    b0 = _docs(spark, [(1, "alpha beta"), (2, "gamma delta"), (3, "alpha  BETA")])
    # 3 normalizes to the same fingerprint as 1 -> min doc_id (1) wins
    out0 = admit_new_documents(spark, b0, ledger, batch_id=0)
    assert sorted(r["doc_id"] for r in out0.collect()) == [1, 2]

    b1 = _docs(spark, [(4, "gamma delta"), (5, "epsilon zeta")])
    out1 = admit_new_documents(spark, b1, ledger, batch_id=1)
    # 4 duplicates batch-0's doc 2 across batches -> rejected
    assert sorted(r["doc_id"] for r in out1.collect()) == [5]

    entries = spark.read.parquet(ledger)
    assert entries.count() == 3  # one row per unique fp ever admitted
    assert entries.select("fp").distinct().count() == 3


def test_replayed_batch_is_idempotent(spark, tmp_path):
    ledger = str(tmp_path / "ledger")
    b0 = _docs(spark, [(1, "one"), (2, "two")])
    admit_new_documents(spark, b0, ledger, batch_id=0)
    # crash/replay: the SAME batch id runs again — must re-admit its own
    # rows (not see its prior partial write) and not duplicate the ledger
    out_replay = admit_new_documents(spark, b0, ledger, batch_id=0)
    assert sorted(r["doc_id"] for r in out_replay.collect()) == [1, 2]
    entries = spark.read.parquet(ledger)
    assert entries.count() == 2
    assert entries.groupBy("fp").count().filter(F.col("count") > 1).count() == 0


LONG = ("the quick brown fox jumps over the lazy dog while seven wizards "
        "brew hazy potions under a pale autumn moon near the river delta")


def test_near_admission_cross_batch(spark, tmp_path):
    ledger = str(tmp_path / "near_ledger")
    b0 = _docs(spark, [(1, LONG), (2, "completely different short text here "
                                      "about spark shuffles and parquet files")])
    out0 = admit_near_new_documents(spark, b0, ledger, batch_id=0)
    assert sorted(r["doc_id"] for r in out0.collect()) == [1, 2]

    # batch 1: 10 is a near-dup of 1 (two tokens appended — NOT
    # byte-identical, so the exact ledger would admit it); 11 is novel
    b1 = _docs(spark, [(10, LONG + " zz9 qq8"),
                       (11, "unrelated document mentioning kafka topics "
                            "watermarks and stateful session windows today")])
    out1 = admit_near_new_documents(spark, b1, ledger, batch_id=1)
    assert sorted(r["doc_id"] for r in out1.collect()) == [11]
    # ledger holds one signature row per ADMITTED doc only
    entries = spark.read.parquet(ledger)
    assert sorted(r["doc_id"] for r in entries.collect()) == [1, 2, 11]


def test_near_admission_within_batch_keep_min_and_replay(spark, tmp_path):
    ledger = str(tmp_path / "near_ledger")
    b0 = _docs(spark, [(7, LONG), (8, LONG + " zz9 qq8")])  # in-batch near-dups
    out0 = admit_near_new_documents(spark, b0, ledger, batch_id=0)
    assert sorted(r["doc_id"] for r in out0.collect()) == [7]
    # replay of the same batch id: re-admits its own rows, no ledger dupes
    out_replay = admit_near_new_documents(spark, b0, ledger, batch_id=0)
    assert sorted(r["doc_id"] for r in out_replay.collect()) == [7]
    entries = spark.read.parquet(ledger)
    assert entries.count() == 1


def test_write_training_shards_ordered_and_bounded(spark, tmp_path):
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.curation import (
        write_training_shards,
    )

    df = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text "), F.col("id")).alias("text"),
    )
    path = str(tmp_path / "shards")
    write_training_shards(df, path, n_shards=4, max_records_per_file=100)
    back = spark.read.parquet(path)
    assert back.count() == 1000
    # every parquet file holds a contiguous, sorted doc_id interval and
    # respects the per-file record cap
    meta = (
        back.select("doc_id", F.input_file_name().alias("f"))
        .groupBy("f")
        .agg(
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    assert all(r["n"] <= 100 for r in meta)
    spans = sorted((r["lo"], r["hi"]) for r in meta)
    for (lo, hi), (lo2, _) in zip(spans, spans[1:]):
        assert hi < lo2  # non-overlapping global order across files
