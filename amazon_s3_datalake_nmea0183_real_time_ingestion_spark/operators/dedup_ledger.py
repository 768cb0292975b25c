"""Incremental corpus dedup against a persistent fingerprint ledger.

The batch/streaming shape a continuously-crawled training corpus needs:
each new micro-batch is admitted only if its document fingerprint has
never been seen in ANY prior batch, and admitted fingerprints are
appended to a durable ledger so the check survives restarts.  This is
the historical-store complement of ``operators.dedup.exact_dedup``
(within-dataset) and ``streaming.stateful.streaming_dedup`` (within the
watermark horizon): the ledger has no horizon.

Reference parity: the reference lands every record append-only via
Firehose (cdk_datalake_mvp/cdk_datalake_mvp_stack.py:150-170) and leaves
dedup to Athena readers; a training pipeline must dedup at admission
instead.

Scale design (100 TB): the ledger holds ONE narrow row (fp, doc_id,
batch_id) per unique document ever admitted — a few % of corpus bytes.
The anti-join shuffles fingerprints, not documents: new-batch fps are
first deduped in-batch (map-side combine), then LEFT ANTI joined against
the ledger scan; Spark's runtime bloom-filter join pushes a membership
filter below the ledger scan when sizes warrant.  The per-batch-id
partition layout makes replays overwrite themselves (exactly-once per
batch id, by dynamic partition overwrite), and gives partition pruning on
re-crawl audits.  On a real lakehouse the ledger would be an
Iceberg/Delta table MERGEd by fp; plain parquet keeps the container
dependency-free while the join/overwrite shape is identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import doc_fingerprint
from ..storage import stored
from .dedup import (
    SIMHASH_BANDS,
    SIMHASH_BITS,
    SIMHASH_MAX_HAMMING,
    simhash_pairs,
    simhash_signatures,
)

LEDGER_SCHEMA = "fp string, doc_id bigint, batch_id bigint"


def _read_ledger(spark: SparkSession, ledger_path: str) -> DataFrame:
    if os.path.isdir(ledger_path):
        return spark.read.schema(LEDGER_SCHEMA).parquet(ledger_path).select(
            "fp", "doc_id", "batch_id"
        )
    return spark.createDataFrame([], LEDGER_SCHEMA)


def admit_new_documents(
    spark: SparkSession,
    batch: DataFrame,
    ledger_path: str,
    batch_id: int,
) -> DataFrame:
    """Return the subset of ``batch`` never seen before; record it.

    Within-batch ties keep the lowest ``doc_id`` (deterministic).  Rows
    whose fingerprint is already in the ledger are dropped.  Admitted
    ``(fp, doc_id, batch_id)`` rows are written to
    ``ledger_path/batch_id=N/`` with dynamic partition overwrite, so
    re-running a failed/replayed batch id is exactly-once: the partition
    is replaced, never duplicated.

    A replayed batch id is admitted against the ledger EXCLUDING its own
    prior partial write (otherwise a replay would reject every row it
    admitted before the crash and emit an empty batch downstream).
    """
    fp = doc_fingerprint("text")
    in_batch = (
        batch.withColumn("fp", fp)
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    ledger = _read_ledger(spark, ledger_path).filter(
        F.col("batch_id") != F.lit(batch_id)
    )
    fresh = in_batch.join(ledger.select("fp"), "fp", "left_anti")
    entries = fresh.select(
        "fp", F.col("doc_id").cast("long").alias("doc_id"),
        F.lit(batch_id).cast("long").alias("batch_id"),
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        entries.write.mode("overwrite").partitionBy("batch_id").parquet(ledger_path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # admitted full rows: semi-join original batch on the surviving ids
    # (dropDuplicates guards against literal row replays inside one batch)
    return batch.join(
        fresh.select(F.col("doc_id").alias("__keep_id")),
        F.col("doc_id") == F.col("__keep_id"),
        "left_semi",
    ).dropDuplicates(["doc_id"])


NEAR_LEDGER_SCHEMA = "doc_id bigint, simhash bigint, batch_id bigint"


def _read_near_ledger(spark: SparkSession, ledger_path: str) -> DataFrame:
    if os.path.isdir(ledger_path):
        return spark.read.schema(NEAR_LEDGER_SCHEMA).parquet(ledger_path).select(
            "doc_id", "simhash", "batch_id"
        )
    return spark.createDataFrame([], NEAR_LEDGER_SCHEMA)


def _banded(sigs: DataFrame) -> DataFrame:
    """Explode a (doc_id, simhash) frame into its LSH band slices — the
    same bit-slice banding as :func:`operators.dedup.simhash_pairs`, so
    ledger admission and within-corpus pair-finding agree on candidates."""
    chunk = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << chunk) - 1
    return sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_id"),
                    F.shiftright("simhash", b * chunk).bitwiseAND(F.lit(mask)).alias("band_val"),
                )
                for b in range(SIMHASH_BANDS)
            ])
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band_id", "bb.band_val")


def admit_near_new_documents(
    spark: SparkSession,
    batch: DataFrame,
    ledger_path: str,
    batch_id: int,
) -> DataFrame:
    """Cross-batch NEAR-dup admission of a ``(doc_id, text)`` batch: the
    SimHash-band complement of :func:`admit_new_documents` (which only
    catches byte-identical text).

    The returned frame reads two ``stored()`` intermediates; a long-lived
    caller (e.g. a ``foreachBatch`` micro-batch) consumes it inside
    ``storage.release_scope()`` so each batch's blocks are freed.

    A batch document is admitted iff
    1. no in-batch document with a SMALLER id is a near-dup of it
       (band collision + Hamming ≤ ``SIMHASH_MAX_HAMMING`` — the
       deterministic one-pass "keep-min" rule; survivors of rule 1 are
       checked against the ledger regardless of whether their smaller
       partner survived), and
    2. no document admitted by ANY prior batch collides in a band within
       ``SIMHASH_MAX_HAMMING`` (the ledger stores one (doc_id, simhash,
       batch_id) row per admitted doc).

    Scale design: the ledger row is 24 bytes/doc; admission shuffles
    signatures (|batch| × SIMHASH_BANDS band rows joined against
    |ledger| × SIMHASH_BANDS), never text.  Replay-safety matches the
    exact ledger: the check EXCLUDES the replaying batch id's own
    partition and the write dynamic-overwrites it."""
    sigs = simhash_signatures(batch)
    # signature computation (tokenize + distinct + 20 packed bit-sums) is
    # the expensive stage and feeds THREE consumers below (the in-batch
    # pair join's two sides via simhash_pairs, and the survivors
    # anti-join) — store it once (r14, guide §5 caching: reused AND
    # expensive to recompute).
    sigs = stored(sigs)
    # rule 1 — drop any doc with a smaller in-batch near-dup partner
    pairs = simhash_pairs(sigs)
    survivors = sigs.join(
        pairs.select(F.col("id_b").alias("doc_id")).distinct(), "doc_id", "left_anti"
    )
    # rule 2 — band join against every OTHER batch's admitted signatures
    ledger = _read_near_ledger(spark, ledger_path).filter(
        F.col("batch_id") != F.lit(batch_id)
    )
    hits = (
        _banded(survivors)
        .join(
            _banded(ledger.select("doc_id", "simhash"))
            .select("band_id", "band_val", F.col("simhash").alias("led_sh")),
            ["band_id", "band_val"],
        )
        .filter(
            F.bit_count(F.col("simhash").bitwiseXOR(F.col("led_sh"))) <= SIMHASH_MAX_HAMMING
        )
        .select("doc_id")
        .distinct()
    )
    # the ledger write below materializes the admission pipeline; without
    # this cut the RETURNED semi-join replans the whole pipeline (band
    # join + ledger anti-join included) a second time when the caller
    # materializes the admitted batch (r14 — measured as the dominant
    # cost of x_dedup_ledger_near's second batch).  Recomputing instead
    # would still be correct, but only because the ledger read above
    # excludes ``batch_id == current``: the append below adds this
    # batch's own rows, which would otherwise reject every doc on replan.
    admitted = stored(survivors.join(hits, "doc_id", "left_anti"))
    entries = admitted.select(
        "doc_id", "simhash", F.lit(batch_id).cast("long").alias("batch_id")
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        entries.write.mode("overwrite").partitionBy("batch_id").parquet(ledger_path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return batch.join(
        admitted.select(F.col("doc_id").alias("__keep_id")),
        F.col("doc_id") == F.col("__keep_id"),
        "left_semi",
    ).dropDuplicates(["doc_id"])
