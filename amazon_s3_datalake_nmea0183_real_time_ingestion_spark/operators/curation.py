"""Dataset-curation operators for LLM training-data pipelines (Tier C
extensions beyond the reference's surface, alongside dedup / similarity /
text-analysis): deterministic split assignment, context-window packing,
benchmark decontamination, and per-domain quality quotas.

All determinism comes from the portable md5 hashing scheme
(functions.hashing), so every operator has an exact ANSI-SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import md5_u32
from ..functions.text import shingles_from_tokens, tokens

# shard count of global_shuffle: the operator and the x_shuffle_epoch
# oracle agree on it
SHUFFLE_SHARDS = 8

# shard count of curriculum_order: the operator and the
# x_curriculum_shards oracle agree on it
CURRICULUM_SHARDS = 8


def hash_split(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic train/val/test assignment by hash bucket.

    ``bucket = md5("split:{id}") % 100``; train < 90, val < 95, else
    test.  Hash-based (not random) so the
    split is stable under reruns, re-partitioning, and incremental
    appends — a new document lands in the same split forever.

    Scale: a pure per-row projection — no shuffle, no state, safe at any
    corpus size; whole-stage codegen end to end.
    """
    bucket = (
        md5_u32(F.concat(F.lit("split:"), F.col(id_col).cast("string"))) % 100
    ).cast("int")
    return df.withColumn("bucket", bucket).withColumn(
        "split",
        F.when(F.col("bucket") < 90, F.lit("train"))
        .when(F.col("bucket") < 95, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def pack_sequences(df: DataFrame, window_tokens: int = 2048) -> DataFrame:
    """Assign documents to fixed-size context windows (training-sequence
    packing): within each ``source`` shard, documents are laid end-to-end in
    ``doc_id`` order and the window index is the running token offset
    divided by ``window_tokens`` (documents may straddle a boundary —
    the standard pack-then-split accounting).

    Adds ``pack_id`` (window index within shard) and ``pack_offset``
    (token offset within the window where the document starts).

    Scale: one shuffle on ``source`` + per-shard sort — the same
    distribution the packed write wants, so the sort is not wasted; no
    driver state, shards pack independently on 1000 executors.
    """
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return df.withColumn(
        "pack_id", F.floor(start / F.lit(window_tokens)).cast("int")
    ).withColumn("pack_offset", (start % window_tokens).cast("int"))


def decontaminate(corpus: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Benchmark decontamination: count, per corpus document, the distinct
    word 3-grams it shares with an evaluation benchmark — documents
    with any overlap are contamination candidates for removal before
    training (the n-gram-overlap test-set filter used by large-LM data
    pipelines).

    Returns (``doc_id``, ``n_overlap``) for documents with ≥1 shared
    3-gram.

    Scale: the benchmark's distinct-shingle set is tiny relative to any
    training corpus (eval sets are MBs), so it BROADCASTS — the 100 TB
    corpus side never shuffles: per-doc shingles are deduped map-side via
    ``array_distinct`` before the explode, the broadcast hash join
    filters in place, and the only shuffle is the final per-doc count.
    """
    def _doc_shingles(df: DataFrame, with_id: bool) -> DataFrame:
        cols = [F.col("doc_id")] if with_id else []
        toks = df.select(*cols, tokens(F.col("text")).alias("__t"))
        return toks.select(
            *cols,
            F.explode(F.array_distinct(shingles_from_tokens(F.col("__t")))).alias(
                "shingle"
            ),
        )

    bench_sh = _doc_shingles(benchmark, with_id=False).distinct()
    corpus_sh = _doc_shingles(corpus, with_id=True)
    return (
        # the benchmark's shingles: eval-set sized, independent of the
        # corpus, but estimated from its source
        corpus_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )


def mix_downsample(df: DataFrame, rates: dict[str, int],
                   default_pct: int = 100) -> DataFrame:
    """Deterministic per-domain down-sampling (training-mixture weights
    below 1.0): keep a row iff its salted hash bucket of ``doc_id`` falls
    under the percentage of its ``source`` domain.  ``rates`` maps
    domain → keep-percent (0..100);
    unlisted domains keep ``default_pct``.

    Hash-gated, not ``sample()``: membership is reproducible across runs,
    partitionings, and incremental appends, and the oracle can replay it
    exactly.  Scale: pure per-row filter, no shuffle; the rate map is a
    literal CASE expression, never a join.
    """
    bucket = (
        md5_u32(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))) % 100
    )
    pct = F.lit(default_pct)
    for dom, keep in rates.items():
        pct = F.when(F.col("source") == dom, F.lit(keep)).otherwise(pct)
    return df.filter(bucket < pct)


def mix_upsample(df: DataFrame, epochs: dict[str, int]) -> DataFrame:
    """Per-domain epoch up-sampling (mixture weights above 1.0): replicate
    each row ``epochs[domain]`` times, tagging the copy index as
    ``epoch`` (0-based) so downstream shuffles/packing can interleave
    copies instead of clustering them.

    Scale: ``explode(sequence(...))`` is a map-side row generator — no
    shuffle, no driver loop; output size is exactly Σ rows × epochs.
    """
    n = F.lit(1)
    for dom, e in epochs.items():
        n = F.when(F.col("source") == dom, F.lit(e)).otherwise(n)
    return df.withColumn(
        "epoch", F.explode(F.sequence(F.lit(0), n.cast("int") - 1))
    )


def domain_quota(df: DataFrame, domain_col: str, order_cols: list,
                 n_per_domain: int) -> DataFrame:
    """Per-domain quota sampling (data mixing): keep the top
    ``n_per_domain`` rows of each domain under a deterministic ordering
    (e.g. quality score desc, id asc as tiebreak).  Controls domain
    balance in the training mix without a global sort.

    Adds ``quota_rank`` (1-based within domain).

    Scale: rank-limit windows compile to ``WindowGroupLimit`` — each
    shuffle partition keeps only its local top-n before the final
    per-domain selection, so skewed giant domains don't materialize
    fully.
    """
    w = Window.partitionBy(domain_col).orderBy(*order_cols)
    return (
        df.withColumn("quota_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("quota_rank") <= n_per_domain)
    )


def global_shuffle(df: DataFrame, salt: str = "shuf") -> DataFrame:
    """Deterministic global training shuffle: every row gets a stable
    pseudo-random shard and an in-shard position, so a data loader reads
    the corpus in a reproducible shuffled order (same salt → same order
    on every run, any partitioning, any engine).

    Adds ``fp`` (salted md5 of the id — the shuffle key), ``shard``
    (``md5 % SHUFFLE_SHARDS``) and ``pos`` (1-based rank of ``fp`` within the
    shard).  Ids are unique ⇒ fingerprints are unique ⇒ the order is
    total and deterministic.

    Scale: deliberately NOT a global ``row_number`` (an unpartitioned
    window funnels 100 TB through one task); the rank window is
    partitioned by ``shard``, so each of ``SHUFFLE_SHARDS`` sorts runs
    independently — at scale, size the shard count to O(cluster cores)
    and the sort is embarrassingly parallel.  Loader order is (shard, pos).
    """
    fp = F.md5(F.concat(F.lit(f"{salt}:"), F.col("doc_id").cast("string")))
    shard = (
        F.conv(F.substring(F.col("fp"), 1, 8), 16, 10).cast("bigint")
        % SHUFFLE_SHARDS
    ).cast("int")
    w = Window.partitionBy("shard").orderBy("fp")
    return (
        df.withColumn("fp", fp)
        .withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w).cast("int"))
    )


def curriculum_order(df: DataFrame, score_col: str) -> DataFrame:
    """Curriculum data ordering, the distributed way: shard assignment is
    a HASH (content-agnostic, stable under appends — same md5 scheme as
    :func:`hash_split`), and the curriculum lives WITHIN each shard as a
    rank over ``(score_col, doc_id)`` — ascending score, so a training
    loop reading each shard in ``curriculum_pos`` order sees easy/low
    items first (sequence-level curriculum / quality warmup).

    Adds ``shard`` (int) and ``curriculum_pos`` (1-based within shard).

    Scale: the naive formulation — a GLOBAL ntile over score — needs a
    corpus-wide total order (one-task sort in any engine).  Hashed
    shards + per-shard windows keep every step at shard granularity: one
    keyed shuffle, CURRICULUM_SHARDS-way parallel sorts, no global ordering
    anywhere.  Each shard is an unbiased corpus sample (hash
    assignment), so per-shard curricula are statistically equivalent to
    the global one — the same argument as hash-split's.
    """
    shard = (
        md5_u32(F.concat(F.lit("curr:"), F.col("doc_id").cast("string")))
        % CURRICULUM_SHARDS
    ).cast("int")
    w = Window.partitionBy("shard").orderBy(
        F.col(score_col).asc(), F.col("doc_id").asc()
    )
    return df.withColumn("shard", shard).withColumn(
        "curriculum_pos", F.row_number().over(w)
    )


def chunk_documents(df: DataFrame, token_col: str = "n_tokens",
                    window_tokens: int = 512) -> DataFrame:
    """Split each document into fixed-size token chunks (the complement of
    :func:`pack_sequences`: packing lays many short docs into one context
    window, chunking cuts one long doc into many) — RAG/embedding-index
    preprocessing where every chunk becomes its own row.

    Adds ``chunk_id`` (0-based), ``chunk_start`` (token offset) and
    ``chunk_len`` (``window_tokens`` except the tail).  Empty docs emit
    one zero-length chunk so no document silently disappears.

    Scale: a map-side ``explode(sequence(...))`` row generator — no
    shuffle, no state; output row count is ceil(tokens/window) per doc,
    generated executor-locally (same shape as mix_upsample's epochs).
    """
    n_chunks = F.greatest(
        F.ceil(F.col(token_col) / F.lit(window_tokens)), F.lit(1)
    ).cast("int")
    out = df.withColumn(
        "chunk_id", F.explode(F.sequence(F.lit(0), n_chunks - 1))
    )
    start = F.col("chunk_id") * window_tokens
    return out.withColumn("chunk_start", start.cast("int")).withColumn(
        "chunk_len",
        F.least(F.lit(window_tokens), F.col(token_col) - start).cast("int"),
    )


def skyline_2d(df: DataFrame, d1: str, d2: str) -> DataFrame:
    """2-D skyline / Pareto front (Börzsönyi, Kossmann & Stocker,
    ICDE '01): rows not DOMINATED by any other row, where p dominates q
    iff p is ≥ q on both dimensions and > on at least one (bigger =
    better; ties on BOTH dimensions survive together).  Multi-objective
    curation's primitive: "keep the documents on the quality frontier"
    when no single score orders the corpus.

    Implemented as the SORT-SWEEP, not the naive O(n²) dominance join:
    after one total-order sort on (d1 DESC), a row survives iff

      d2  >  max(d2 over rows with strictly larger d1)      [RANGE frame]
      d2  =  max(d2 over rows with equal d1)                [tie group]

    — two window aggregates riding ONE sort, O(n log n).  The dimensions
    must be INTEGER-valued: the strictly-larger-d1 frame is
    ``RANGE .. 1 PRECEDING`` under the DESC ordering, which needs a
    discrete gap (floats would need a tie-aware two-pass sweep).

    Scale (two phases — the r7 ADVICE finding was that a bare
    unpartitioned window is SINGLE-TASK; this is the documented
    grid-cell pre-peel, now actually implemented):

    1. **Parallel pre-peel**: bucket rows into 64
       equal-width ranges of d1 (one broadcast min/max agg) and run the
       SAME sweep per bucket, with both windows partitioned — fully
       parallel.  Dominance is transitive, so a row eliminated by a
       same-bucket dominator is eliminated by SOME surviving candidate:
       the candidate set is a superset of the global skyline and
       preserves every dominance verdict.  On non-adversarial data this
       discards the overwhelming bulk map-side (each bucket keeps only
       its local Pareto staircase).
    2. **Global sweep over candidates**: the original unpartitioned
       two-frame sweep, now over the pre-peeled survivor set only.
       This stage IS single-partition — by construction it processes
       O(|skyline candidates|) rows, not the corpus; when the skyline
       itself is corpus-sized (all points on one diagonal) no algorithm
       avoids materializing it.

    Adjudication: the oracle runs the NAIVE dominance anti-join, so the
    sweep's correctness is checked against the definition itself, not a
    reimplementation of the same algorithm.
    """
    rng = df.agg(
        F.min(d1).cast("double").alias("__lo"),
        F.max(d1).cast("double").alias("__hi"),
    )
    w_hi_loc = (
        Window.partitionBy("__bucket")
        .orderBy(F.col(d1).desc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_tie_loc = Window.partitionBy(d1)
    df = (
        df.crossJoin(rng)
        .withColumn(
            "__bucket",
            F.when(F.col("__hi") <= F.col("__lo"), F.lit(1)).otherwise(
                F.width_bucket(
                    F.col(d1).cast("double"),
                    F.col("__lo"),
                    F.col("__hi") + F.lit(1.0),
                    F.lit(64),
                )
            ),
        )
        .withColumn("__max_hi", F.max(d2).over(w_hi_loc))
        .withColumn("__max_tie", F.max(d2).over(w_tie_loc))
        .filter(
            (F.col("__max_hi").isNull() | (F.col(d2) > F.col("__max_hi")))
            & (F.col(d2) == F.col("__max_tie"))
        )
        .drop("__lo", "__hi", "__bucket", "__max_hi", "__max_tie")
    )
    w_hi = (
        Window.orderBy(F.col(d1).desc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_tie = Window.partitionBy(d1)
    return (
        df.withColumn("__max_hi", F.max(d2).over(w_hi))
        .withColumn("__max_tie", F.max(d2).over(w_tie))
        .filter(
            (F.col("__max_hi").isNull() | (F.col(d2) > F.col("__max_hi")))
            & (F.col(d2) == F.col("__max_tie"))
        )
        .drop("__max_hi", "__max_tie")
    )
