"""Byte-pair-encoding vocabulary learning (Sennrich, Haddow & Birch,
"Neural machine translation of rare words with subword units", ACL'16) —
the tokenizer-build workload of the training-data pipeline.

Algorithm (corpus-level statistics, the standard trainer): represent each
distinct word as its character sequence weighted by corpus frequency; per
round, count adjacent symbol pairs, merge the single most frequent pair
(deterministic tie-break: count desc, then left/right symbol ascending —
the oracle replays it verbatim), rewrite every word greedily left-to-right,
repeat.

Scale shape: statistics live on the DISTINCT-WORD table, which is
vocabulary-sized (Heaps' law: ~n^0.5 of a 100 TB corpus), not
corpus-sized — the corpus is read ONCE for the initial wordcount and never
again.  Each merge round is one map-side-combinable pair-count shuffle
over the vocab plus a 1-row control-plane collect (the winning pair — the
sanctioned scalar-collect pattern, like star-CC's convergence signature);
the rewrite is a pure codegen fold against that pair, no Python, no
corpus-proportional broadcast.  Lineage is truncated per round by a
stored frame, so R rounds cost R short shuffles, not 2^R plan blowup.

Greedy application semantics: one left-to-right pass; a symbol produced by
a merge is NOT re-merged with its right neighbor in the same pass (on a
run like ``a a a`` with merge (a,a) the pass yields ``aa a``) — the
reference BPE behavior, pinned by a pytest run-of-identical-symbols probe
and replayed in SQL by the oracle's gaps-and-islands even-offset rule.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..storage import stored


def chars_of(word: Column) -> Column:
    """Character array of a string attribute column — explicit
    substring-per-index (engine-independent; regex-split empty-pattern
    edge behavior differs across engines).

    Empty string → empty array, guarded explicitly: Spark's
    ``sequence(1, 0)`` generates the DESCENDING sequence [1, 0], so the
    unguarded transform would turn '' into ["", ""] and a
    frequent-enough empty word would win a garbage ('', '') merge
    (code-review r7 finding; tokens() pre-filters empties but other
    tokenizers may not)."""
    return F.when(F.length(word) > 0, F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: F.substring(word, i, F.lit(1)),
    )).otherwise(F.array().cast("array<string>"))


def pair_counts(rep: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies over (wn, syms) word representations:
    zip syms[1:n-1] with syms[2:n], explode, weighted count.  One
    map-side-combinable shuffle over the vocab table."""
    n1 = F.size("syms") - 1
    prs = F.zip_with(
        F.slice("syms", 1, n1),
        F.slice("syms", 2, n1),
        lambda a, b: F.struct(a.alias("lhs"), b.alias("rhs")),
    )
    return (
        rep.select("wn", F.explode(prs).alias("p"))
        .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
        .agg(F.sum("wn").alias("pair_n"))
    )


def apply_merge(syms: Column, lhs: str, rhs: str) -> Column:
    """Greedy left-to-right single-pass merge of adjacent (lhs, rhs) into
    lhs||rhs — a codegen fold: append each symbol unless the accumulator
    tail is exactly ``lhs`` and the symbol is ``rhs``, in which case the
    tail is replaced by the merged symbol.  The merged symbol differs
    from ``lhs`` (rhs is non-empty), so a pass never re-merges its own
    output — the reference BPE greedy semantics."""
    merged = F.lit(lhs + rhs)
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.try_element_at(acc, F.lit(-1)) == F.lit(lhs)) & (x == F.lit(rhs)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_learn(
    spark: SparkSession, words: DataFrame, rounds: int = 6
) -> tuple[DataFrame, DataFrame]:
    """Learn ``rounds`` BPE merges from a (word, wn) word-frequency table.

    Returns ``(merges, rep)``: the merge table (round, lhs, rhs, merged,
    pair_n — built from the per-round 1-row collects, control-plane data)
    and the final word representations (word, wn, syms) under all merges
    — the word column rides through so callers can tokenize documents
    against the learned vocab (x_bpe_tokenize).
    Raises if the vocabulary runs out of adjacent pairs before the round
    budget — a corpus degenerate enough to exhaust pairs needs an explicit
    caller decision, not a silently shorter vocab.
    """
    rep = words.select(
        F.col("word").alias("word"),
        F.col("wn").cast("bigint").alias("wn"),
        chars_of(F.col("word")).alias("syms"),
    )
    merges: list[tuple[int, str, str, str, int]] = []
    for r in range(1, rounds + 1):
        top = (
            pair_counts(rep)
            .orderBy(F.col("pair_n").desc(), F.col("lhs").asc(), F.col("rhs").asc())
            .limit(1)
            .collect()
        )
        if not top:
            raise RuntimeError(
                f"BPE pair statistics exhausted at round {r}/{rounds}: "
                "every word is a single symbol; lower `rounds`."
            )
        b = top[0]
        merges.append((r, b["lhs"], b["rhs"], b["lhs"] + b["rhs"], b["pair_n"]))
        rep = stored(rep.select(
            "word", "wn",
            apply_merge(F.col("syms"), b["lhs"], b["rhs"]).alias("syms"),
        ))
    mdf = spark.createDataFrame(
        merges, "round int, lhs string, rhs string, merged string, pair_n bigint"
    )
    return mdf, rep
