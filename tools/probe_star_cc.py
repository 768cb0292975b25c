#!/usr/bin/env python
"""Star-vs-plain connected-components probe at sf1 over a DEDUP-SHAPED
pair workload (SCALE.md §7i; VERDICT r6 "Next round" #6).

The r6 pytest probe measured star-CC on a synthetic 64-edge chain; this
probe measures it where it would actually run: the pair list comes from
the real guarded MinHash-LSH derivation over the sf1 documents corpus
(near-clique duplicate groups, hot buckets, the lot), with ONE planted
long-diameter component inside — a sliding-window near-dup chain
(window 60 tokens, stride 3 over a dedicated token stream: offset-1
windows have 3-gram Jaccard ≈ 0.90, offset-2 ≈ 0.81, offset-3 ≈ 0.73,
so the 0.8 verify threshold links each doc to its ±1/±2 neighbors and
the component's diameter is ~len/2).  That is exactly the corpus shape
the VERDICT flagged: one viral template mutating slightly as it spreads
(quote chains, boilerplate with injected dates) produces long paths that
plain min-label propagation pays diameter-many shuffles for.

Both variants run on the SAME eagerly-checkpointed pair list (pair
derivation excluded from CC timings) and their labelings are compared
row-wise (must be identical).

Usage: python tools/probe_star_cc.py            # sf1, chain 600
       SF_DIR=.scratch/sf1 CHAIN_LEN=600 python tools/probe_star_cc.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.dedup import (  # noqa: E402
    connected_components,
    connected_components_star,
    minhash_near_dup,
)
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SF_DIR", ".scratch/sf1")
CHAIN_LEN = int(os.environ.get("CHAIN_LEN", "600"))
CHAIN_BASE = 500_000_000  # clear of make_sfscale copy offsets (copy i = i*10M + orig)


def main() -> None:
    spark = get_spark("probe-star-cc")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")

    stream = [f"chainw{i:05d}" for i in range(60 + 3 * (CHAIN_LEN - 1))]
    chain = spark.createDataFrame(
        [
            (CHAIN_BASE + i, " ".join(stream[3 * i : 3 * i + 60]))
            for i in range(CHAIN_LEN)
        ],
        "doc_id long, text string",
    )
    corpus = docs.unionByName(chain)

    t0 = time.time()
    pairs = (
        minhash_near_dup(corpus, max_bucket=100)
        .select("id_a", "id_b")
        .localCheckpoint()  # eager: both CC runs reuse the materialized list
    )
    n_pairs = pairs.count()
    n_chain_pairs = pairs.filter(F.col("id_a") >= CHAIN_BASE).count()
    t_pairs = time.time() - t0
    nodes = corpus.select("doc_id").localCheckpoint()
    n_nodes = nodes.count()
    print(
        f"pairs: {n_pairs} total ({n_chain_pairs} in the planted chain) over "
        f"{n_nodes} nodes, derived+checkpointed in {t_pairs:.1f}s"
    )

    def report(name: str, labels, stats: dict, t0: float):
        n = labels.count()
        wall = time.time() - t0
        chain_census = (
            labels.filter(F.col("doc_id") >= CHAIN_BASE)
            .groupBy("cluster_id")
            .count()
        ).collect()
        print(
            f"{name}: rounds={stats['rounds']} converged={stats['converged']} "
            f"wall={wall:.1f}s labels={n} "
            f"chain components={len(chain_census)} "
            f"largest={max(r['count'] for r in chain_census)}"
        )
        return labels

    stats: dict = {}
    t0 = time.time()
    star = connected_components_star(pairs, nodes, max_iters=60, stats=stats)
    star = report("star", star.localCheckpoint(), stats, t0)
    stats = {}
    t0 = time.time()
    plain = connected_components(pairs, nodes, max_iters=CHAIN_LEN + 50, stats=stats)
    plain = report("plain", plain.localCheckpoint(), stats, t0)

    diff = (
        star
        .withColumnRenamed("cluster_id", "a")
        .join(plain.withColumnRenamed("cluster_id", "b"), "doc_id")
        .filter(F.col("a") != F.col("b"))
        .count()
    )
    print(f"labeling disagreement rows: {diff}")
    assert diff == 0, "star and plain CC labelings diverged"


if __name__ == "__main__":
    main()
