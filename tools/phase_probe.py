#!/usr/bin/env python
"""Phase-level decomposition timings for the expensive keys (guide §1:
measure first — find WHERE inside a hot key the time goes before touching
it).  Each phase is timed with the noop sink, min-of-2, labelled in the UI.

Usage: SF_DIR=/root/testdata/sf0.1 python tools/phase_probe.py <probe> [...]
Probes: dedup_census triangle kcore lpa cluster_star best_guarded
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.1")


def _t(spark, label, df, runs=2):
    best = float("inf")
    for _ in range(runs):
        spark.sparkContext.setJobDescription(label)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    spark.sparkContext.setJobDescription(None)
    print(f"  {label:38} {best:7.2f}s")
    return best


def main() -> int:
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.session import get_spark
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators import dedup as D
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans import tierc, tiere
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans.registry import table

    spark = get_spark("phase-probe")
    spark.sparkContext.setLogLevel("ERROR")
    probes = sys.argv[1:] or ["dedup_census"]

    if "dedup_census" in probes:
        print("x_dedup_census decomposition (guarded ngram path, max_df=10):")
        corpus = tierc._doc_corpus(spark, SF_DIR)
        sh = D.shingle_set(corpus)
        _t(spark, "corpus", corpus)
        _t(spark, "shingle_set", sh)
        pairs_core = D.ngram_intersection_pairs(sh, max_df=10)
        _t(spark, "ngram_intersection_pairs", pairs_core)
        edges = D.ngram_jaccard_pairs(corpus, max_df=10).select(
            "id_a", "id_b"
        )
        _t(spark, "ngram_jaccard_pairs", edges)
        t0 = time.perf_counter()
        labels = D.connected_components(edges, corpus.select("doc_id"))
        print(f"  {'connected_components (eager loop)':38} {time.perf_counter()-t0:7.2f}s")
        _t(spark, "labels->census", labels.groupBy("cluster_id").count(), runs=1)

    if "triangle" in probes:
        print("q_triangle_count decomposition:")
        from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.graph import (
            copurchase_pairs,
        )

        li = table(spark, SF_DIR, "lineitem")
        und = copurchase_pairs(li)
        _t(spark, "copurchase_pairs (und)", und)
        _t(spark, "triangle_top50 total", tiere.triangle_top50(und))

    return 0


if __name__ == "__main__":
    raise SystemExit(main())
