#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Execution is forced with the ``noop`` sink (full pipeline runs, rows are
materialized executor-side, nothing is collected to the driver) — the same
way Spark's own benchmark suites measure query time without sink cost.

The headline set spans every tier of SURVEY.md §2: the reference's ETL hot
path (flatten/geocode/partition), the relational Tier B surface (agg, join,
window, top-k, subquery), and the Tier C LLM-pipeline operators (dedup
family, similarity search, text analysis, sessionization).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = [
    # reference ETL hot path (Tier A)
    "op_flatten_soh",
    "op_geocode_join",
    "op_event_partition",
    # relational surface (Tier B)
    "q_agg_basic",
    "q_agg_rollup",
    "q_agg_grouping_sets",
    "q_pivot",
    "q_join_inner",
    "q_join_asof",
    "q_win_rank",
    "q_win_rolling",
    "q_topk",
    "q_subquery",
    "q_fn_haversine",
    "q_trajectory",
    # LLM-pipeline extensions (Tier C)
    "x_dedup_exact",
    "x_dedup_near",
    "x_dedup_simhash",
    "x_sim_topk",
    "x_sim_ivf",
    "x_sim_lsh",
    "x_text_tf",
    "x_text_tfidf",
    "x_text_quality",
    "x_text_curate",
    "x_session",
    # dataset-curation family (Tier C7)
    "x_decontaminate",
    "x_pack_sequences",
    "x_domain_quota",
    # round-2 additions: clustering, model scoring, dim reduction,
    # cross-corpus fuzzy decontamination (broadcast MinHash path)
    "x_kmeans_iter",
    "x_quality_model",
    "x_embed_reduce",
    "x_decontaminate_near",
    "x_multimodal_decode",
    # round-3 Tier D analytics: event funnel/retention/gap-fill/SCD2,
    # BM25 lexical ranking, quality-aware near-dup collapse
    "q_funnel",
    "q_retention",
    "q_gapfill",
    "x_scd2",
    "x_bm25",
    "x_dedup_best",
    "q_merge",
    "q_pattern_match",
    "q_agg_approx_quantile",
    "x_surprisal",
    "x_zorder",
    "x_ann_recall",
    "x_pagerank",
    "q_fn_variant",
    "x_data_checks",
    "x_dedup_url",
    "q_histogram",
    "q_join_asof_near",
    # round-4: guarded scale-mode dedup twins (production guard-on path)
    "x_dedup_best_guarded",
    "x_dedup_cluster_guarded",
    # round-4: Tier E analytics
    "q_triangle_count",
    "x_outlier_mad",
    "q_ts_downsample",
    "x_sample_weighted",
    "x_decontaminate_bloom",
    "x_dedup_semantic",
    "x_dedup_lev",
    "x_sample_stratified",
    "x_winsorize",
    "x_dedup_containment",
    "x_drift_psi",
    "x_dedup_containment_guarded",
    # round-5: production SemDeDup (k ∝ n centroids + max_cell guard)
    "x_dedup_semantic_guarded",
    # round-5: Tier F training-data curation extensions
    "x_novelty",
    "x_hard_negatives",
    "x_lpa",
    "x_dedup_substring",
    "x_dedup_substring_guarded",
    "x_data_temperature",
    "x_dsir",
    "x_label_noise",
    # round-5 second wave (Tier G): quantized embedding storage/search,
    # lexical statistics, minhash estimator audit
    "x_embed_quantize",
    "x_sim_quantized",
    "x_token_entropy",
    "x_pmi_collocations",
    "x_lm_bigram",
    "x_minhash_calibration",
    # round-5 batch 2: hybrid retrieval fusion, cross-domain score
    # normalization, dedup census + split-leakage audits
    "x_rank_fusion",
    "x_percentile_norm",
    "x_dedup_census",
    "x_split_leakage",
    # round-5 batch 3: cluster-aware splitting (the leakage fix),
    # keyword extraction, metadata QA, embedding-store QA
    "x_split_cluster_safe",
    "x_keywords_tfidf",
    "x_lang_mismatch",
    "x_embed_norms",
    # round-6: composed curation pipeline, hub-guarded graph twins,
    # two-level IVF (shuffle-join centroid path)
    "x_curate_corpus",
    "q_triangle_count_guarded",
    "x_pagerank_guarded",
    "x_lpa_guarded",
    "x_sim_ivf_2level",
    "x_dedup_cluster_star",
    "x_sim_ivf_2level_exact",
    "x_curriculum_shards",
    # round-5 batch 4: corpus-version diff audit, per-source KL divergence
    "x_dataset_diff",
    "x_source_kl",
    # round-7 Tier I: PQ vector storage + ADC recall, count-min heavy
    # hitters, BPE vocabulary learning, zero-norm guard adjudication
    "x_embed_pq",
    "x_sim_pq",
    "x_heavy_hitters",
    "x_vocab_bpe",
    "x_sim_zero_norm",
    "x_bpe_tokenize",
    "x_sim_ivfpq",
    "x_linreg_gd",
    # round-7 Tier J: k-core peel, prefix-filter exact set join, HLL
    # sketch rollup, per-epoch training shuffle
    "x_kcore",
    "x_jaccard_prefix",
    "x_hll_union",
    "x_shuffle_epoch",
    "x_block_sorted",
    "x_feature_mi",
    "x_scorer_spearman",
    "x_join_card",
    "x_f2_countsketch",
    # round-7 third wave (Tier K)
    "x_ewma_anomaly",
    "x_agg_salted",
    "x_hll_intersect",
    "x_link_adamic",
    "x_ttest_welch",
    "x_srm_chisq",
    "x_bootstrap_ci",
    "x_seq_transitions",
    "x_cuped",
    "x_mmr_diversify",
    "x_skyline",
    "x_geo_nearest",
    "x_abtest_mde",
    "x_k_anonymity",
    "x_calibration",
    "x_cusum_changepoint",
    "x_forecast_mase",
    "x_gini_concentration",
    # round-8: theta/KMV sketch intersection (intersection-relative bound)
    # + deterministic-Laplace DP count release
    "x_theta_intersect",
    "x_dp_counts",
    # round-8 Tier L: Benford audit, daily-series ACF, l-diversity,
    # a-priori basket rules, seasonal-strength decomposition
    "x_benford",
    "x_autocorr",
    "x_l_diversity",
    "x_basket_rules",
    "x_seasonality_strength",
    # round-8 Tier L wave 2: customer analytics + supervised data prep
    "x_rfm",
    "x_cohort_ltv",
    "x_target_encoding",
    # round-8 Tier L wave 3: engagement rollups, sequential testing, geo grid
    "x_active_users",
    "x_sprt",
    "x_geo_grid",
    # round-8 Tier L wave 4: exact two-sample KS distribution test
    "x_ks_test",
    # round-8 Tier L wave 4b: split-conformal coverage audit
    "x_conformal",
    # round-9: mergeable per-day HLL sketch store for DAU/WAU/MAU
    "x_active_users_hll",
    # round-9 Tier M: nonparametric / causal / survival / association stats
    # + scorer evaluation
    "x_mann_whitney",
    "x_diff_in_diff",
    "x_survival",
    "x_cramers_v",
    "x_auc",
    "x_gains_lift",
    # round-9: representative-collapsed SimHash (the clique-safe scale shape)
    "x_dedup_simhash_rep",
]

# The similarity/hashing family regressed 31-62% in BENCH_r03 on identical
# plans (VERDICT r3 "Next round" #2) — run these at min-of-3 instead of
# min-of-2 so one contended run can't set the reported number.  Round 6
# adds the heavy dedup/CC end-to-end keys: they top every run's table and
# showed the widest same-day spread under host contention (SCALE.md §7e),
# so a single contended sample distorts the round-over-round diff most.
EXTRA_RUN_KEYS = {
    # round-9 (VERDICT r8 #6): the r8 driver top-10 showed ±45% 2-run
    # swings on keys whose code didn't change — x_dedup_best 4.7→6.8,
    # x_kcore's r7/r8 driver rows inverted its local trend, x_pagerank
    # 5.6 s with the same graph.py since r6.  Min-of-3 them so driver
    # cross-round diffs stop manufacturing phantom regressions.
    "x_dedup_best",
    "x_kcore",
    "x_pagerank",
    "x_sim_topk",
    "x_sim_ivf",
    "x_sim_lsh",
    "x_dedup_simhash",
    "x_embed_reduce",
    "x_domain_quota",
    "q_triangle_count",
    "x_dedup_best_guarded",
    "x_dedup_census",
    "x_dedup_cluster_star",
    "x_curate_corpus",
    "x_split_cluster_safe",
    "x_lpa",
}

# Tables the headline queries scan — provenance block input.
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _provenance(sf_dir: str, spark) -> dict:
    """Self-describing bench context: input row/byte counts per table plus
    the parallelism knobs — so round-over-round comparisons can rule out
    testdata regeneration and machine-shape drift without guesswork
    (VERDICT r3 'Next round' #8)."""
    import pyarrow.parquet as pq

    def table_meta(path: str) -> dict:
        # driver testdata is one file per table; Spark-written datasets
        # (e.g. tools/make_sfscale.py output) are part-file directories
        if os.path.isdir(path):
            rows = nbytes = 0
            for root, _, files in os.walk(path):
                for fn in files:
                    fp = os.path.join(root, fn)
                    nbytes += os.path.getsize(fp)
                    if fn.endswith(".parquet"):
                        rows += pq.ParquetFile(fp).metadata.num_rows
            return {"rows": rows, "bytes": nbytes}
        return {
            "rows": pq.ParquetFile(path).metadata.num_rows,
            "bytes": os.path.getsize(path),
        }

    tables = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        tables[name] = table_meta(path)
    # Host job-dispatch latency (the mean of 30 one-task
    # range(0, 1, 1, 1).count() round trips, the same loop as perfbench's
    # host.dispatch_ms_pre/post), measured AFTER the timing loops: the
    # round-10/11 bench investigation showed job-count-heavy iterative
    # keys amplify host dispatch-latency shifts 1.5-2.5x while scan-bound
    # keys don't move, so a cross-round total diff is uninterpretable
    # without this number in the SAME record (SCALE.md 7q).  numPartitions=1 EXPLICIT: bare
    # range(1) is a 32-task job at local[32] (ADVICE r11; BENCH_r11's
    # 93.2 ms was that 32-task form, not a one-task round trip).
    return {
        "tables": tables,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "runs_per_query": {"default": 2, "extra": sorted(EXTRA_RUN_KEYS)},
        "job_dispatch_ms": _dispatch_probe(spark),
    }


def _dispatch_probe(spark) -> float:
    t0 = time.perf_counter()
    for _ in range(30):
        spark.range(0, 1, 1, 1).count()
    return round((time.perf_counter() - t0) / 30 * 1000, 1)


def _codegen_compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far (Spark's
    CodegenMetrics); a cache hit compiles nothing."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def main() -> int:
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.session import get_spark
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.storage import (
        release_scope,
    )
    import __spark_entry__ as entrymod

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    missing = [k for k in HEADLINE if k not in qs]
    if missing:
        # fail loudly: a silently shrunken headline set would read as a
        # bogus speedup in round-over-round comparisons
        raise SystemExit(f"HEADLINE keys missing from queries(): {missing}")
    keys = list(HEADLINE)
    # ad-hoc subset runs (scaling experiments): comma-separated key list;
    # the driver never sets this, so round-over-round numbers stay full.
    subset = os.environ.get("SPARK_GRAFT_KEYS")
    if subset:
        keys = [k.strip() for k in subset.split(",") if k.strip()]
        bad = [k for k in keys if k not in qs]
        if bad:
            raise SystemExit(f"SPARK_GRAFT_KEYS not in queries(): {bad}")

    # JVM/codegen warmup on a genuinely tiny job so no headline key gets
    # an extra warm run the others don't.
    from pyspark.sql import functions as F

    spark.range(100_000).groupBy(F.col("id") % 10).count().write.format(
        "noop"
    ).mode("overwrite").save()

    # Dispatch probe BEFORE the timing loops as well as after (provenance):
    # the r12 driver record's lone regression (q_triangle_count 8.6→12.0 s
    # on bit-identical code) could not be adjudicated because the post-run
    # probe read healthy — a transient during the early keys was invisible.
    # Bracketing each record (pre + post) bounds when contention could have
    # occurred (VERDICT r12 #3).
    dispatch_pre_ms = _dispatch_probe(spark)

    # Two runs per query, report the min: steady-state time (first run pays
    # one-off plan compilation + file-index warmup; the reference pipeline's
    # per-record Lambda has no such cold cost to compare against) and ~20%
    # run-to-run machine noise is damped.
    # Codegen compilations are counted around each key's LAST run: a warm
    # run that still compiles means the codegen cache evicted the key's
    # classes (it is sized to the working set in session.get_spark).
    # Each run frees the blocks it stored when it ends, so no key runs
    # beside an earlier key's stored frames; the unpersist at scope exit
    # falls outside the timed region.
    timings: dict[str, float] = {}
    warm_compiles: dict[str, int] = {}
    loop_compiles = _codegen_compiles(spark)
    for key in keys:
        best = float("inf")
        for _ in range(3 if key in EXTRA_RUN_KEYS else 2):
            before = _codegen_compiles(spark)
            with release_scope():
                t0 = time.perf_counter()
                qs[key](spark, SF_DIR).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
        timings[key] = round(best, 3)
        if n := _codegen_compiles(spark) - before:
            warm_compiles[key] = n
    loop_compiles = _codegen_compiles(spark) - loop_compiles

    total = round(sum(timings.values()), 3)
    sf = _sf_from_dir(SF_DIR)
    record = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    # Once-per-round coverage for the NON-headline keys (VERDICT r10 #6):
    # they are excluded from HEADLINE because they are cheap, which also
    # made a regression there invisible to the bench series.  min-of-1
    # (they are not trended run-over-run, just bounded), opt-in via env
    # so the driver's headline-total series stays comparable; the
    # builder's BENCH_LOCAL_r{N}.json record sets it.
    if not subset and os.environ.get("SPARK_GRAFT_NON_HEADLINE"):
        nh_timings: dict[str, float] = {}
        for key in qs:
            if key in timings:
                continue
            with release_scope():
                t0 = time.perf_counter()
                qs[key](spark, SF_DIR).write.format("noop").mode("overwrite").save()
                nh_timings[key] = round(time.perf_counter() - t0, 3)
        record["non_headline"] = nh_timings
        record["non_headline_total"] = round(sum(nh_timings.values()), 3)
    record["codegen_warm_compiles"] = warm_compiles
    # provenance LAST so its dispatch-latency probe postdates every
    # timing loop above, including the opt-in non-headline pass; together
    # with the pre-loop probe the record brackets its own run.
    record["provenance"] = _provenance(SF_DIR, spark)
    record["provenance"]["job_dispatch_ms_pre"] = dispatch_pre_ms
    record["provenance"]["codegen"] = {"compiles": loop_compiles}
    full_line = json.dumps(record)
    print(full_line)
    # Also persist the full record beside the repo: the driver's BENCH
    # artifact truncates its stdout tail to ~2 KB, so cross-round
    # per-key diffs otherwise depend on session-local captures (a
    # standing VERDICT r5/r6 nit).  Overwritten per run; committed when
    # a round's record is worth keeping (BENCH_LOCAL_r{N}.json).
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_LOCAL.json"), "w") as fh:
            fh.write(full_line + "\n")
    except OSError:
        pass  # read-only checkout: stdout remains the artifact
    # The full line above outgrew the driver's stdout tail capture in
    # round 4 (66 timings + provenance → the captured tail started
    # mid-line and parsed as null).  Emit a LAST, sub-1KB compact line —
    # headline number, query count, and the top-10 slowest timings — so
    # the artifact is parseable from any tail window; the full line
    # remains first for humans and for captures wide enough to hold it.
    top10 = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_time",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "queries": top10,
                "sf": sf,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
