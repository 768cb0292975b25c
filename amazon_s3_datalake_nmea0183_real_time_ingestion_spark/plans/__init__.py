"""Query library — every SURVEY.md §2 engine op key, Spark impl + oracle SQL."""

from .registry import REGISTRY, Query, register  # noqa: F401

# Importing the modules populates REGISTRY.
from . import tierb  # noqa: F401,E402
from . import tiera  # noqa: F401,E402
from . import tierc  # noqa: F401,E402
from . import tierd  # noqa: F401,E402
from . import tiere  # noqa: F401,E402
from . import tierf  # noqa: F401,E402
from . import tierg  # noqa: F401,E402
from . import tierh  # noqa: F401,E402
from . import tieri  # noqa: F401,E402
from . import tierj  # noqa: F401,E402
from . import tierk  # noqa: F401,E402
from . import tierl  # noqa: F401,E402
from . import tierm  # noqa: F401,E402

# The driver adjudicates queries() in dict-insertion order and caps at 50
# keys per round.  This window front-loads, in this order:
#   1. the keys whose statistic moved into a shared core in
#      operators/stats.py (one implementation with the maintenance
#      monitors);
#   2. the keys whose executed join strategy changed when the forced join
#      hints went (event-log comparison of every SQL execution per key,
#      sf0.01 and sf0.1);
#   3. x_curate_corpus (lost two options) and x_kcore (its broadcast
#      gate was removed, measured and restored);
#   4. the keys where only a join's build side flipped;
#   5. the previous window, in its order, up to the 50-key cut.
_NEEDS_VERDICT = [
    # own code now calls one vector kernel directly (SemDeDup takes an
    # assignment frame, PQ always encodes through pq_encode_blas) or
    # builds the geo dimension with one selectExpr (slots 1-6)
    "x_dedup_semantic", "x_dedup_semantic_guarded", "x_embed_pq",
    "x_sim_pq", "x_sim_ivfpq", "op_geocode_join",
    # statistic now computed by an operators/stats.py core (slots 7-18)
    "x_drift_psi", "x_cusum_changepoint", "x_forecast_mase", "x_sprt",
    "x_mann_whitney", "x_auc", "x_ks_test", "x_diff_in_diff", "x_survival",
    "x_benford", "x_gini_concentration", "x_source_kl",
    # executed join strategy changed without its forced hint (slot 19)
    "x_sim_ivf_2level",
    # their own code lost an option / was measured for the hint rule
    # (slots 20-21)
    "x_curate_corpus", "x_kcore",
    # only a join build side flipped (slots 22-25)
    "x_bm25", "x_rank_fusion", "x_sim_ivf_2level_exact",
    "x_split_cluster_safe",
    # carried from the previous window, in its order (slots 26-50)
    "q_triangle_count_guarded", "x_pagerank_guarded", "x_lpa_guarded",
    "x_dedup_cluster", "x_dedup_cluster_guarded", "x_dedup_cluster_star",
    "x_dedup_census", "x_split_leakage", "x_dedup_best",
    "x_dedup_best_guarded", "x_dedup_ngram", "x_dedup_containment",
    "x_dedup_containment_guarded", "x_dedup_simhash", "x_pagerank",
    "q_triangle_count", "x_dedup_ledger_near", "x_lpa", "x_link_adamic",
    "x_bpe_tokenize", "x_vocab_bpe",
    "x_hll_intersect", "x_theta_intersect", "x_active_users_hll",
    "x_mmr_diversify",
    # --- cut line (50) --- the carried names below open the next
    # window, then q_subquery, the rest of the r12 block and the
    # r10/r11 names displaced earlier (x_text_repetition,
    # x_embed_quantize, x_lm_bigram, ...).
    "q_retention", "q_gapfill", "x_scd2", "x_surprisal", "x_zorder",
    "q_merge", "q_pattern_match", "q_agg_approx_quantile",
    "x_ann_recall", "q_fn_variant", "x_data_checks", "x_dedup_url",
    "q_histogram", "q_join_asof_near", "q_fn_haversine", "q_fn_array",
    "q_fn_json",
]


# Redundant probe-knob variants that should never displace a distinct
# operator: none currently.  (x_sim_ivf2 got its fresh driver row in r5
# and now sits in the unordered middle of the registry with the other
# current keys — no explicit ordering needed.)
_BACK: list[str] = []


def _front_load(priority: list[str], back: list[str]) -> None:
    # ADVICE r11: a typo'd rotation must fail at import, not silently
    # shrink the 50-key adjudication window.  The guards validate BOTH
    # lists (and their union — a key can't be front- and back-loaded)
    # and run before any mutation, so a failed rotation leaves REGISTRY
    # untouched; no silent `if k in REGISTRY` filtering remains.
    combined = priority + back
    unknown = [k for k in combined if k not in REGISTRY]
    if unknown:
        raise KeyError(f"_NEEDS_VERDICT/_BACK names not in REGISTRY: {unknown}")
    if len(set(combined)) != len(combined):
        dupes = sorted({k for k in combined if combined.count(k) > 1})
        raise ValueError(f"duplicate keys across _NEEDS_VERDICT/_BACK: {dupes}")
    ordered = {k: REGISTRY[k] for k in priority}
    ordered.update(
        {k: q for k, q in REGISTRY.items() if k not in ordered and k not in back}
    )
    ordered.update({k: REGISTRY[k] for k in back})
    REGISTRY.clear()
    REGISTRY.update(ordered)


_front_load(_NEEDS_VERDICT, _BACK)
