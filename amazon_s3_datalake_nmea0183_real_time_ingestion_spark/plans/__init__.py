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
#   1. the keys whose own code stopped passing a parameter that now
#      lives in one module constant shared with their oracle;
#   2. the previous window's names past its 50-key cut, in their order;
#   3. the previous window's first 50 names, in their order.
_NEEDS_VERDICT = [
    # own code dropped an argument at its default (slots 1-2)
    "x_shuffle_epoch", "x_link_adamic",
    # the previous window's names past its cut (slots 3-40): the
    # keys whose executed join strategy or build side changed without a
    # forced hint, x_kcore, the carried dedup/graph block, then the r11
    # rotation
    "x_kcore", "x_bm25", "x_rank_fusion", "x_split_cluster_safe",
    "q_triangle_count_guarded", "x_lpa_guarded", "x_dedup_cluster",
    "x_dedup_cluster_guarded", "x_dedup_cluster_star", "x_dedup_census",
    "x_split_leakage", "x_dedup_best", "x_dedup_best_guarded",
    "x_dedup_containment", "x_dedup_containment_guarded",
    "q_triangle_count", "x_dedup_ledger_near", "x_lpa", "x_bpe_tokenize",
    "x_vocab_bpe", "x_active_users_hll", "x_mmr_diversify", "q_retention",
    "q_gapfill", "x_scd2", "x_surprisal", "x_zorder", "q_merge",
    "q_pattern_match", "q_agg_approx_quantile", "q_fn_variant",
    "x_data_checks", "x_dedup_url", "q_histogram", "q_join_asof_near",
    "q_fn_haversine", "q_fn_array", "q_fn_json",
    # the previous window's first 50 (slots 41-89; the 50-key cut falls
    # after x_decontaminate): parameter drops, one vector kernel per
    # key, the operators/stats.py cores
    "x_dedup_simhash", "x_dedup_ngram", "x_sim_ivf", "x_text_langid",
    "x_text_fingerprint", "x_session", "x_sim_ivf2", "x_sim_lsh",
    "x_pack_sequences", "x_decontaminate", "x_decontaminate_near",
    "x_pagerank", "x_ann_recall", "x_decontaminate_bloom",
    "x_dedup_semantic_guarded", "x_dedup_lev", "x_novelty",
    "x_dedup_substring", "x_dedup_substring_guarded",
    "x_minhash_calibration", "x_lang_mismatch", "x_curate_corpus",
    "x_pagerank_guarded", "x_sim_ivf_2level", "x_sim_ivf_2level_exact",
    "x_heavy_hitters", "x_jaccard_prefix", "x_hll_union", "x_block_sorted",
    "x_agg_salted", "x_hll_intersect", "x_theta_intersect",
    "x_dedup_semantic", "x_embed_pq", "x_sim_pq", "x_sim_ivfpq",
    "op_geocode_join", "x_drift_psi", "x_cusum_changepoint",
    "x_forecast_mase", "x_sprt", "x_mann_whitney", "x_auc", "x_ks_test",
    "x_diff_in_diff", "x_survival", "x_benford", "x_gini_concentration",
    "x_source_kl",
]


def _front_load(priority: list[str]) -> None:
    # ADVICE r11: a typo'd rotation must fail at import, not silently
    # shrink the 50-key adjudication window.  The guards run before any
    # mutation, so a failed rotation leaves REGISTRY untouched; no silent
    # `if k in REGISTRY` filtering remains.
    unknown = [k for k in priority if k not in REGISTRY]
    if unknown:
        raise KeyError(f"_NEEDS_VERDICT names not in REGISTRY: {unknown}")
    if len(set(priority)) != len(priority):
        dupes = sorted({k for k in priority if priority.count(k) > 1})
        raise ValueError(f"duplicate keys in _NEEDS_VERDICT: {dupes}")
    ordered = {k: REGISTRY[k] for k in priority}
    ordered.update({k: q for k, q in REGISTRY.items() if k not in ordered})
    REGISTRY.clear()
    REGISTRY.update(ordered)


_front_load(_NEEDS_VERDICT)
