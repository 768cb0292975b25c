"""Tier K — round-7 third wave, fifteen keys in five families:

- monitoring: EWMA anomaly detection (`x_ewma_anomaly`, the
  partition-local streaming-shaped monitor next to x_outlier_mad's
  global robust screen),
  bounded-radius nearest-station geo join (`x_geo_nearest`);
- skew / sketch infrastructure: salted exact distinct count
  (`x_agg_salted`, adjudicating operators/skew.py), HLL
  inclusion–exclusion intersection (`x_hll_intersect`, the
  audience-overlap estimate x_hll_union's rollup cannot answer alone)
  and the theta/KMV intersection (`x_theta_intersect`, whose error
  scales with the intersection rather than the union);
- graph: Adamic–Adar link prediction over the support-thresholded
  co-purchase affinity graph (`x_link_adamic` — "which links are
  MISSING", completing CC/PageRank/LPA/triangles/k-core);
- experiment analysis: Welch t-test (`x_ttest_welch`), SRM chi-square
  (`x_srm_chisq`), deterministic Poisson-bootstrap CI
  (`x_bootstrap_ci`), CUPED variance reduction (`x_cuped`), minimum
  detectable effect (`x_abtest_mde`) — adjudicate, gate, bound,
  shrink, size;
- curation / eval-ops: first-order transition lift
  (`x_seq_transitions`), MMR diversity re-ranking (`x_mmr_diversify`),
  skyline Pareto front (`x_skyline`), k-anonymity audit
  (`x_k_anonymity`), calibration reliability + ECE (`x_calibration`).

Every key follows the registry's cross-engine hash rules (registry.py
docstring).  Several additionally rely on a stronger property the
registry only implies: an arithmetic expression built from the SAME
literal text over the SAME float64 inputs — only +, *, /, coalesce and
CASE, association order fixed by a shared fragment — is bit-identical
across engines, because IEEE 754 fully specifies those operations.
Such fragments (EWMA weights, SRM chi2, haversine, bootstrap weights)
are generated once and embedded verbatim in BOTH the Spark plan and the
DuckDB oracle; float literals always go through repr() (1.0 − 0.7 is
0.30000000000000004, never "0.3").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.dedup import shingle_set
from ..operators.graph import AFFINITY_MIN_SUPPORT, adamic_adar, copurchase_affinity
from ..operators.skew import salted_exact_distinct_count
from ..operators.stats import cusum, gini, mase
from ..storage import stored
from .registry import register, table

# ---------------------------------------------------------------------------
# EWMA anomaly detection — shared arithmetic fragment
# ---------------------------------------------------------------------------

_EWMA_BETA = 0.7  # decay (1 - alpha); alpha cancels under normalization
_EWMA_K = 8  # history depth: lags 1..8 (EWMA of HISTORY, excluding current)

# repr() round-trips each weight to the exact float64 both engines parse.
_EWMA_W = [repr(_EWMA_BETA ** j) for j in range(_EWMA_K)]
_EWMA_NUM = " + ".join(
    f"coalesce(__lag{j + 1} * {w}, 0.0)" for j, w in enumerate(_EWMA_W)
)
_EWMA_DEN = " + ".join(
    f"(CASE WHEN __lag{j + 1} IS NOT NULL THEN {w} ELSE 0.0 END)"
    for j, w in enumerate(_EWMA_W)
)
_EWMA_ORACLE_LAGS = ",\n             ".join(
    f"lag(value, {j}) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
    f" AS __lag{j}"
    for j in range(1, _EWMA_K + 1)
)


@register(
    "x_ewma_anomaly",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_id, ts, value,
             {_EWMA_ORACLE_LAGS}
      FROM events WHERE value IS NOT NULL),
    scored AS (
      SELECT user_id, event_id, ts, value,
             ({_EWMA_NUM}) / ({_EWMA_DEN}) AS __ewma,
             value - ({_EWMA_NUM}) / ({_EWMA_DEN}) AS __resid
      FROM ev WHERE __lag1 IS NOT NULL)
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(event_id AS BIGINT) AS event_id,
           CAST(ts AS DATE) AS day,
           round(value, 4) AS val_r,
           round(__ewma, 4) AS ewma_r,
           round(__resid, 4) AS resid_r
    FROM scored
    ORDER BY round(abs(__resid), 6) DESC, user_id, event_id
    LIMIT 50
    """,
)
def x_ewma_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    """Top-50 per-event anomalies by residual against a per-user EWMA of
    the preceding K=8 values (exponentially weighted moving average,
    Roberts, Technometrics '59 — the EWMA control chart): for each event,
    ewma = sum_j beta^(j-1) * lag_j / sum_j beta^(j-1) over the available
    history (weights renormalized at the partition head, so early events
    are judged against however much history exists), residual = value -
    ewma, ranked by |residual|.  The monitoring row for a metered stream:
    "which readings broke hardest from their own device's recent level."

    Cross-engine contract: the EWMA arithmetic is ONE module-level
    fragment embedded verbatim in both plans — only +, *, /, coalesce,
    CASE over lag columns and repr()-round-tripped literals, so IEEE 754
    makes the residual bit-identical across engines and the top-50 cut
    (ordered by round(|resid|, 6) with (user_id, event_id) tie-break) is
    stable by construction, not by luck.

    Scale: ONE shuffle (hash on user_id); the 8 lags, the weighted sum
    and the residual all ride that single window sort in whole-stage
    codegen; the global top-50 is TakeOrderedAndProject (per-partition
    heaps, no global sort materialization).  Streaming twin: the same
    renormalized-window formula is expressible per-device in
    applyInPandasWithState with an 8-value ring buffer as state.
    """
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    ev = (
        table(spark, sf, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            "event_id",
            "ts",
            "value",
            *[
                F.lag("value", j).over(w).alias(f"__lag{j}")
                for j in range(1, _EWMA_K + 1)
            ],
        )
        .filter(F.col("__lag1").isNotNull())
    )
    scored = ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.expr(f"({_EWMA_NUM}) / ({_EWMA_DEN})").alias("__ewma"),
        F.expr(f"value - ({_EWMA_NUM}) / ({_EWMA_DEN})").alias("__resid"),
    )
    return (
        scored.orderBy(
            F.expr("round(abs(__resid), 6)").desc(),
            F.col("user_id").asc(),
            F.col("event_id").asc(),
        )
        .limit(50)
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.col("event_id").cast("bigint").alias("event_id"),
            F.col("ts").cast("date").alias("day"),
            F.round("value", 4).alias("val_r"),
            F.round("__ewma", 4).alias("ewma_r"),
            F.round("__resid", 4).alias("resid_r"),
        )
    )


# ---------------------------------------------------------------------------
# salted exact distinct count — skew.py adjudication
# ---------------------------------------------------------------------------


@register(
    "x_agg_salted",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
    """,
)
def x_agg_salted(spark: SparkSession, sf: str) -> DataFrame:
    """Exact COUNT(DISTINCT user_id) per event_type via the TWO-PHASE
    SALTED rewrite (operators/skew.py::salted_exact_distinct_count),
    adjudicated against the plain GROUP BY the oracle runs.  event_type
    has FIVE values over the whole corpus — every key is a hot key by
    construction, the exact shape where a naive count-distinct funnels
    20 % of the table through one reducer.  The salted plan dedupes
    (key, salt=xxhash64(user_id) % 16) shards first — each hot key's
    distinct set spreads over 16 reducers — then sums disjoint shard
    counts; disjointness is guaranteed because the salt is a pure
    function of the counted value, which is what makes the two-phase
    count EXACT rather than approximate.

    Scale: phase 1 is a map-side-combinable distinct on (key, salt,
    value) — partial state bounded per partition; phase 2 shuffles 16
    rows per key.  At 100 TB this is the difference between a reducer
    holding one hot key's entire distinct set in memory and never
    materializing more than 1/16th of it anywhere.  (Spark's own
    distinct-agg expand rewrite solves the same problem for built-in
    count_distinct; the salted form is the explicit, composable version
    that also carries collect_set/collect_list, which have no such
    rewrite — skew.py::salted_collect_set.)
    """
    ev = table(spark, sf, "events")
    n_users = salted_exact_distinct_count(
        ev, ["event_type"], "user_id", out_col="n_users"
    )
    n_events = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events")
    )
    return n_users.join(n_events, "event_type").select(
        "event_type", F.col("n_users").cast("bigint").alias("n_users"), "n_events"
    )


# ---------------------------------------------------------------------------
# HLL inclusion–exclusion intersection
# ---------------------------------------------------------------------------

_HLL_SOURCES = ("src0", "src1", "src2")
_HLL_IE_TOL = 0.06  # |est_inter - exact_inter| <= tol * exact_union


@register(
    "x_hll_intersect",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, text, source FROM documents
      WHERE source IN {_HLL_SOURCES!r}),
    tl AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '[[:space:]]+'),
                         x -> x <> '') AS t
      FROM d),
    shs AS (
      SELECT DISTINCT source, shingle FROM (
        SELECT source,
               unnest([array_to_string(t[i:i+2], ' ')
                       for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS shingle
        FROM tl)),
    sz AS (SELECT source, count(*) AS n FROM shs GROUP BY source),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_inter
      FROM shs a JOIN shs b
        ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY 1, 2)
    SELECT src_a, src_b,
           CAST(n_inter AS BIGINT) AS exact_inter,
           CAST(za.n + zb.n - n_inter AS BIGINT) AS exact_union,
           1 AS ie_ok
    FROM inter
    JOIN sz za ON za.source = src_a
    JOIN sz zb ON zb.source = src_b
    """,
)
def x_hll_intersect(spark: SparkSession, sf: str) -> DataFrame:
    """Set-INTERSECTION estimation from HyperLogLog sketches by
    inclusion–exclusion, |A∩B| ≈ est(A) + est(B) − est(A∪B), over the
    distinct-3-shingle sets of three document sources — the
    cross-source-contamination overlap x_hll_union's union rollup cannot
    answer alone.  Each pairwise estimate is adjudicated against the
    exact intersection within ±6 % OF THE UNION cardinality.

    The union-relative tolerance is the honest bound and the documented
    limitation of I–E on HLL (and why theta sketches exist — Dasgupta et
    al., the DataSketches set-operations line; x_theta_intersect is that
    sketch, with an intersection-relative bound): each of est(A), est(B),
    est(A∪B) carries ~1.6 % stderr at lgK=12 proportional to ITS OWN
    cardinality, so the subtraction's error scales with |A∪B|, not
    |A∩B| — on a small overlap of big sets the relative-to-intersection
    error is unbounded.  Measured worst |err|/union across both SFs and
    all three pairs: 1.7 % (sf0.01 intersections ~70 of unions ~2.7k;
    sf0.1 ~4k of ~16.6k), so 6 % keeps a 3.5× margin.  The oracle
    replays the exact counts and the always-passing verdict; a broken
    sketch pipeline (wrong lgK, union of incompatible sketches, dropped
    partials) flips ie_ok and fails the hash.

    Scale: per-source sketches are map-side-combinable 4 KB states; the
    pairwise stage self-joins THREE sketch rows (binary hll_union — no
    rescan of the data); exact counts appear only as the adjudication
    side.  At 100 TB the pattern is per-partition sketches persisted
    next to the data, pairwise overlap answered from the sketch store
    alone.
    """
    d = table(spark, sf, "documents").filter(F.col("source").isin(*_HLL_SOURCES))
    sh = stored(
        shingle_set(d, 3)
        .join(d.select("doc_id", "source"), "doc_id")
        .select("source", "shingle")
        .distinct()
    )
    per = sh.groupBy("source").agg(
        F.hll_sketch_agg("shingle", F.lit(12)).alias("sk"),
        F.count_distinct("shingle").alias("nx"),
    )
    a = per.select(
        F.col("source").alias("src_a"), F.col("sk").alias("ska"),
        F.col("nx").alias("na"),
    )
    b = per.select(
        F.col("source").alias("src_b"), F.col("sk").alias("skb"),
        F.col("nx").alias("nb"),
    )
    est = a.join(b, F.col("src_a") < F.col("src_b")).select(
        "src_a", "src_b", "na", "nb",
        (
            F.hll_sketch_estimate("ska")
            + F.hll_sketch_estimate("skb")
            - F.hll_sketch_estimate(F.expr("hll_union(ska, skb)"))
        ).alias("est_inter"),
    )
    xa, xb = sh.alias("x"), sh.alias("y")
    inter = (
        xa.join(
            xb,
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.source") < F.col("y.source")),
        )
        .groupBy(
            F.col("x.source").alias("src_a"), F.col("y.source").alias("src_b")
        )
        .agg(F.count("*").alias("exact_inter"))
    )
    return (
        est.join(inter, ["src_a", "src_b"])
        .select(
            "src_a",
            "src_b",
            F.col("exact_inter").cast("bigint").alias("exact_inter"),
            (F.col("na") + F.col("nb") - F.col("exact_inter"))
            .cast("bigint")
            .alias("exact_union"),
            (
                F.abs(F.col("est_inter") - F.col("exact_inter"))
                <= F.lit(_HLL_IE_TOL)
                * (F.col("na") + F.col("nb") - F.col("exact_inter"))
            )
            .cast("int")
            .alias("ie_ok"),
        )
    )


# ---------------------------------------------------------------------------
# theta/KMV sketch intersection — error scales with the INTERSECTION
# ---------------------------------------------------------------------------

_THETA_K = 1024  # KMV sample size per source
_THETA_TOL = 0.15  # |est_inter - exact_inter| <= tol * exact_INTER

_THETA_U_SQL = (
    "CAST(('0x' || substr(md5('kmv:' || shingle), 1, 8))::BIGINT AS DOUBLE)"
    " / 4294967296.0"
)


@register(
    "x_theta_intersect",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, text, source FROM documents
      WHERE source IN {_HLL_SOURCES!r}),
    tl AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '[[:space:]]+'),
                         x -> x <> '') AS t
      FROM d),
    shs AS (
      SELECT DISTINCT source, shingle FROM (
        SELECT source,
               unnest([array_to_string(t[i:i+2], ' ')
                       for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS shingle
        FROM tl)),
    h AS (
      SELECT source, shingle, {_THETA_U_SQL} AS u
      FROM shs),
    r AS (
      SELECT source, shingle, u,
             row_number() OVER (PARTITION BY source ORDER BY u, shingle) AS rn,
             count(*) OVER (PARTITION BY source) AS n
      FROM h),
    th AS (
      SELECT source,
             CASE WHEN max(n) >= {_THETA_K}
                  THEN max(CASE WHEN rn = {_THETA_K} THEN u END)
                  ELSE 1.0 END AS theta
      FROM r GROUP BY source),
    samp AS (SELECT source, shingle, u FROM r WHERE rn <= {_THETA_K}),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_samp
      FROM samp a
      JOIN samp b ON a.shingle = b.shingle AND a.source < b.source
      JOIN th ta ON ta.source = a.source
      JOIN th tb ON tb.source = b.source
      WHERE a.u < least(ta.theta, tb.theta)
      GROUP BY 1, 2),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_inter
      FROM shs a JOIN shs b ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY 1, 2)
    SELECT i.src_a, i.src_b,
           CAST(i.n_inter AS BIGINT) AS exact_inter,
           round(CAST(coalesce(p.n_samp, 0) AS DOUBLE)
                 / least(ta.theta, tb.theta), 6) AS est_inter_r,
           round(least(ta.theta, tb.theta), 6) AS theta_r,
           CAST(abs(CAST(coalesce(p.n_samp, 0) AS DOUBLE)
                    / least(ta.theta, tb.theta) - i.n_inter)
                <= {_THETA_TOL!r} * i.n_inter AS INT) AS ok
    FROM inter i
    LEFT JOIN pairs p ON p.src_a = i.src_a AND p.src_b = i.src_b
    JOIN th ta ON ta.source = i.src_a
    JOIN th tb ON tb.source = i.src_b
    """,
)
def x_theta_intersect(spark: SparkSession, sf: str) -> DataFrame:
    """Set-intersection estimation from KMV/theta sketches (Bar-Yossef
    et al. RANDOM '02 k-minimum-values; Dasgupta et al., the Apache
    DataSketches theta set-operations line) over the same per-source
    distinct-3-shingle sets as x_hll_intersect — the sketch that fixes
    HLL inclusion–exclusion's documented weakness: I–E error scales
    with |A∪B|, while the theta intersection keeps the k-smallest-hash
    SAMPLE of each set, intersects the samples below θ = min(θ_A, θ_B),
    and estimates |A∩B| = |sample∩| / θ — error ∝ the intersection
    actually being estimated (rel. stderr ≈ 1/√(θ·|A∩B|)).

    The sketch hash is the repo's deterministic md5 uniform
    ('kmv:'‖shingle → first 8 hex digits / 2³²), so BOTH engines
    materialize the IDENTICAL sample, the identical θ (the k-th
    smallest u, ties broken by shingle; θ = 1.0 for sets smaller than
    k = {_THETA_K}), and the identical estimate — the oracle replays
    the whole estimator bit-for-bit (integer counts + one IEEE
    division), not a tolerance band.  ``ok`` is the self-check a broken
    sketch flips: |est − exact| ≤ {_THETA_TOL} · exact_INTERSECTION —
    intersection-relative, the bound HLL I–E cannot offer (its ±6 % is
    union-relative).  Measured worst |err|/intersection across both SFs
    and all pairs: 4.2 % (sf0.1, est 4175.3 vs exact 4006, θ ≈ 0.097)
    and 3.3 % (sf0.01, θ ≈ 0.70) — a 3.5× margin under the 15 % gate,
    and on the sf0.1 overlaps (~4k of unions ~16.6k) the I–E route's
    union-relative ±6 % would permit ±1k absolute error where this
    bound permits ±600 on the SAME pairs while tightening further as
    overlaps shrink relative to unions.

    Scale: the KMV sample is a bounded k-row state per source — the
    rank filter rn ≤ k is a WindowGroupLimit (per-partition top-k
    heaps before the source-keyed exchange, no full sort
    materialization; row_number is the ONLY window function in that
    select, so the rewrite actually fires — r8 VERDICT #2 — AND
    get_spark raises spark.sql.optimizer.windowGroupLimitThreshold
    above k, because the rule's DEFAULT cap (1000) sits just below
    k = 1024 and silently gated the rewrite; both conditions are pinned
    by test_theta_kmv_rank_filter_compiles_to_window_group_limit), θ
    falls out
    of the kept sample itself (a source keeps exactly k rows iff its
    set has ≥ k members, so θ = max(u) of the sample, else 1.0), and
    the pairwise stage joins three k-row samples; exact counts appear
    only as the adjudication side.  At 100 TB: per-partition KMV partials are
    unionable (keep k smallest of the union) exactly like the HLL
    partials, and overlap queries are answered from the sketch store
    without rescanning the corpus.
    """
    d = table(spark, sf, "documents").filter(F.col("source").isin(*_HLL_SOURCES))
    sh = stored(
        shingle_set(d, 3)
        .join(d.select("doc_id", "source"), "doc_id")
        .select("source", "shingle")
        .distinct()
    )
    h = sh.withColumn(
        "u",
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("kmv:"), F.col("shingle"))), 1, 8
            ),
            16,
            10,
        )
        .cast("bigint")
        .cast("double")
        / F.lit(4294967296.0),
    )
    # ONLY row_number rides the window: with the rn <= k filter directly
    # on top, Spark compiles this to WindowGroupLimit (per-partition top-k
    # heaps before the source-keyed exchange).  The r8 VERDICT caught the
    # previous shape computing count(*) OVER (PARTITION BY source) in the
    # SAME select — a full-partition window that defeated the pruning.
    # theta needs no full count: after the cut, a source has exactly k
    # surviving rows iff |set| >= k (then theta = the k-th smallest u =
    # max(u) of the sample), else all |set| < k rows survive (theta = 1.0).
    wr = Window.partitionBy("source").orderBy("u", "shingle")
    # <= |sources|·k rows; feeds th AND samp
    kept = stored(
        h.withColumn("rn", F.row_number().over(wr)).filter(F.col("rn") <= _THETA_K)
    )
    th = kept.groupBy("source").agg(
        F.when(F.count("*") >= _THETA_K, F.max("u"))
        .otherwise(F.lit(1.0))
        .alias("theta")
    )
    samp = kept.select("source", "shingle", "u")
    sa = samp.select(
        F.col("source").alias("src_a"), "shingle", F.col("u").alias("ua")
    )
    sb = samp.select(F.col("source").alias("src_b"), F.col("shingle").alias("shb"))
    # one theta row per source; the estimate grows with the corpus
    ta = F.broadcast(th.select(F.col("source").alias("src_a"), F.col("theta").alias("tha")))
    # one theta row per source; the estimate grows with the corpus
    tb = F.broadcast(th.select(F.col("source").alias("src_b"), F.col("theta").alias("thb")))
    pairs = (
        sa.join(
            # the KMV sample: <= |sources| * k rows, but estimated from the
            # corpus (583 MB at sf0.01, above the broadcast threshold)
            F.broadcast(sb),
            (F.col("shingle") == F.col("shb")) & (F.col("src_a") < F.col("src_b")),
        )
        .join(ta, "src_a")
        .join(tb, "src_b")
        .filter(F.col("ua") < F.least("tha", "thb"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_samp"))
    )
    xa, xb = sh.alias("x"), sh.alias("y")
    inter = (
        xa.join(
            xb,
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.source") < F.col("y.source")),
        )
        .groupBy(
            F.col("x.source").alias("src_a"), F.col("y.source").alias("src_b")
        )
        .agg(F.count("*").alias("exact_inter"))
    )
    est = (
        inter.join(pairs, ["src_a", "src_b"], "left")
        .join(ta, "src_a")
        .join(tb, "src_b")
        .withColumn("theta", F.least("tha", "thb"))
        .withColumn(
            "est",
            F.coalesce(F.col("n_samp"), F.lit(0)).cast("double")
            / F.col("theta"),
        )
    )
    return est.select(
        "src_a",
        "src_b",
        F.col("exact_inter").cast("bigint").alias("exact_inter"),
        F.round("est", 6).alias("est_inter_r"),
        F.round("theta", 6).alias("theta_r"),
        (
            F.abs(F.col("est") - F.col("exact_inter"))
            <= F.lit(_THETA_TOL) * F.col("exact_inter")
        )
        .cast("int")
        .alias("ok"),
    )


# ---------------------------------------------------------------------------
# Adamic–Adar link prediction on the affinity graph
# ---------------------------------------------------------------------------


@register(
    "x_link_adamic",
    oracle=f"""
    WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                FROM lineitem),
    e AS MATERIALIZED (
      SELECT a.pk AS u, b.pk AS v
      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2 HAVING count(*) >= {AFFINITY_MIN_SUPPORT}),
    sym AS (SELECT u AS node, v AS nbr FROM e
            UNION ALL SELECT v AS node, u AS nbr FROM e),
    deg AS (SELECT node, count(*) AS d FROM sym GROUP BY node),
    wsym AS (SELECT s.node, s.nbr, 1.0 / ln(d.d) AS w
             FROM sym s JOIN deg d ON d.node = s.node),
    aa AS (
      SELECT a.nbr AS u, b.nbr AS v, sum(a.w) AS aa, count(*) AS n_common
      FROM wsym a JOIN wsym b ON a.node = b.node AND a.nbr < b.nbr
      GROUP BY 1, 2),
    pred AS (SELECT u, v, aa, n_common FROM aa ANTI JOIN e USING (u, v))
    SELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v,
           round(aa, 6) AS aa_score,
           CAST(n_common AS BIGINT) AS n_common
    FROM pred
    ORDER BY round(aa, 6) DESC, u, v
    LIMIT 50
    """,
)
def x_link_adamic(spark: SparkSession, sf: str) -> DataFrame:
    """Top-50 PREDICTED links by Adamic–Adar score (Adamic & Adar '03)
    over the support-thresholded co-purchase affinity graph: pairs of
    parts NOT yet co-purchased-with-support that share affinity
    neighbors, scored sum_w 1/ln(deg(w)) — the classic link-prediction /
    recommend-the-missing-edge primitive, completing the graph family:
    CC = "same group", PageRank = "matters", LPA = "communities",
    triangles/k-core = "locally dense", AA = "what's missing".

    Two stacked hub guards make this 100 TB-shaped (docstrings on the
    operators): the support threshold (copurchase_affinity,
    AFFINITY_MIN_SUPPORT = 2) prunes incidental co-occurrence so the graph
    stays assortment-sized (~3.5k edges at BOTH tested SFs), and AA's
    own 1/ln(deg) weighting is the statistical reason hub-heavy wedges
    were never worth enumerating.  Wedge total on the affinity graph:
    ~34k (sf0.01) / ~10k (sf0.1) vs 28M / 298M on the raw graph.

    Ranking stability: scores are summed float64; the top-50 cut orders
    by round(aa, 6) with (u, v) tie-break, so cross-engine ULP drift in
    ln/sum order cannot flip the cut (registry.py float rules).
    """
    li = table(spark, sf, "lineitem")
    edges = stored(copurchase_affinity(li))
    scored = adamic_adar(edges.select("u", "v"))
    return (
        scored.select(
            F.col("u").cast("bigint").alias("u"),
            F.col("v").cast("bigint").alias("v"),
            F.round("aa", 6).alias("aa_score"),
            "n_common",
        )
        .orderBy(F.col("aa_score").desc(), F.col("u").asc(), F.col("v").asc())
        .limit(50)
    )


# ---------------------------------------------------------------------------
# experiment-analysis / statistical-testing family
# ---------------------------------------------------------------------------

# Welch two-sample t-test over every pair of event types.  var_samp is
# engine-internal (summation order differs in final ULPs), so t and df are
# rounded before comparison/output; the significance cut reads the ROUNDED
# t, making the verdict identical across engines by construction.
_T_CRIT = 1.96  # normal approx at alpha = 0.05 (df > 400 at every SF)


@register(
    "x_ttest_welch",
    oracle=f"""
    WITH s AS (
      SELECT event_type, count(*) AS n, avg(value) AS m,
             var_samp(value) AS v
      FROM events WHERE value IS NOT NULL GROUP BY event_type),
    p AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             a.n AS n_a, b.n AS n_b, a.m AS m_a, b.m AS m_b,
             (a.m - b.m) / sqrt(a.v / a.n + b.v / b.n) AS t,
             ((a.v / a.n + b.v / b.n) * (a.v / a.n + b.v / b.n)) /
             ((a.v / a.n) * (a.v / a.n) / (a.n - 1)
              + (b.v / b.n) * (b.v / b.n) / (b.n - 1)) AS df
      FROM s a JOIN s b ON a.event_type < b.event_type)
    SELECT type_a, type_b,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           round(m_a, 4) AS mean_a_r, round(m_b, 4) AS mean_b_r,
           round(t, 4) AS t_r, round(df, 2) AS df_r,
           CAST(abs(round(t, 4)) > {_T_CRIT!r} AS INT) AS significant
    FROM p
    """,
)
def x_ttest_welch(spark: SparkSession, sf: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test (Welch, Biometrika '47)
    between the metric values of every pair of event types — the A/B
    experiment readout: t = (m_a - m_b) / sqrt(v_a/n_a + v_b/n_b) with
    Welch–Satterthwaite degrees of freedom, significance at |t| > 1.96
    (normal approximation; df > 400 at every tested SF).

    Cross-engine contract: n/mean/variance are the only engine-computed
    aggregates (summation order drifts in final ULPs); t and df are
    ROUNDED before output and the significance verdict reads the rounded
    t, so the cut cannot flip on ULP drift (registry.py float rules).

    Scale: one map-side-combinable moments pass (count/avg/var_samp
    partials merge associatively), then a self-join of FIVE stat rows —
    the corpus is scanned once regardless of how many pairs are tested.
    The 100 TB experiment readout is exactly this shape: per-arm moments
    roll up from partition partials; no per-pair rescans.
    """
    s = (
        table(spark, sf, "events")
        .filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.avg("value").alias("m"),
            F.var_samp("value").alias("v"),
        )
    )
    a = s.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("n_a"),
        F.col("m").alias("m_a"), F.col("v").alias("v_a"),
    )
    b = s.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("n_b"),
        F.col("m").alias("m_b"), F.col("v").alias("v_b"),
    )
    p = a.join(b, F.col("type_a") < F.col("type_b")).select(
        "type_a", "type_b", "n_a", "n_b", "m_a", "m_b",
        F.expr("(m_a - m_b) / sqrt(v_a / n_a + v_b / n_b)").alias("t"),
        F.expr(
            "((v_a / n_a + v_b / n_b) * (v_a / n_a + v_b / n_b)) /"
            " ((v_a / n_a) * (v_a / n_a) / (n_a - 1)"
            "  + (v_b / n_b) * (v_b / n_b) / (n_b - 1))"
        ).alias("df"),
    )
    return p.select(
        "type_a", "type_b",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round("m_a", 4).alias("mean_a_r"),
        F.round("m_b", 4).alias("mean_b_r"),
        F.round("t", 4).alias("t_r"),
        F.round("df", 2).alias("df_r"),
        (F.abs(F.round("t", 4)) > F.lit(_T_CRIT)).cast("int").alias("significant"),
    )


# Sample-ratio mismatch: chi-square goodness-of-fit of the hash split's
# observed bucket counts against the declared 90/5/5 design.  The chi2 is
# one fixed-order arithmetic expression over conditional counts — shared
# fragment, bit-identical across engines.
_SRM_CHI2 = (
    "((__ct - __n * 0.9) * (__ct - __n * 0.9)) / (__n * 0.9)"
    " + ((__cv - __n * 0.05) * (__cv - __n * 0.05)) / (__n * 0.05)"
    " + ((__cs - __n * 0.05) * (__cs - __n * 0.05)) / (__n * 0.05)"
)
_SRM_CRIT = 5.991464547107979  # chi2 0.95 quantile at df = 2


@register(
    "x_srm_chisq",
    oracle=f"""
    WITH sp AS (
      SELECT CASE WHEN h % 100 < 90 THEN 'train'
                  WHEN h % 100 < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
            FROM documents)),
    c AS (
      SELECT CAST(count(*) AS DOUBLE) AS __n,
             CAST(count(*) FILTER (WHERE split = 'train') AS DOUBLE) AS __ct,
             CAST(count(*) FILTER (WHERE split = 'val') AS DOUBLE) AS __cv,
             CAST(count(*) FILTER (WHERE split = 'test') AS DOUBLE) AS __cs
      FROM sp)
    SELECT CAST(__n AS BIGINT) AS n_docs,
           CAST(__ct AS BIGINT) AS n_train,
           CAST(__cv AS BIGINT) AS n_val,
           CAST(__cs AS BIGINT) AS n_test,
           round({_SRM_CHI2}, 6) AS chi2_r,
           CAST(({_SRM_CHI2}) > {_SRM_CRIT!r} AS INT) AS srm_flag
    FROM c
    """,
)
def x_srm_chisq(spark: SparkSession, sf: str) -> DataFrame:
    """Sample-ratio-mismatch check (Fabijan et al., KDD '19 diagnostics
    lineage) on the registered hash split: chi-square goodness-of-fit of
    observed train/val/test counts against the declared 90/5/5 design,
    flagged at the df=2, alpha=0.05 critical value 5.9915.  SRM is the
    first gate of any experiment/dataset-split pipeline: a biased
    assignment hash (or a filter applied after splitting) shows up here
    before any downstream metric can be trusted.  Composes with
    x_split_hash (same md5 assignment, adjudicated there) and the
    leakage audits (x_split_leakage / x_split_cluster_safe).

    Cross-engine contract: the chi2 is ONE fixed-order +/*// fragment
    over conditional counts (integers), embedded verbatim in both plans
    — bit-identical by IEEE 754, so the flag cannot drift.

    Scale: a single map-side-combinable conditional-count pass collapses
    the corpus to one row of four counters; the chi2 itself is
    control-plane arithmetic.  At 100 TB, SRM costs one scan, or zero if
    the split counts already roll up from partition-level metadata.
    """
    from ..operators.curation import hash_split

    d = hash_split(table(spark, sf, "documents"), "doc_id")
    c = d.agg(
        F.count("*").cast("double").alias("__n"),
        F.count(F.when(F.col("split") == "train", 1)).cast("double").alias("__ct"),
        F.count(F.when(F.col("split") == "val", 1)).cast("double").alias("__cv"),
        F.count(F.when(F.col("split") == "test", 1)).cast("double").alias("__cs"),
    )
    return c.select(
        F.col("__n").cast("bigint").alias("n_docs"),
        F.col("__ct").cast("bigint").alias("n_train"),
        F.col("__cv").cast("bigint").alias("n_val"),
        F.col("__cs").cast("bigint").alias("n_test"),
        F.expr(f"round({_SRM_CHI2}, 6)").alias("chi2_r"),
        F.expr(f"({_SRM_CHI2}) > {_SRM_CRIT!r}").cast("int").alias("srm_flag"),
    )


# Deterministic Poisson bootstrap: per-row replicate weights w ~ Poisson(1)
# drawn by inverse-CDF lookup on a cross-engine md5 uniform, so both
# engines materialize the IDENTICAL resample.  Cumulative-probability
# literals are repr()-round-tripped float64.
_BOOT_B = 32  # replicates; CI = 2nd/31st order statistics (~94% coverage)
_BOOT_CUM = [
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238463", "0.9963401531726563", "0.9994058151824183",
]
_BOOT_W = (
    "CASE "
    + " ".join(
        f"WHEN __u < {c} THEN {float(k)!r}" for k, c in enumerate(_BOOT_CUM)
    )
    + " ELSE 6.0 END"
)


@register(
    "x_bootstrap_ci",
    oracle=f"""
    WITH x AS (
      SELECT event_type, value, r,
             CAST(('0x' || substr(md5('boot' || CAST(r AS VARCHAR) || ':' ||
                                      CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
                  AS DOUBLE) / 4294967296.0 AS __u
      FROM events, (SELECT unnest(range(1, {_BOOT_B} + 1)) AS r)
      WHERE value IS NOT NULL),
    w AS (SELECT event_type, value, r, {_BOOT_W} AS __w FROM x),
    rm AS (
      SELECT event_type, r,
             round(sum(__w * value) / nullif(sum(__w), 0.0), 6) AS rm_r
      FROM w GROUP BY event_type, r),
    rk AS (
      SELECT event_type, rm_r,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY rm_r NULLS LAST, r) AS pos
      FROM rm),
    base AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             round(avg(value), 4) AS mean_r
      FROM events WHERE value IS NOT NULL GROUP BY event_type)
    SELECT b.event_type, b.n, b.mean_r,
           max(CASE WHEN pos = 2 THEN rm_r END) AS ci_lo_r,
           max(CASE WHEN pos = {_BOOT_B} - 1 THEN rm_r END) AS ci_hi_r
    FROM base b JOIN rk ON rk.event_type = b.event_type
    GROUP BY b.event_type, b.n, b.mean_r
    """,
)
def x_bootstrap_ci(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event-type bootstrap confidence interval for the mean metric
    via the DETERMINISTIC Poisson bootstrap (Oza & Russell AISTATS '01
    online bagging; Chamandy et al. '12, "Estimating uncertainty for
    massive data streams"): each of B=32 replicates reweights every row
    by w ~ Poisson(1), drawn by inverse-CDF lookup on the repo's
    cross-engine md5 uniform hash('boot'||r||':'||event_id) — both
    engines materialize the IDENTICAL resample, so the oracle replays
    the whole procedure, not a tolerance.  CI = the 2nd and 31st order
    statistics of the replicate means (~94 % coverage), selected by
    row_number on the ROUNDED means with the replicate id as tie-break
    (registry.py float rules: replicate sums drift in final ULPs across
    engines; the round(·, 6) absorbs it before any rank).

    Scale: this is THE uncertainty primitive for 100 TB metrics — no
    data resampling, no per-replicate rescans: the replicate dimension
    explodes B× but collapses map-side (sum(w·x), sum(w) partials
    combine associatively), so the shuffle carries groups × B tiny rows
    regardless of corpus size.  One pass, one shuffle; the B× explode
    rides whole-stage codegen (md5 + CASE per replicate).
    """
    ev = table(spark, sf, "events").filter(F.col("value").isNotNull())
    x = (
        ev.select(
            "event_type",
            "value",
            "event_id",
            F.explode(F.sequence(F.lit(1), F.lit(_BOOT_B))).alias("r"),
        )
        .withColumn(
            "__u",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("boot"),
                            F.col("r").cast("string"),
                            F.lit(":"),
                            F.col("event_id").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint").cast("double")
            / F.lit(4294967296.0),
        )
        .withColumn("__w", F.expr(_BOOT_W))
    )
    rm = x.groupBy("event_type", "r").agg(
        F.round(
            F.sum(F.col("__w") * F.col("value"))
            / F.nullif(F.sum("__w"), F.lit(0.0)),
            6,
        ).alias("rm_r")
    )
    # rm_r is NULL only when EVERY row of a group draws Poisson weight 0
    # in one replicate — probability (1/e)^n, unreachable at driver group
    # sizes but pinned anyway: Spark default-sorts NULLS FIRST ascending
    # while DuckDB sorts NULLS LAST, which would shift pos 2/B-1 and flip
    # the CI cross-engine (r7 ADVICE).  Both sides order NULLS LAST
    # explicitly so a degenerate replicate can never displace the order
    # statistics.
    rk = rm.select(
        "event_type",
        "rm_r",
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy(
                F.col("rm_r").asc_nulls_last(), "r"
            )
        )
        .alias("pos"),
    )
    base = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.avg("value"), 4).alias("mean_r"),
    )
    ci = rk.groupBy("event_type").agg(
        F.max(F.when(F.col("pos") == 2, F.col("rm_r"))).alias("ci_lo_r"),
        F.max(F.when(F.col("pos") == _BOOT_B - 1, F.col("rm_r"))).alias("ci_hi_r"),
    )
    return base.join(ci, "event_type").select(
        "event_type", "n", "mean_r", "ci_lo_r", "ci_hi_r"
    )


# ---------------------------------------------------------------------------
# behavioral sequence mining — first-order transition lift
# ---------------------------------------------------------------------------


@register(
    "x_seq_transitions",
    oracle="""
    WITH s AS (
      SELECT event_type AS src_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst_type
      FROM events),
    t AS (SELECT src_type, dst_type, count(*) AS n_ab
          FROM s WHERE dst_type IS NOT NULL GROUP BY 1, 2),
    m AS (SELECT src_type, dst_type, n_ab,
                 sum(n_ab) OVER (PARTITION BY src_type) AS n_a,
                 sum(n_ab) OVER (PARTITION BY dst_type) AS n_b,
                 sum(n_ab) OVER () AS n_tot
          FROM t)
    SELECT src_type, dst_type, CAST(n_ab AS BIGINT) AS n_ab,
           round((CAST(n_ab AS DOUBLE) * n_tot) /
                 (CAST(n_a AS DOUBLE) * n_b), 4) AS lift_r
    FROM m
    """,
)
def x_seq_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """First-order behavioral transition mining: counts of consecutive
    event-type pairs per user (Markov transition matrix of the event
    stream) with LIFT against independence, lift(a→b) = P(b|a) / P(b) —
    the sequence-mining readout behind "what do users do AFTER an
    error": lift > 1 marks transitions over-represented vs the
    destination's base rate.  Complements q_funnel (a FIXED ordered
    pattern) with the exhaustive first-order view, and q_pattern_match's
    regex events with aggregate statistics.

    Cross-engine: counts are exact integers; the lift is one fixed-order
    double expression over them, rounded — nothing can drift.

    Scale: ONE shuffle (hash on user_id) feeds the lead() window; the
    transition table is at most |types|² rows, so every marginal window
    after it is control-plane.  The 100 TB path mirrors the funnel: the
    user-keyed exchange is the only data-sized movement.
    """
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    s = (
        table(spark, sf, "events")
        .select(
            F.col("event_type").alias("src_type"),
            F.lead("event_type").over(w).alias("dst_type"),
        )
        .filter(F.col("dst_type").isNotNull())
    )
    t = s.groupBy("src_type", "dst_type").agg(F.count("*").alias("n_ab"))
    m = t.select(
        "src_type",
        "dst_type",
        "n_ab",
        F.sum("n_ab").over(Window.partitionBy("src_type")).alias("n_a"),
        F.sum("n_ab").over(Window.partitionBy("dst_type")).alias("n_b"),
        F.sum("n_ab").over(Window.partitionBy()).alias("n_tot"),
    )
    return m.select(
        "src_type",
        "dst_type",
        F.col("n_ab").cast("bigint").alias("n_ab"),
        F.round(
            (F.col("n_ab").cast("double") * F.col("n_tot"))
            / (F.col("n_a").cast("double") * F.col("n_b")),
            4,
        ).alias("lift_r"),
    )


# ---------------------------------------------------------------------------
# CUPED variance reduction
# ---------------------------------------------------------------------------


@register(
    "x_cuped",
    oracle="""
    WITH u AS (
      SELECT user_id,
             avg(value) FILTER (WHERE event_id % 2 = 0) AS pre,
             avg(value) FILTER (WHERE event_id % 2 = 1) AS post
      FROM events WHERE value IS NOT NULL GROUP BY user_id),
    uu AS (SELECT * FROM u WHERE pre IS NOT NULL AND post IS NOT NULL),
    st AS (SELECT covar_samp(pre, post) / var_samp(pre) AS theta,
                  avg(pre) AS mpre
           FROM uu),
    adj AS (
      SELECT CASE WHEN ('0x' || substr(md5('arm:' || CAST(u.user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
                  THEN 'A' ELSE 'B' END AS arm,
             u.post,
             u.post - st.theta * (u.pre - st.mpre) AS post_adj
      FROM uu u, st)
    SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
           round(avg(post), 4) AS mean_post_r,
           round(avg(post_adj), 4) AS mean_adj_r,
           round(var_samp(post), 4) AS var_post_r,
           round(var_samp(post_adj), 4) AS var_adj_r,
           round(1.0 - var_samp(post_adj) / var_samp(post), 4) AS var_red_r
    FROM adj GROUP BY arm
    """,
)
def x_cuped(spark: SparkSession, sf: str) -> DataFrame:
    """CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM '13):
    adjust each user's experiment metric by a pre-experiment covariate,
    post_adj = post − θ·(pre − mean(pre)) with θ = cov(pre, post) /
    var(pre) — the industry-standard trick that shrinks metric variance
    (hence experiment runtime) by the covariate's explained share
    without biasing the arm means (E[post_adj] = E[post]).  Arms are
    assigned by the repo's cross-engine md5 hash on user_id; pre/post
    here split each user's events by event-id parity.  On the driver's
    iid metric the measured reduction is ~0 by construction (no
    user-level random effect: corr(pre, post) ≈ −0.09), which the key
    reports honestly — the adjudicated content is the full CUPED
    mechanism (θ, centering, per-arm moments), not a planted effect.

    Cross-engine: θ and mean(pre) carry engine summation-order ULP
    drift; every output is rounded after the final aggregate, where the
    drift is ~1e-12 relative (registry.py float rules).

    Scale: one user-keyed conditional-average pass (map-side
    combinable), a 1-row moments aggregate broadcast back, then one
    more small aggregate over users — two corpus-independent shuffles
    on user-sized tables.  The 100 TB experiment pipeline shape: θ is
    control-plane, never a per-row join.
    """
    from ..functions.hashing import md5_u32

    ev = table(spark, sf, "events").filter(F.col("value").isNotNull())
    u = (
        ev.groupBy("user_id")
        .agg(
            F.avg(F.when(F.col("event_id") % 2 == 0, F.col("value"))).alias("pre"),
            F.avg(F.when(F.col("event_id") % 2 == 1, F.col("value"))).alias("post"),
        )
        .filter(F.col("pre").isNotNull() & F.col("post").isNotNull())
    )
    st = u.agg(
        (F.covar_samp("pre", "post") / F.var_samp("pre")).alias("theta"),
        F.avg("pre").alias("mpre"),
    )
    adj = u.crossJoin(st).select(
        F.when(
            F.pmod(md5_u32(F.concat(F.lit("arm:"), F.col("user_id").cast("string"))), F.lit(2)) == 0,
            F.lit("A"),
        )
        .otherwise(F.lit("B"))
        .alias("arm"),
        "post",
        (F.col("post") - F.col("theta") * (F.col("pre") - F.col("mpre"))).alias(
            "post_adj"
        ),
    )
    return adj.groupBy("arm").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.round(F.avg("post"), 4).alias("mean_post_r"),
        F.round(F.avg("post_adj"), 4).alias("mean_adj_r"),
        F.round(F.var_samp("post"), 4).alias("var_post_r"),
        F.round(F.var_samp("post_adj"), 4).alias("var_adj_r"),
        F.round(
            F.lit(1.0) - F.var_samp("post_adj") / F.var_samp("post"), 4
        ).alias("var_red_r"),
    )


# ---------------------------------------------------------------------------
# MMR diversity re-ranking
# ---------------------------------------------------------------------------

_MMR_LAM = 0.7
# 1.0 - 0.7 is NOT 0.3 in float64 (0.30000000000000004); both engines must
# use the same literal, so the oracle embeds the repr of the computed value.
_MMR_MU = repr(1.0 - _MMR_LAM)
_MMR_POOL = 20
_MMR_K = 10


def _mmr_oracle(k: int, pool: int) -> str:
    parts = [f"""
    WITH cand AS MATERIALIZED (
      SELECT c.vec_id,
             round(list_cosine_similarity(q.embedding::DOUBLE[],
                                          c.embedding::DOUBLE[]), 6) AS simq,
             c.embedding
      FROM embeddings q JOIN embeddings c ON q.vec_id = 0 AND c.vec_id <> 0
      WHERE list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]) > 0
        AND list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]) > 0
      ORDER BY simq DESC, c.vec_id ASC LIMIT {pool}),
    scc AS MATERIALIZED (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             round(list_cosine_similarity(a.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[]), 6) AS s
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
    sel1 AS MATERIALIZED (SELECT vec_id, 1 AS pos FROM cand
             ORDER BY simq DESC, vec_id ASC LIMIT 1)"""]
    # Every round CTE is MATERIALIZED: sel{{r}} references sel{{r-1}} three
    # times (NOT IN + correlated max + union), and DuckDB inlines CTEs by
    # default — unmaterialized, the 10-round chain re-expands 3^9 ways
    # (the x_vocab_bpe lesson; >150 s vs milliseconds).
    for r in range(2, k + 1):
        parts.append(f"""
    pick{r} AS MATERIALIZED (
      SELECT c.vec_id, {r} AS pos FROM cand c
      WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{r - 1})
      ORDER BY round({_MMR_LAM!r} * c.simq - {_MMR_MU} *
                     (SELECT max(s.s) FROM scc s
                      JOIN sel{r - 1} t ON s.ib = t.vec_id
                      WHERE s.ia = c.vec_id), 6) DESC,
               c.vec_id ASC
      LIMIT 1),
    sel{r} AS MATERIALIZED (SELECT * FROM sel{r - 1} UNION ALL SELECT * FROM pick{r})""")
    return ",".join(parts) + f"""
    SELECT CAST(s.vec_id AS BIGINT) AS vec_id, CAST(s.pos AS INT) AS pos,
           c.simq AS simq_r
    FROM sel{k} s JOIN cand c ON c.vec_id = s.vec_id
    """


@register("x_mmr_diversify", oracle=_mmr_oracle(_MMR_K, _MMR_POOL))
def x_mmr_diversify(spark: SparkSession, sf: str) -> DataFrame:
    """Maximal Marginal Relevance diversity re-ranking (Carbonell &
    Goldstein, SIGIR '98): from the query's top-20 cosine candidates,
    greedily select 10, each round maximizing  lam·sim(q, d) −
    (1−lam)·max_{s∈S} sim(d, s)  with lam = 0.7 — relevance traded
    against redundancy with what was already picked.  The curation
    reading: MMR picks a representative SPREAD out of a near-dup-heavy
    retrieval pool (where SemDeDup keeps one doc per cluster, MMR keeps
    the k most-relevant-yet-mutually-distinct exemplars) — the
    diversity-aware sampling primitive for eval-set and few-shot-pool
    construction.

    Cross-engine: candidate sims and pairwise sims are rounded to 6 on
    BOTH sides before any ordering; the per-round score is fixed-order
    arithmetic over those identical doubles (note _MMR_MU: 1.0 − 0.7 is
    0.30000000000000004 in float64 — the oracle embeds the repr of the
    SAME computed literal, not "0.3"), and every argmax tie-breaks on
    vec_id — the full greedy trajectory replays deterministically as 10
    unrolled oracle CTE rounds.

    Scale (operators/retrieval.py::mmr_rerank): the DATA-PARALLEL work
    is candidate generation (corpus-wide cosine top-N: brute-force here,
    IVF at 100 TB) and the N² pairwise sims; the greedy loop is
    inherently sequential in k but runs on the N-sized pool only — one
    argmax + 1-row control-plane collect per round (the x_vocab_bpe
    convention), never a corpus operation.
    """
    from ..operators.retrieval import mmr_rerank
    from ..operators.similarity import pair_cosine, prep_vectors

    emb = table(spark, sf, "embeddings")
    q = prep_vectors(
        emb.filter(F.col("vec_id") == 0), "vec_id", "embedding", "query_id",
        "qd", "qn",
    )
    c = prep_vectors(
        emb.filter(F.col("vec_id") != 0), "vec_id", "embedding", "neighbor_id",
        "cd", "cn",
    )
    cand = stored(
        # one query vector, estimated from the embeddings scan
        c.crossJoin(F.broadcast(q))
        .select(
            F.col("neighbor_id").alias("vec_id"),
            pair_cosine().alias("simq"),
            "cd",
            "cn",
        )
        .orderBy(F.col("simq").desc(), F.col("vec_id").asc())
        .limit(_MMR_POOL)
    )
    from ..functions.vectors import dot_double

    a = cand.select(
        F.col("vec_id").alias("ia"), F.col("cd").alias("ad"), F.col("cn").alias("an")
    )
    b = cand.select(
        F.col("vec_id").alias("ib"), F.col("cd").alias("bd"), F.col("cn").alias("bn")
    )
    sim_cc = a.join(b, F.col("ia") != F.col("ib")).select(
        "ia",
        "ib",
        F.round(
            F.try_divide(
                dot_double(F.col("ad"), F.col("bd")), F.col("an") * F.col("bn")
            ),
            6,
        ).alias("s"),
    )
    sel = mmr_rerank(cand.select("vec_id", "simq"), sim_cc, k=_MMR_K, lam=_MMR_LAM)
    return (
        sel.join(cand.select("vec_id", "simq"), "vec_id")
        .select(
            F.col("vec_id").cast("bigint").alias("vec_id"),
            F.col("pos").cast("int").alias("pos"),
            F.col("simq").alias("simq_r"),
        )
    )


# ---------------------------------------------------------------------------
# skyline / Pareto-front curation
# ---------------------------------------------------------------------------


@register(
    "x_skyline",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[[:space:]]+'),
                         x -> x <> '') AS toks
      FROM documents),
    s AS (
      SELECT doc_id,
             CAST(len(toks) AS INT) AS n_tokens,
             CAST(len(list_distinct(toks)) AS INT) AS n_distinct
      FROM t)
    SELECT a.doc_id, a.n_tokens, a.n_distinct
    FROM s a
    ANTI JOIN s b
      ON b.n_tokens >= a.n_tokens AND b.n_distinct >= a.n_distinct
     AND (b.n_tokens > a.n_tokens OR b.n_distinct > a.n_distinct)
    """,
)
def x_skyline(spark: SparkSession, sf: str) -> DataFrame:
    """Skyline / Pareto front (Börzsönyi et al., ICDE '01) of the
    documents corpus on two integer quality dimensions — token count and
    distinct-token count (bigger = better): the documents NOT dominated
    on both axes, i.e. the multi-objective quality frontier no single
    score can pick.  Curation reading: a score-ranked selection optimizes
    ONE score; the skyline is what you keep when length and lexical
    diversity must BOTH be defensible.

    Engine = the O(n log n) sort-sweep (operators/curation.py::
    skyline_2d — a parallel per-bucket pre-peel followed by the global
    two-frame sweep over the surviving candidates only); oracle =
    the NAIVE O(n²) dominance anti-join, so the sweep is adjudicated
    against the dominance DEFINITION itself rather than a mirror of the
    same algorithm — the strongest oracle shape the registry has (same
    philosophy as x_jaccard_prefix sharing the inverted-index oracle).

    Cross-engine: both dimensions are exact integers; no float enters
    any comparison.
    """
    from ..functions.text import tokens as _tokens
    from ..operators.curation import skyline_2d

    d = table(spark, sf, "documents")
    s = d.select(
        "doc_id", _tokens("text").alias("__toks")
    ).select(
        "doc_id",
        F.size("__toks").cast("int").alias("n_tokens"),
        F.size(F.array_distinct("__toks")).cast("int").alias("n_distinct"),
    )
    return skyline_2d(s, "n_tokens", "n_distinct").select(
        "doc_id", "n_tokens", "n_distinct"
    )


# ---------------------------------------------------------------------------
# nearest-station geo join (bounded radius, broadcast dim)
# ---------------------------------------------------------------------------

# Shared haversine fragment over fixed column names (lat/lon = point,
# slat/slon = station) — embedded verbatim in both plans; libm sin/cos/
# asin may differ by 1 ulp across engines, so the distance is rounded to
# 3 decimals (~1 m) before ANY comparison or ranking.
_HAV_KM = (
    "2 * 6371.0 * asin(sqrt("
    "pow(sin(radians(slat - lat) / 2), 2) + "
    "cos(radians(lat)) * cos(radians(slat)) * "
    "pow(sin(radians(slon - lon) / 2), 2)))"
)
_GEO_R_KM = 2000.0
_GEO_N_STATIONS = 50


@register(
    "x_geo_nearest",
    oracle=f"""
    WITH pts AS (
      SELECT event_id,
             (event_id % 180) - 90 + 0.5 AS lat,
             ((event_id * 7) % 360) - 180 + 0.5 AS lon
      FROM events),
    st AS (
      SELECT s AS station_id,
             ((s * 37) % 180) - 90 + 0.25 AS slat,
             ((s * 53) % 360) - 180 + 0.25 AS slon
      FROM (SELECT unnest(range(0, {_GEO_N_STATIONS})) AS s)),
    scored AS (
      SELECT p.event_id, st.station_id,
             round({_HAV_KM}, 3) AS dist_r
      FROM pts p, st
      WHERE round({_HAV_KM}, 3) <= {_GEO_R_KM!r})
    SELECT event_id, CAST(station_id AS INT) AS station_id, dist_r
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY event_id
                               ORDER BY dist_r, station_id) = 1
    """,
)
def x_geo_nearest(spark: SparkSession, sf: str) -> DataFrame:
    """Bounded-radius nearest-station join: each event position (the
    op_geocode_join derivation) matched to its nearest of 50
    deterministic stations by haversine distance, kept only within
    2,000 km — the "assign each NMEA fix to its nearest port" workload
    completing the geo family (q_fn_haversine = the metric,
    op_geocode_join = cell equi-join, this = distance argmin).

    Cross-engine: the haversine is ONE shared fragment; libm sin/cos/
    asin can differ by 1 ulp across engines, so the distance is rounded
    to 3 decimals (~1 m) BEFORE the radius filter and the argmin, and
    ties break on station_id — the winner is identical by construction.
    The oracle picks it with row_number; the engine with
    min(struct(dist, id)) — different mechanism, same definition.

    Scale: the station dim broadcasts (50 rows; any realistic port table
    fits), scoring is a map-side fanout with NO shuffle of the corpus,
    and the argmin is min(struct(...)) — an ALGEBRAIC aggregate whose
    partials collapse map-side, so the one exchange carries ≤ one row
    per event.  A points-to-POINTS nearest join (both sides large) needs
    the lat-band grid screen instead; documented here as the scale path,
    not needed for a dim-sized right side.
    """
    ev = table(spark, sf, "events")
    # This key's selling point is NO corpus shuffle — which also means
    # nothing ever re-distributes the work: a small input (one 2 MB
    # parquet split locally) leaves the entire pair fanout + trig kernel
    # on ONE core (measured 3.6 s single-task vs 0.5 s fanned at sf0.1).
    # Fan out ONLY when the scan gives fewer splits than cores; a 100 TB
    # events table arrives in thousands of splits and skips this branch,
    # keeping the zero-shuffle plan.
    if ev.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        ev = ev.repartition(spark.sparkContext.defaultParallelism)
    pts = ev.select(
        "event_id",
        ((F.col("event_id") % 180) - 90 + 0.5).alias("lat"),
        (((F.col("event_id") * 7) % 360) - 180 + 0.5).alias("lon"),
    )
    st = spark.range(_GEO_N_STATIONS).select(
        F.col("id").cast("int").alias("station_id"),
        (((F.col("id") * 37) % 180) - 90 + 0.25).alias("slat"),
        (((F.col("id") * 53) % 360) - 180 + 0.25).alias("slon"),
    )
    # LOSSLESS latitude screen before the trig: great-circle distance is
    # at least the meridional component, 111.194 km/deg × |Δlat|, so any
    # pair with |Δlat| > R/111.0 (conservative divisor < 111.194) cannot
    # be within R.  Cuts the 8-trig-call haversine from 5M pairs to the
    # 941k surviving the band at sf0.1.  (The matching longitude screen
    # needs cos(lat) scaling and is skipped: at R = 2,000 km it prunes
    # little and risks pole-adjacent subtleties.)
    scored = (
        pts.join(
            st,
            F.abs(F.col("slat") - F.col("lat")) <= F.lit(_GEO_R_KM / 111.0),
        )
        .withColumn("dist_r", F.expr(f"round({_HAV_KM}, 3)"))
        .filter(F.col("dist_r") <= F.lit(_GEO_R_KM))
    )
    best = scored.groupBy("event_id").agg(
        F.min(F.struct("dist_r", "station_id")).alias("__b")
    )
    return best.select(
        "event_id",
        F.col("__b.station_id").cast("int").alias("station_id"),
        F.col("__b.dist_r").alias("dist_r"),
    )


# ---------------------------------------------------------------------------
# A/B power analysis (MDE) + k-anonymity audit
# ---------------------------------------------------------------------------

# Standard normal quantiles for alpha = 0.05 (two-sided) and power = 0.80,
# as repr-exact float64 literals shared by both plans.
_Z_ALPHA = "1.959963984540054"  # z_{0.975}
_Z_BETA = "0.8416212335729143"  # z_{0.80}


@register(
    "x_abtest_mde",
    oracle=f"""
    WITH s AS (
      SELECT event_type, count(*) AS n, avg(value) AS m,
             var_samp(value) AS v
      FROM events WHERE value IS NOT NULL GROUP BY event_type)
    SELECT event_type, CAST(n AS BIGINT) AS n,
           round(m, 4) AS mean_r,
           round(({_Z_ALPHA} + {_Z_BETA}) * sqrt(2.0 * v / n), 4) AS mde_abs_r,
           round(({_Z_ALPHA} + {_Z_BETA}) * sqrt(2.0 * v / n) / m, 4) AS mde_rel_r
    FROM s
    """,
)
def x_abtest_mde(spark: SparkSession, sf: str) -> DataFrame:
    """Minimum Detectable Effect per experiment arm — the power-analysis
    readout completing the experiment family (x_ttest_welch adjudicates,
    x_srm_chisq gates, x_cuped shrinks variance, x_bootstrap_ci bounds,
    THIS sizes): at alpha = 0.05 two-sided and power = 0.80, an equal-n
    two-sample test detects  MDE = (z_0.975 + z_0.80) · sqrt(2·v/n)
    (the standard two-sample power formula, e.g. van Belle,
    "Statistical Rules of Thumb"), reported absolute and relative to
    the arm mean.  Reading: any effect smaller than mde_rel_r of the
    mean is invisible to an experiment of this arm's size.

    Cross-engine: the z quantiles are repr-exact shared literals; the
    MDE is fixed-order arithmetic over the engine moments, rounded at
    the end (registry.py float rules).

    Scale: one map-side-combinable moments pass; the MDE is
    control-plane arithmetic on five rows.
    """
    s = (
        table(spark, sf, "events")
        .filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.avg("value").alias("m"),
            F.var_samp("value").alias("v"),
        )
    )
    mde = F.expr(f"({_Z_ALPHA} + {_Z_BETA}) * sqrt(2.0 * v / n)")
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round("m", 4).alias("mean_r"),
        F.round(mde, 4).alias("mde_abs_r"),
        F.round(mde / F.col("m"), 4).alias("mde_rel_r"),
    )


_KANON_K = 5


@register(
    "x_k_anonymity",
    oracle=f"""
    SELECT CAST(c_nationkey AS INT) AS nationkey,
           c_mktsegment AS mktsegment,
           CAST(count(*) AS BIGINT) AS group_n,
           CAST(count(*) >= {_KANON_K} AS INT) AS meets_k
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
)
def x_k_anonymity(spark: SparkSession, sf: str) -> DataFrame:
    """k-anonymity audit (Sweeney, IJUFKS '02) over the customer table
    with quasi-identifiers (nationkey, mktsegment): every QI equivalence
    class with its size and a meets-k flag at k = {_KANON_K}.  A release
    is k-anonymous iff every class meets k; classes below k are the
    re-identification risk and the rows a suppression/generalization
    pass must treat.  The privacy-audit row next to x_text_pii's
    content-level detection: THIS is the structural-linkage side.

    Cross-engine: pure integer counts — nothing can drift.

    Scale: one map-side-combinable count keyed by the QI tuple; the
    audit output is |QI-space|-sized (≤ 125 rows here) regardless of
    corpus size.  The follow-up suppression join broadcasts the
    violating-class list back against the corpus.
    """
    c = table(spark, sf, "customer")
    return (
        c.groupBy(
            F.col("c_nationkey").cast("int").alias("nationkey"),
            F.col("c_mktsegment").alias("mktsegment"),
        )
        .agg(F.count("*").alias("group_n"))
        .select(
            "nationkey",
            "mktsegment",
            F.col("group_n").cast("bigint").alias("group_n"),
            (F.col("group_n") >= _KANON_K).cast("int").alias("meets_k"),
        )
    )


# ---------------------------------------------------------------------------
# differentially-private count release (deterministic Laplace mechanism)
# ---------------------------------------------------------------------------

_DP_EPS = 1.0  # privacy budget for the per-source count histogram
_DP_TAU = 5.0  # post-noise suppression threshold


@register(
    "x_dp_counts",
    oracle=f"""
    WITH n AS (
      SELECT source, count(*) AS n FROM documents GROUP BY source),
    u AS (
      SELECT source, n,
             CAST(('0x' || substr(md5('dp:' || source), 1, 8))::BIGINT
                  AS DOUBLE) / 4294967296.0 AS u
      FROM n),
    rel AS (
      SELECT source, n,
             n + -(1.0 / {_DP_EPS!r}) * sign(u - 0.5)
                 * ln(greatest(1e-12, 1.0 - 2.0 * abs(u - 0.5))) AS released
      FROM u)
    SELECT source,
           CAST(n AS BIGINT) AS n_true,
           round(released, 4) AS released_r,
           CAST(released < {_DP_TAU!r} AS INT) AS suppressed,
           1 AS mechanics_only
    FROM rel
    """,
)
def x_dp_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Differentially-private count-histogram release (Dwork et al.,
    TCC '06 Laplace mechanism) of per-source document counts: each true
    count (sensitivity 1 for add/remove-one-document neighbors) gets
    Laplace(1/ε) noise at ε = {_DP_EPS}, drawn DETERMINISTICALLY by
    inverse-CDF on the repo's md5 uniform ('dp:'‖source → first 8 hex
    / 2³²):  noise = −(1/ε)·sgn(u−½)·ln(1 − 2|u−½|).  Post-noise
    τ = {_DP_TAU} thresholding flags groups too small to release — the
    standard (ε,δ) count-release recipe's SHAPE, and the MECHANISM side
    of the privacy family: x_k_anonymity audits structural linkage,
    x_text_pii detects content, THIS exercises the release pipeline.
    (``n_true`` is the ADJUDICATION side, like the sketches' exact
    columns — a production release emits only released_r/suppressed.)

    PRIVACY CAVEAT (round-8 review): because the draw is a deterministic
    public function of the group name, anyone can recompute and subtract
    the noise — the determinism that makes the key cross-engine
    hash-adjudicable also voids the actual DP guarantee (effective
    ε = ∞).  This key adjudicates the MECHANICS (sensitivity-1 noise
    placement after the final combine, inverse-CDF transform, τ
    suppression); a real release must replace the md5 uniform with a
    secret-seeded or true random draw, at which point the oracle pairing
    necessarily degrades to a distributional test.  The constant
    ``mechanics_only`` output column carries this caveat into the result
    schema itself (r8 ADVICE) — downstream consumers see the marker even
    if they never read this docstring.

    Cross-engine: the uniform is exact integer arithmetic; sgn/abs/±
    are IEEE-specified; the one libm call (ln) may differ by 1 ulp
    between JVM Math.log and DuckDB's libm, which flips round(·, 4)
    only if the unrounded value sits within ~1e-12 of a 5e-5 boundary
    (the x_calibration risk analysis; no source hash lands there at
    either SF — verified).  The 1e-12 floor guards the u = 0 or 1
    corner (ln 0) at probability 2⁻³² per group.

    Scale: one map-side-combinable count by source; the noise/release
    arithmetic is |sources|-row control-plane.  At 100 TB the released
    histogram costs exactly one corpus aggregate, and per-partition
    partial counts compose because noise is added ONCE per group after
    the final combine — never per partial (which would multiply the
    variance by the partial count and break the ε accounting).
    """
    d = table(spark, sf, "documents")
    n = d.groupBy("source").agg(F.count("*").alias("n"))
    u = n.withColumn(
        "u",
        F.conv(
            F.substring(F.md5(F.concat(F.lit("dp:"), F.col("source"))), 1, 8),
            16,
            10,
        )
        .cast("bigint")
        .cast("double")
        / F.lit(4294967296.0),
    )
    rel = u.withColumn(
        "released",
        F.col("n")
        + F.lit(-(1.0 / _DP_EPS))
        * F.signum(F.col("u") - F.lit(0.5))
        * F.log(
            F.greatest(
                F.lit(1e-12),
                F.lit(1.0) - F.lit(2.0) * F.abs(F.col("u") - F.lit(0.5)),
            )
        ),
    )
    return rel.select(
        "source",
        F.col("n").cast("bigint").alias("n_true"),
        F.round("released", 4).alias("released_r"),
        (F.col("released") < F.lit(_DP_TAU)).cast("int").alias("suppressed"),
        # structural not-a-real-DP-release marker (r8 ADVICE): a constant
        # column every consumer sees, so released_r can't be mistaken for
        # privatized output without reading the docstring
        F.lit(1).alias("mechanics_only"),
    )


# ---------------------------------------------------------------------------
# classifier calibration audit (reliability bins + ECE)
# ---------------------------------------------------------------------------

# Fixed logistic scorer: z = 8 * en-stopword-ratio - 1 (the x_quality_model
# convention of fixed public coefficients — no training step to replay).
_CAL_STOPS = "['the','a','of','and','to','in','is','it','that','for']"


@register(
    "x_calibration",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(lower(text), '[[:space:]]+'),
                         x -> x <> '') AS t
      FROM documents),
    p AS (
      SELECT doc_id,
             CAST(lang = 'en' AS INT) AS label,
             1.0 / (1.0 + exp(-(8.0 * (len(list_filter(t, x -> list_contains(
               {_CAL_STOPS}, x))) / greatest(len(t), 1)) - 1.0))) AS prob
      FROM toks),
    b AS (
      SELECT least(CAST(floor(prob * 10) AS INT), 9) AS bin, prob, label
      FROM p),
    g AS (
      SELECT bin, count(*) AS n, avg(prob) AS conf, avg(CAST(label AS DOUBLE)) AS acc
      FROM b GROUP BY bin),
    e AS (SELECT sum(n * abs(acc - conf)) / sum(n) AS ece FROM g)
    SELECT g.bin, CAST(g.n AS BIGINT) AS n,
           round(g.conf, 4) AS conf_r, round(g.acc, 4) AS acc_r,
           round(e.ece, 4) AS ece_r
    FROM g, e
    """,
)
def x_calibration(spark: SparkSession, sf: str) -> DataFrame:
    """Classifier calibration audit — reliability bins + Expected
    Calibration Error (Naeini et al., AAAI '15; Guo et al., ICML '17):
    a fixed logistic scorer (sigmoid of 8·en-stopword-ratio − 1, the
    x_quality_model fixed-coefficient convention) predicts P(lang='en')
    per document; predictions are decile-binned by confidence and each
    bin reports (count, mean confidence, observed accuracy), plus
    ECE = Σ (n_b/N)·|acc_b − conf_b|.  The model-eval-ops row of the
    quality stack: x_quality_model SCORES, x_label_noise flags
    disagreements, THIS audits whether scores can be read as
    probabilities — the gate before using them as sampling weights
    (x_sample_weighted) or mixture temperatures (x_data_temperature).

    Cross-engine: libm exp differs by ≤1 ulp, so probabilities agree to
    ~1e-16 — a bin flip needs prob·10 within 1e-15 of an integer, which
    only z = 0 (prob exactly 0.5, exp(0) exact in both engines) can
    produce, and floor(5.0) agrees; every reported float is rounded
    after the final aggregate.

    Scale: one map-side token projection, one ≤10-group aggregate, one
    1-row ECE broadcast back — a single corpus scan, everything after
    it control-plane.
    """
    from ..functions.text import tokens as _tokens

    d = table(spark, sf, "documents")
    stops = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]
    p = d.select(
        "doc_id",
        (F.col("lang") == "en").cast("int").alias("label"),
        _tokens("text").alias("__t"),
    ).select(
        "doc_id",
        "label",
        (
            F.lit(1.0)
            / (
                F.lit(1.0)
                + F.exp(
                    -(
                        F.lit(8.0)
                        * (
                            F.size(
                                F.filter(
                                    F.col("__t"),
                                    lambda x: x.isin(*stops),
                                )
                            )
                            / F.greatest(F.size("__t"), F.lit(1))
                        )
                        - F.lit(1.0)
                    )
                )
            )
        ).alias("prob"),
    )
    b = p.select(
        F.least(F.floor(F.col("prob") * 10).cast("int"), F.lit(9)).alias("bin"),
        "prob",
        "label",
    )
    g = b.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.avg("prob").alias("conf"),
        F.avg(F.col("label").cast("double")).alias("acc"),
    )
    e = g.agg(
        (F.sum(F.col("n") * F.abs(F.col("acc") - F.col("conf"))) / F.sum("n")).alias(
            "ece"
        )
    )
    return g.crossJoin(e).select(
        "bin",
        F.col("n").cast("bigint").alias("n"),
        F.round("conf", 4).alias("conf_r"),
        F.round("acc", 4).alias("acc_r"),
        F.round("ece", 4).alias("ece_r"),
    )


# ---------------------------------------------------------------------------
# time-series monitoring completion: CUSUM changepoints + forecast eval
# ---------------------------------------------------------------------------


@register(
    "x_cusum_changepoint",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             round(avg(value), 6) AS x
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    m AS (
      SELECT event_type, day, x,
             round(avg(x) OVER (PARTITION BY event_type), 6) AS mu0,
             round(stddev_samp(x) OVER (PARTITION BY event_type), 6) AS sd,
             round(0.25 * round(stddev_samp(x) OVER (PARTITION BY event_type), 6), 6) AS k
      FROM d),
    s AS (
      SELECT event_type, day, x, sd,
             sum(x - mu0 - k) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sp
      FROM m),
    c AS (
      SELECT event_type, day, x, sd, sp,
             sp - least(0.0, min(sp) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cusum
      FROM s)
    SELECT event_type, day, x AS x_r,
           round(cusum, 6) AS cusum_r,
           CAST(round(cusum, 6) > round(3.0 * sd, 6) AS INT) AS alarm
    FROM c
    """,
)
def x_cusum_changepoint(spark: SparkSession, sf: str) -> DataFrame:
    """One-sided CUSUM changepoint detection (Page, Biometrika '54) on
    the per-type daily metric: with drift allowance k = 0.25σ, the
    control statistic C_t = max(0, C_{t-1} + x_t − μ₀ − k) is computed
    EXACTLY via the prefix-sum identity  C_t = S'_t − min_{0≤j≤t} S'_j
    with S'_t = Σ(x_i − μ₀ − k) and S'_0 = 0 (the least(0, ·) floor —
    dropping it forces the first day to 0 and understates any series
    whose prefix sums never dip negative) — the recursive max becomes a
    cumulative sum and a floored running min riding ONE per-type sort,
    no recursion and no UDF.  Alarm at C_t > 3σ: the upward-mean-shift
    monitor completing the time-series family (EWMA = level residuals,
    THIS = sustained shifts; a mirrored S'' detects downward).

    Cross-engine (this key found TWO real boundaries, both fixed by
    grid discipline): (1) μ₀/σ carry engine summation ULP drift, and
    window cumulative sums are NOT bit-identical either (DuckDB sums
    via segment tree, Spark sequentially), so x/μ₀/σ AND the drift term
    k are each rounded to the 1e-6 grid before entering the prefix sum
    — every summand on the grid ⇒ every C_t on the grid, never halfway;
    (2) re-rounding the 6-decimal x to 4 decimals CREATED a decimal
    halfway tie (38.37875 → Spark HALF_UP 38.3788 vs DuckDB binary
    38.3787), so outputs carry the 6-decimal values directly.  On the
    driver's iid metric alarms are 0 by construction — the adjudicated
    content is the full statistic trajectory, which any broken window
    frame flips.

    Scale: one shuffle (hash by type), a day-level aggregate first, then
    two frames over the tiny per-type day series — the corpus-sized work
    is the daily rollup, which is map-side combinable.
    """
    ev = table(spark, sf, "events").filter(F.col("value").isNotNull())
    d = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.avg("value").alias("x"))
    # x is already the 6-decimal value; re-rounding it to 4 CREATED a
    # decimal halfway tie (38.37875 -> Spark HALF_UP 38.3788, DuckDB
    # binary 38.3787 — the registry's documented round() boundary), so
    # the 6-decimal doubles go out directly.  cusum's round(·, 6) lands
    # on grid points, never halfway.
    return cusum(d, "event_type").select(
        "event_type",
        "day",
        F.col("x").alias("x_r"),
        F.round("cusum", 6).alias("cusum_r"),
        "alarm",
    )


@register(
    "x_forecast_mase",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, sum(value) AS x
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    l AS (
      SELECT event_type, day, x,
             lag(x, 7) OVER (PARTITION BY event_type ORDER BY day) AS f_seasonal,
             lag(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS f_naive
      FROM d)
    SELECT event_type,
           CAST(count(f_seasonal) AS BIGINT) AS n_scored,
           round(avg(abs(x - f_seasonal)), 4) AS mae_r,
           round(avg(CASE WHEN f_seasonal IS NOT NULL
                          THEN abs(x - f_seasonal) END)
                 / avg(CASE WHEN f_naive IS NOT NULL
                            THEN abs(x - f_naive) END), 4) AS mase_r
    FROM l GROUP BY event_type
    """,
)
def x_forecast_mase(spark: SparkSession, sf: str) -> DataFrame:
    """Seasonal-naive forecast evaluation with MASE (Hyndman & Koehler,
    IJF '06 "Another look at measures of forecast accuracy"): forecast
    each day's per-type total as the value 7 days earlier, score MAE,
    and scale by the one-step naive forecast's in-sample MAE —
    MASE < 1 means the weekly-seasonal forecast beats last-value
    carry-forward.  The forecast-eval readout of the time-series family
    (gap-fill prepares, downsample aggregates, EWMA/CUSUM monitor, THIS
    scores a predictor); scale-free, so comparable across metrics and
    event types.

    Cross-engine: both numerator and denominator are plain averages of
    |lag differences| over identical day series; only the final ratio
    is float-sensitive and it is rounded once at the end.

    Scale: the corpus-sized work is one map-side-combinable daily
    rollup; lags and both MAEs ride one per-type window sort over the
    day series (30 rows per type here, a few thousand at years of
    retention).
    """
    ev = table(spark, sf, "events").filter(F.col("value").isNotNull())
    d = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum("value").alias("x"))
    return mase(d, "event_type").select(
        "event_type",
        F.col("n_scored").cast("bigint").alias("n_scored"),
        F.round("mae", 4).alias("mae_r"),
        F.round("mase", 4).alias("mase_r"),
    )


# ---------------------------------------------------------------------------
# Gini concentration of the per-source token distribution
# ---------------------------------------------------------------------------


@register(
    "x_gini_concentration",
    oracle=r"""
    WITH toks AS (
      SELECT source,
             unnest(list_filter(string_split_regex(lower(text), '[[:space:]]+'),
                                x -> x <> '')) AS tok
      FROM documents),
    f AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY source, tok),
    r AS (
      SELECT source, c,
             row_number() OVER (PARTITION BY source
                                ORDER BY c, tok) AS i
      FROM f),
    g AS (
      SELECT source,
             count(*) AS n,
             sum(c) AS tot,
             sum(i * c) AS wsum
      FROM r GROUP BY source)
    SELECT source,
           CAST(n AS BIGINT) AS n_distinct_tokens,
           CAST(tot AS BIGINT) AS n_tokens,
           round(2.0 * wsum / (n * CAST(tot AS DOUBLE))
                 - (n + 1.0) / n, 6) AS gini_r
    FROM g
    """,
)
def x_gini_concentration(spark: SparkSession, sf: str) -> DataFrame:
    """Gini coefficient of each source's token-frequency distribution
    (Gini 1912; the sorted-rank identity G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n,
    e.g. Dorfman, Rev. Econ. Stat. '79): the corpus-concentration
    monitor next to x_source_kl (divergence BETWEEN sources) and
    x_drift_psi (shift over time) — THIS measures inequality WITHIN a
    source's vocabulary use.  Reading: a boilerplate/template-heavy
    source concentrates its token mass on few types (Gini → 1); organic
    text sits lower; a jump in one source's Gini between snapshots is
    the "viral template entered this source" alarm, cheaper than a
    dedup census.

    Cross-engine: ranks are deterministic (freq, token) row_numbers;
    Σ(i·xᵢ) and Σx are EXACT integer sums, so the Gini is one
    fixed-order double expression over exact integers — identical
    across engines before the final round (core:
    ``operators/stats.py::gini``, shared with ``gini_monitor_report``).

    Scale: one map-side-combinable (source, token) count, one rank
    window riding a source-keyed sort of the VOCABULARY-sized table
    (Heaps' law — not corpus-sized), one 4-column aggregate.  The
    corpus is scanned once; everything ranked is vocabulary-sized.
    """
    from ..functions.text import tokens as _tokens

    d = table(spark, sf, "documents")
    f = (
        d.select("source", F.explode(_tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
    )
    return gini(f, "source", "tok", "c").select(
        "source",
        F.col("n").cast("bigint").alias("n_distinct_tokens"),
        F.col("tot").cast("bigint").alias("n_tokens"),
        F.round("gini", 6).alias("gini_r"),
    )
