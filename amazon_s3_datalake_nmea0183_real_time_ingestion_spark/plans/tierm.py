"""Tier M — round-9 fifth wave, six keys completing the statistics and
scorer-evaluation columns of the analytics surface:

- nonparametric testing: exact-rank Mann–Whitney U with tie-corrected
  normal approximation (`x_mann_whitney`) — the distribution-free
  two-sample readout next to x_ttest_welch's parametric t and
  x_ks_test's full-distribution comparison (t asks "did the MEAN
  move", KS "did the DISTRIBUTION move", THIS "did one group
  stochastically dominate" — robust to the heavy tails that break t);
- causal inference: 2×2 difference-in-differences (`x_diff_in_diff`)
  — the quasi-experimental estimator for when assignment was not
  randomized, next to the randomized-experiment family (Welch/CUPED/
  SRM/SPRT all assume the split was a coin flip; DiD only assumes
  parallel trends);
- survival analysis: Kaplan–Meier product-limit curve + Nelson–Aalen
  cumulative hazard over customer order lifetimes (`x_survival`) —
  THE churn readout, completing the customer column (RFM segments,
  LTV triangle, retention grid, and now time-to-churn with correct
  censoring);
- categorical association: chi-square contingency + Cramér's V
  (`x_cramers_v`) between order priority and market segment — the
  categorical-categorical association row next to x_feature_mi
  (feature↔label MI) and x_scorer_spearman (rank↔rank);
- scorer evaluation: exact rank-identity ROC AUC (`x_auc` — AUC IS
  the normalized Mann–Whitney U, so the half-unit-rank machinery
  prices discrimination with zero float comparisons) and the decile
  gains/lift table (`x_gains_lift`) — with x_calibration and
  x_conformal this completes the scorer triptych: discrimination,
  operating points, probability calibration, coverage.

Reference parity: the reference (an NMEA-0183 → S3 ingestion CDK app,
cdk_datalake_mvp_stack.py) exposes its stage table to arbitrary Athena
SQL; these are the statistics such a datalake serves.  Cross-engine
float contract follows tierk.py/tierl.py: shared literal fragments and
shared-shape expressions, exact BIGINT arithmetic wherever the
semantics allow (MW ranks ride 2×-scaled integer "half-unit" ranks so
tie-averaged ranks stay exact; the KM product is an ORDER-PINNED fold
of 6-dp-rounded factors — both engines run the identical sequential
round-multiply-round recurrence; the NA hazard accumulates in exact
BIGINT micro-units like x_cohort_ltv's cents), and significance flags
always read the ROUNDED statistic so a ULP cannot flip a verdict.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.stats import (
    AUC,
    DID,
    DID_SE,
    DID_Z,
    KM_FACTOR,
    MW_Z,
    NA_HAZARD_U,
    diff_in_diff,
    kaplan_meier,
    rank_sum,
)
from .registry import register, table

# two-sided normal critical value at alpha = 0.05, shared literal
_Z_CRIT = 1.959964

# ---------------------------------------------------------------------------
# Mann–Whitney U (Wilcoxon rank-sum) with exact half-unit integer ranks
# ---------------------------------------------------------------------------

@register(
    "x_mann_whitney",
    oracle=f"""
    WITH tt AS (SELECT DISTINCT event_type FROM events),
    p AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b
      FROM tt a JOIN tt b ON a.event_type < b.event_type),
    tg AS (
      SELECT p.type_a, p.type_b, e.event_type, e.value
      FROM events e JOIN p
        ON e.event_type = p.type_a OR e.event_type = p.type_b
      WHERE e.value IS NOT NULL),
    g AS (
      SELECT type_a, type_b, value, count(*) AS t,
             sum(CAST(event_type = type_a AS INT)) AS a
      FROM tg GROUP BY 1, 2, 3),
    r AS (
      SELECT *, coalesce(sum(t) OVER (
               PARTITION BY type_a, type_b ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
      FROM g),
    s AS (
      SELECT type_a, type_b,
             sum(a * (2 * c + t + 1)) AS r_a2,
             sum(a) AS n_a, sum(t - a) AS n_b,
             sum(CAST(t AS DOUBLE) * t * t - t) AS tsum
      FROM r GROUP BY 1, 2),
    x AS (
      SELECT type_a, type_b, n_a, n_b, n_a + n_b AS nn,
             r_a2 - n_a * (n_a + 1) AS u2a, tsum
      FROM s)
    SELECT type_a, type_b,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(u2a AS DOUBLE) / 2.0 AS u_a,
           round({MW_Z}, 4) AS z_r,
           CAST(abs(round({MW_Z}, 4)) > {_Z_CRIT!r} AS INT) AS significant
    FROM x
    """,
)
def x_mann_whitney(spark: SparkSession, sf: str) -> DataFrame:
    """Mann–Whitney U / Wilcoxon rank-sum test (Mann & Whitney, AMS '47)
    between the metric values of every pair of event types: pooled
    ranks with tie-group AVERAGE ranks, U_a = R_a − n_a(n_a+1)/2, and
    the tie-corrected normal approximation
    z = (U − n_a·n_b/2) / sqrt(n_a·n_b/12 · ((n+1) − Σ(t³−t)/(n(n−1)))),
    significance at |z| > {_Z_CRIT} on the ROUNDED statistic.  The
    distribution-free row of the experiment family: x_ttest_welch's t
    collapses under heavy tails/outliers where rank dominance doesn't.

    Cross-engine: the ranks are ``operators/stats.py::rank_sum``'s
    exact 2×-scaled "half-unit" integers (DECIMAL(38,0) on Spark,
    HUGEINT on DuckDB), and z is the shared ``MW_Z`` fragment ending in
    an IEEE-exact sqrt, so both engines produce the bit-identical
    double; the verdict reads the 4-dp-rounded z (registry.py float
    rules).

    Scale: the corpus work is one map-side-combinable (pair, value)
    count — each event row fans out to the |types|−1 pairs its type
    participates in (bounded by the TYPE dimension, not the corpus) —
    then rank arithmetic rides the per-pair DISTINCT-VALUE support
    table exactly like x_ks_test's running sums; the final stats are
    one |pairs|-row aggregate.  No corpus-sized sort: the rank window
    orders the grouped support table, not raw rows.
    """
    # NULL metrics are not trials — and they MUST be screened: the rank
    # window orders by value, where Spark's ASC default (NULLS FIRST)
    # and DuckDB's (NULLS LAST) would place NULL rows at opposite ends
    # of the cumulative count (the registry.py NULLS-ordering rule)
    ev = (
        table(spark, sf, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    tt = ev.select("event_type").distinct()
    pairs = (
        tt.select(F.col("event_type").alias("type_a"))
        .join(
            tt.select(F.col("event_type").alias("type_b")),
            F.col("type_a") < F.col("type_b"),
        )
    )
    tagged = ev.join(
        # |types|^2 / 2 rows, estimated from the events scan (6 GB at
        # sf0.01): without the broadcast this is a CartesianProduct
        F.broadcast(pairs),
        (F.col("event_type") == F.col("type_a"))
        | (F.col("event_type") == F.col("type_b")),
    )
    x = rank_sum(
        tagged.select(
            "type_a",
            "type_b",
            "value",
            (F.col("event_type") == F.col("type_a")).cast("int").alias("is_a"),
        ),
        ["type_a", "type_b"],
        "value",
        "is_a",
    )
    return x.select(
        "type_a",
        "type_b",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.expr("CAST(u2a AS DOUBLE) / 2.0").alias("u_a"),
        F.round(F.expr(MW_Z), 4).alias("z_r"),
        (F.abs(F.round(F.expr(MW_Z), 4)) > F.lit(_Z_CRIT))
        .cast("int")
        .alias("significant"),
    )


# ---------------------------------------------------------------------------
# 2×2 difference-in-differences
# ---------------------------------------------------------------------------

@register(
    "x_diff_in_diff",
    oracle=f"""
    WITH e AS (
      SELECT user_id, value, CAST(ts AS DATE) AS d FROM events
      WHERE value IS NOT NULL),
    sp AS (
      SELECT min(d) + CAST(floor(date_diff('day', min(d), max(d)) / 2.0)
                           AS INT) AS split_d
      FROM e),
    cell AS (
      SELECT CAST(user_id % 2 = 1 AS INT) AS treat,
             CAST(d >= split_d AS INT) AS post,
             count(*) AS n, avg(value) AS m, var_samp(value) AS v
      FROM e, sp GROUP BY 1, 2),
    wdf AS (
      SELECT
        max(CASE WHEN treat = 1 AND post = 1 THEN n END) AS n11,
        max(CASE WHEN treat = 1 AND post = 0 THEN n END) AS n10,
        max(CASE WHEN treat = 0 AND post = 1 THEN n END) AS n01,
        max(CASE WHEN treat = 0 AND post = 0 THEN n END) AS n00,
        max(CASE WHEN treat = 1 AND post = 1 THEN m END) AS m11,
        max(CASE WHEN treat = 1 AND post = 0 THEN m END) AS m10,
        max(CASE WHEN treat = 0 AND post = 1 THEN m END) AS m01,
        max(CASE WHEN treat = 0 AND post = 0 THEN m END) AS m00,
        max(CASE WHEN treat = 1 AND post = 1 THEN v END) AS v11,
        max(CASE WHEN treat = 1 AND post = 0 THEN v END) AS v10,
        max(CASE WHEN treat = 0 AND post = 1 THEN v END) AS v01,
        max(CASE WHEN treat = 0 AND post = 0 THEN v END) AS v00
      FROM cell)
    SELECT CAST(n11 AS BIGINT) AS n_treat_post,
           CAST(n10 AS BIGINT) AS n_treat_pre,
           CAST(n01 AS BIGINT) AS n_ctrl_post,
           CAST(n00 AS BIGINT) AS n_ctrl_pre,
           round(m11, 4) AS mean_treat_post_r,
           round(m10, 4) AS mean_treat_pre_r,
           round(m01, 4) AS mean_ctrl_post_r,
           round(m00, 4) AS mean_ctrl_pre_r,
           round({DID}, 4) AS did_r,
           round({DID_SE}, 4) AS se_r,
           round({DID_Z}, 4) AS z_r,
           CAST(abs(round({DID_Z}, 4)) > {_Z_CRIT!r} AS INT)
             AS significant
    FROM wdf
    """,
)
def x_diff_in_diff(spark: SparkSession, sf: str) -> DataFrame:
    """2×2 difference-in-differences (Card & Krueger AER '94 canonical
    design): treatment = the deterministic user_id-parity split, period
    = before/after the midpoint of the observed date range (derived
    from the data, never a wall-clock literal), outcome = the event
    metric value.  DiD = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre)
    with the large-sample SE sqrt(Σ v_c/n_c) over the four cells and
    significance at |z| > {_Z_CRIT} on the rounded statistic — the
    quasi-experimental row of the experiment family: Welch/CUPED/SRM/
    SPRT all assume RANDOMIZED assignment; DiD is what you run when
    treatment arrived as a policy change, assuming only parallel
    trends (the pre-period difference the estimator subtracts out).

    Cross-engine: the split date is exact DATE arithmetic; cell
    (n, mean, var) are the only engine-computed aggregates (summation
    order drifts in final ULPs — the x_ttest_welch convention); every
    derived statistic is a shared-shape expression over those moments,
    rounded at 4 dp before output, and the significance verdict reads
    the rounded z, so a ULP cannot flip it.

    Scale: ONE map-side-combinable moments pass grouped by (treat,
    post) — ``operators/stats.py::diff_in_diff``, four partial-merging
    cells — plus a 1-row min/max broadcast for the split date.
    """
    e = (
        table(spark, sf, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", "value", F.col("ts").cast("date").alias("d"))
    )
    sp = e.agg(
        F.date_add(
            F.min("d"),
            F.floor(
                F.datediff(F.max("d"), F.min("d")) / F.lit(2.0)
            ).cast("int"),
        ).alias("split_d")
    )
    wdf = diff_in_diff(
        e.crossJoin(sp).select(
            (F.col("user_id") % 2 == 1).cast("int").alias("treat"),
            (F.col("d") >= F.col("split_d")).cast("int").alias("post"),
            F.col("value").alias("val"),
        )
    )
    return wdf.select(
        F.col("n11").cast("bigint").alias("n_treat_post"),
        F.col("n10").cast("bigint").alias("n_treat_pre"),
        F.col("n01").cast("bigint").alias("n_ctrl_post"),
        F.col("n00").cast("bigint").alias("n_ctrl_pre"),
        F.round("m11", 4).alias("mean_treat_post_r"),
        F.round("m10", 4).alias("mean_treat_pre_r"),
        F.round("m01", 4).alias("mean_ctrl_post_r"),
        F.round("m00", 4).alias("mean_ctrl_pre_r"),
        F.round("did", 4).alias("did_r"),
        F.round("se", 4).alias("se_r"),
        F.round("z", 4).alias("z_r"),
        (F.abs(F.round("z", 4)) > F.lit(_Z_CRIT))
        .cast("int")
        .alias("significant"),
    )


# ---------------------------------------------------------------------------
# Kaplan–Meier survival + Nelson–Aalen cumulative hazard over order lifetimes
# ---------------------------------------------------------------------------

_SURV_CHURN_DAYS = 365  # no order for a year after the last = churned
_SURV_BUCKET_DAYS = 30  # lifetime bucketed to 30-day "months"

@register(
    "x_survival",
    oracle=f"""
    WITH o AS (
      SELECT o_custkey AS ck, CAST(o_orderdate AS DATE) AS dd FROM orders),
    cust AS (
      SELECT ck, min(dd) AS first_d, max(dd) AS last_d FROM o GROUP BY ck),
    g AS (SELECT max(dd) AS end_d FROM o),
    life AS (
      SELECT CAST(floor(date_diff('day', first_d, last_d)
                        / {_SURV_BUCKET_DAYS}.0) AS INT) AS t,
             CAST(date_diff('day', last_d, end_d) > {_SURV_CHURN_DAYS}
                  AS INT) AS churned
      FROM cust, g),
    bucket AS (
      SELECT t, sum(churned) AS d, sum(1 - churned) AS c, count(*) AS m
      FROM life GROUP BY t),
    r AS (
      SELECT t, d, c,
             sum(m) OVER (ORDER BY t DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS n_risk
      FROM bucket),
    f AS (
      SELECT t, d, c, n_risk,
             {KM_FACTOR} AS factor_r, {NA_HAZARD_U} AS hz_u
      FROM r),
    k AS (
      SELECT t, d, c, n_risk,
             list_transform(
               list_sort(list(struct_pack(t := t, f := factor_r)) OVER (
                 ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
               s -> s.f) AS fl,
             sum(hz_u) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_u
      FROM f)
    SELECT CAST(t AS INT) AS t_month,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS d_churn,
           CAST(c AS BIGINT) AS c_censored,
           round(list_reduce(fl, (acc, x) -> round(acc * x, 6)), 6) AS km_r,
           round(CAST(cum_u AS DOUBLE) / 1000000.0, 6) AS na_cumhaz_r
    FROM k
    """,
)
def x_survival(spark: SparkSession, sf: str) -> DataFrame:
    """Kaplan–Meier product-limit survival curve (Kaplan & Meier,
    JASA '58) + Nelson–Aalen cumulative hazard (Aalen, AoS '78) over
    customer ORDER LIFETIMES with right censoring: lifetime = first →
    last order in {_SURV_BUCKET_DAYS}-day buckets; a customer whose
    last order is > {_SURV_CHURN_DAYS} days before the observation end
    CHURNED at that bucket, otherwise they are CENSORED there (still
    alive when observation ended — the rows a naive churn rate counts
    as churned, which is exactly the bias KM exists to remove).  Per
    bucket t: n_risk (customers with lifetime ≥ t), churn events d_t,
    censored c_t, Ŝ(t) = Π_{{s≤t}} (n_s − d_s)/n_s, Ĥ(t) = Σ d_s/n_s.
    The time-to-event row completing the customer column: RFM segments
    now, LTV prices the cohort, retention grids count returns — THIS
    says how long customers LIVE, with censoring handled correctly.

    Cross-engine: ``operators/stats.py::kaplan_meier`` — exact BIGINT
    counts, 6-dp factors from the shared ``KM_FACTOR`` fragment, the KM
    product as an ORDER-PINNED sequential fold (Spark ``aggregate`` /
    DuckDB ``list_reduce``), the hazard in exact BIGINT micro-units.

    Scale: the corpus-sized work is one map-side-combinable
    per-customer min/max rollup; the bucket table is CALENDAR-bounded
    (lifetime months — ≤ ~80 rows at any corpus size), so the suffix
    sum, the fold windows and the O(K²) prefix-fold arrays are all
    control-plane.  The 1-row observation-end broadcast prices the
    censoring cut.
    """
    o = table(spark, sf, "orders").select(
        F.col("o_custkey").alias("ck"),
        F.col("o_orderdate").cast("date").alias("dd"),
    )
    cust = o.groupBy("ck").agg(
        F.min("dd").alias("first_d"), F.max("dd").alias("last_d")
    )
    end = o.agg(F.max("dd").alias("end_d"))
    life = cust.crossJoin(end).select(
        F.floor(
            F.datediff("last_d", "first_d") / F.lit(float(_SURV_BUCKET_DAYS))
        )
        .cast("int")
        .alias("t"),
        (F.datediff("end_d", "last_d") > _SURV_CHURN_DAYS)
        .cast("int")
        .alias("churned"),
    )
    return kaplan_meier(life.withColumnRenamed("churned", "event")).select(
        F.col("t").cast("int").alias("t_month"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").cast("bigint").alias("d_churn"),
        F.col("c").cast("bigint").alias("c_censored"),
        F.round("km", 6).alias("km_r"),
        F.round(F.col("na_u").cast("double") / 1000000.0, 6).alias(
            "na_cumhaz_r"
        ),
    )


# ---------------------------------------------------------------------------
# chi-square contingency + Cramér's V (order priority × market segment)
# ---------------------------------------------------------------------------

# expected count and per-cell chi term, shared-shape over the exact
# BIGINT margins (rn, cn, nn).  min(r−1, c−1) is DERIVED from the
# observed domains (r9 ADVICE — a hardcoded 4 underestimates V on any
# corpus with fewer distinct priorities/segments): the spine is the
# complete r×c cross product, so counting its rows per pri gives c
# (cpp) and per seg gives r (cps) — exact, riding the same keyed
# exchanges as the margins.  nullif keeps a degenerate 1×c or r×1
# table (df = 0, V undefined) a NULL on BOTH engines instead of a
# Spark-only ANSI DIVIDE_BY_ZERO.
_CV_DF_EXPR = "least(CAST(cpp AS DOUBLE) - 1.0, CAST(cps AS DOUBLE) - 1.0)"
_CV_V = (
    f"round(sqrt((CAST(chi_u AS DOUBLE) / 1000000.0)"
    f" / nullif(CAST(nn AS DOUBLE) * ({_CV_DF_EXPR}), 0.0)), 6)"
)
_CV_E = "CAST(rn AS DOUBLE) * CAST(cn AS DOUBLE) / CAST(nn AS DOUBLE)"
_CV_CHI = (
    f"round((CAST(n AS DOUBLE) - {_CV_E}) * (CAST(n AS DOUBLE) - {_CV_E})"
    f" / ({_CV_E}), 6)"
)


@register(
    "x_cramers_v",
    oracle=f"""
    WITH j AS (
      SELECT o.o_orderpriority AS pri, c.c_mktsegment AS seg
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    spine AS (
      SELECT a.pri, b.seg
      FROM (SELECT DISTINCT pri FROM j) a, (SELECT DISTINCT seg FROM j) b),
    g AS (
      SELECT spine.pri, spine.seg, CAST(coalesce(cnt, 0) AS BIGINT) AS n
      FROM spine LEFT JOIN (
        SELECT pri, seg, count(*) AS cnt FROM j GROUP BY 1, 2) o
        ON o.pri = spine.pri AND o.seg = spine.seg),
    t AS (
      SELECT pri, seg, n,
             sum(n) OVER (PARTITION BY pri) AS rn,
             sum(n) OVER (PARTITION BY seg) AS cn,
             sum(n) OVER () AS nn,
             count(*) OVER (PARTITION BY pri) AS cpp,
             count(*) OVER (PARTITION BY seg) AS cps
      FROM g),
    c AS (
      SELECT pri, seg, n, nn, cpp, cps,
             round({_CV_E}, 6) AS expected_r,
             {_CV_CHI} AS chi_r
      FROM t),
    s AS (
      SELECT pri, seg, n, nn, cpp, cps, expected_r, chi_r,
             sum(CAST(round(chi_r * 1000000.0) AS BIGINT)) OVER () AS chi_u
      FROM c)
    SELECT pri, seg, n, expected_r, chi_r,
           round(CAST(chi_u AS DOUBLE) / 1000000.0, 4) AS chi_total_r,
           {_CV_V} AS cramers_v_r
    FROM s
    """,
)
def x_cramers_v(spark: SparkSession, sf: str) -> DataFrame:
    """Chi-square contingency test + Cramér's V (Cramér '46) between
    order priority and customer market segment: the full 5×5 observed/
    expected table (spine-joined so structurally-empty cells still
    contribute their expected count — the x_benford lesson), each
    cell's chi contribution, the order-pinned total, and
    V = sqrt(χ²/(N·min(r−1, c−1))) ∈ [0, 1] — the categorical↔
    categorical association row next to x_feature_mi (feature↔label
    MI) and x_scorer_spearman (rank↔rank).  Near-zero V here is itself
    the data-quality assertion: priority must NOT depend on segment in
    a healthy generator.

    Cross-engine: counts and margins are exact BIGINT; expected and
    per-cell chi are shared-shape expressions rounded at 6 dp; the
    25-term total converts each rounded term to exact BIGINT
    micro-units and sums associatively (the x_benford order-pinned
    pattern); V derives from the pinned total in one IEEE
    division + sqrt.  min(r−1, c−1) is DERIVED from the observed
    domains via the complete spine's per-row counts (cpp = c, cps = r)
    — exact on any corpus, NULL V when df = 0 (single row/column) on
    both engines.

    Scale: one keyed join (customer is the dimension side — broadcast
    at warehouse scale, AQE decides here) feeding one
    map-side-combinable 25-cell count; margins, chi terms and V all
    ride the |domain|²-sized table — control-plane at any corpus size.
    """
    o = table(spark, sf, "orders").select(
        F.col("o_custkey").alias("ck"), F.col("o_orderpriority").alias("pri")
    )
    c = table(spark, sf, "customer").select(
        F.col("c_custkey").alias("ck"), F.col("c_mktsegment").alias("seg")
    )
    j = o.join(c, "ck").select("pri", "seg")
    counts = j.groupBy("pri", "seg").agg(F.count("*").alias("cnt"))
    spine = (
        j.select("pri")
        .distinct()
        # 5 segments, but estimated from orders ⋈ customer (641 MB at
        # sf0.01): the broadcast keeps the spine off a CartesianProduct
        .crossJoin(F.broadcast(j.select("seg").distinct()))
    )
    g = spine.join(counts, ["pri", "seg"], "left").select(
        "pri", "seg", F.coalesce(F.col("cnt"), F.lit(0)).cast("bigint").alias("n")
    )
    t = g.select(
        "pri", "seg", "n",
        F.sum("n").over(Window.partitionBy("pri")).alias("rn"),
        F.sum("n").over(Window.partitionBy("seg")).alias("cn"),
        F.sum("n").over(Window.partitionBy()).alias("nn"),
        # spine rows per pri = |seg domain| (c); per seg = |pri| (r) —
        # the derived-df inputs, riding the rn/cn exchanges
        F.count("*").over(Window.partitionBy("pri")).alias("cpp"),
        F.count("*").over(Window.partitionBy("seg")).alias("cps"),
    )
    cdf = t.select(
        "pri", "seg", "n", "nn", "cpp", "cps",
        F.round(F.expr(_CV_E), 6).alias("expected_r"),
        F.expr(_CV_CHI).alias("chi_r"),
    )
    s = cdf.withColumn(
        "chi_u",
        F.sum(F.round(F.col("chi_r") * 1000000.0).cast("bigint")).over(
            Window.partitionBy()
        ),
    )
    return s.select(
        "pri", "seg", "n", "expected_r", "chi_r",
        F.round(F.col("chi_u").cast("double") / 1000000.0, 4).alias(
            "chi_total_r"
        ),
        F.expr(_CV_V).alias("cramers_v_r"),
    )


# ---------------------------------------------------------------------------
# ranking-quality evaluation of the fixed scorer: exact AUC + gains/lift
# ---------------------------------------------------------------------------

# The fixed scorer of x_calibration / x_quality_model, WITHOUT the
# sigmoid: AUC and decile ranks only need the score ORDER, and the
# en-stopword RATIO is a monotone transform of the logistic output —
# dropping exp() removes the one libm call, so the whole evaluation is
# integer-exact.  Shared stopword list literal (x_calibration's).
_EVAL_STOPS = "['the','a','of','and','to','in','is','it','that','for']"


@register(
    "x_auc",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(lower(text), '[[:space:]]+'),
                         x -> x <> '') AS t
      FROM documents),
    sc AS (
      SELECT doc_id, CAST(lang = 'en' AS INT) AS label,
             round(len(list_filter(t, x -> list_contains({_EVAL_STOPS}, x)))
                   / greatest(len(t), 1), 6) AS score_r
      FROM toks),
    g AS (
      SELECT score_r, count(*) AS t, sum(label) AS pos
      FROM sc GROUP BY score_r),
    r AS (
      SELECT *, coalesce(sum(t) OVER (ORDER BY score_r
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
      FROM g),
    s AS (
      SELECT sum(pos * (2 * c + t + 1)) AS r_pos2,
             sum(pos) AS n_pos, sum(t - pos) AS n_neg
      FROM r)
    SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
           round(CAST(r_pos2 - n_pos * (n_pos + 1) AS DOUBLE)
                 / nullif(2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE), 0.0), 6)
             AS auc_r,
           round(CAST(r_pos2 - n_pos * (n_pos + 1) AS DOUBLE)
                 / nullif(CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE), 0.0) - 1.0, 6)
             AS gini_r
    FROM s
    """,
)
def x_auc(spark: SparkSession, sf: str) -> DataFrame:
    """Exact ROC AUC of the fixed quality scorer against the lang='en'
    label via the rank-statistic identity AUC = (R₊ − n₊(n₊+1)/2)/
    (n₊·n₋) (Hanley & McNeil, Radiology '82 — AUC IS the normalized
    Mann–Whitney U), with tie groups contributing their average rank
    (equivalent to counting ties as half-concordant).  Plus the Gini
    coefficient 2·AUC − 1.  The ranking-quality row of the eval-ops
    family: x_calibration audits whether scores are PROBABILITIES,
    x_conformal audits coverage — THIS audits pure DISCRIMINATION,
    which survives any monotone miscalibration.

    Cross-engine: the score is the stopword RATIO (the x_calibration
    scorer without its sigmoid — AUC is invariant under the monotone
    transform, and dropping exp() removes the only libm call), rounded
    at 6 dp so both engines group identical doubles; ranks are
    ``operators/stats.py::rank_sum``'s exact half-unit integers (shared
    with x_mann_whitney) and AUC is ONE division of exact integers.

    Scale: one map-side score projection, one (score, label) count —
    the rank window runs over the DISTINCT-SCORE support table
    (≤ 10⁶ + 1 distinct 6-dp ratios regardless of corpus size), then a
    1-row aggregate.  The 100 TB AUC evaluation is exactly this shape;
    no corpus sort.
    """
    from ..functions.text import tokens as _tokens

    d = table(spark, sf, "documents")
    stops = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]
    sc = d.select(
        (F.col("lang") == "en").cast("int").alias("label"),
        _tokens("text").alias("__t"),
    ).select(
        "label",
        F.round(
            F.size(F.filter(F.col("__t"), lambda x: x.isin(*stops)))
            / F.greatest(F.size("__t"), F.lit(1)),
            6,
        ).alias("score_r"),
    )
    s = rank_sum(sc, [], "score_r", "label")
    return s.select(
        F.col("n_a").cast("bigint").alias("n_pos"),
        F.col("n_b").cast("bigint").alias("n_neg"),
        F.round(F.expr(AUC), 6).alias("auc_r"),
        F.round(
            F.expr(
                "CAST(u2a AS DOUBLE)"
                " / nullif(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE), 0.0) - 1.0"
            ),
            6,
        ).alias("gini_r"),
    )


@register(
    "x_gains_lift",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(lower(text), '[[:space:]]+'),
                         x -> x <> '') AS t
      FROM documents),
    sc AS (
      SELECT doc_id, CAST(lang = 'en' AS INT) AS label,
             round(len(list_filter(t, x -> list_contains({_EVAL_STOPS}, x)))
                   / greatest(len(t), 1), 6) AS score_r
      FROM toks),
    dec AS (
      SELECT label,
             ntile(10) OVER (ORDER BY score_r DESC, doc_id) AS decile
      FROM sc),
    g AS (
      SELECT decile, count(*) AS n, sum(label) AS n_pos
      FROM dec GROUP BY decile),
    w AS (
      SELECT decile, n, n_pos,
             sum(n_pos) OVER (ORDER BY decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos,
             sum(n_pos) OVER () AS tot_pos, sum(n) OVER () AS tot_n
      FROM g)
    SELECT CAST(decile AS INT) AS decile, CAST(n AS BIGINT) AS n,
           CAST(n_pos AS BIGINT) AS n_pos,
           round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS resp_rate_r,
           round(CAST(cum_pos AS DOUBLE) / nullif(CAST(tot_pos AS DOUBLE), 0.0), 6)
             AS cum_gain_r,
           round((CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
                 / nullif(CAST(tot_pos AS DOUBLE) / CAST(tot_n AS DOUBLE),
                          0.0), 6)
             AS lift_r
    FROM w
    """,
)
def x_gains_lift(spark: SparkSession, sf: str) -> DataFrame:
    """Decile gains table + lift chart of the fixed quality scorer
    (the direct-marketing / model-triage standard readout): documents
    ranked by score descending, cut into ntile(10) deciles (doc_id
    tie-break makes the cut fully determined — the x_rfm convention),
    and per decile the response rate, the CUMULATIVE share of all
    positives captured (gains), and lift = decile rate / base rate.
    "Read the top decile and you have X % of the English corpus" — the
    operating-point view AUC integrates away; together with x_auc and
    x_calibration this completes the scorer triptych (discrimination,
    operating points, probability calibration).

    Cross-engine: the score is the same 6-dp-pinned stopword ratio as
    x_auc; ntile over a fully-determined total order is ANSI-identical;
    counts and the cumulative are exact BIGINT; rates/gains/lift are
    single divisions of exact integers, rounded at 6 dp.

    Scale: one score projection + ONE global ntile sort — the one
    corpus-ordered operation (TakeOrdered can't help; production
    replaces exact ntile with approxQuantile score cuts broadcast as
    width_bucket, the x_rfm / x_percentile_norm documented move) —
    then a 10-row aggregate and control-plane windows.
    """
    from ..functions.text import tokens as _tokens

    d = table(spark, sf, "documents")
    stops = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]
    sc = d.select(
        "doc_id",
        (F.col("lang") == "en").cast("int").alias("label"),
        _tokens("text").alias("__t"),
    ).select(
        "doc_id",
        "label",
        F.round(
            F.size(F.filter(F.col("__t"), lambda x: x.isin(*stops)))
            / F.greatest(F.size("__t"), F.lit(1)),
            6,
        ).alias("score_r"),
    )
    dec = sc.select(
        "label",
        F.ntile(10)
        .over(Window.orderBy(F.col("score_r").desc(), F.col("doc_id")))
        .alias("decile"),
    )
    g = dec.groupBy("decile").agg(
        F.count("*").alias("n"), F.sum("label").alias("n_pos")
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    w = g.select(
        "decile", "n", "n_pos",
        F.sum("n_pos").over(wc).alias("cum_pos"),
        F.sum("n_pos").over(wall).alias("tot_pos"),
        F.sum("n").over(wall).alias("tot_n"),
    )
    # tot_pos guards mirror the oracle's nullif: a zero-positive corpus
    # (no 'en' documents) yields NULL gains/lift on BOTH engines instead
    # of a Spark-only ANSI DIVIDE_BY_ZERO (r9 ADVICE; the module's
    # shared nullif convention — n/tot_n are ntile cells, never 0)
    return w.select(
        F.col("decile").cast("int").alias("decile"),
        F.col("n").cast("bigint").alias("n"),
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.round(
            F.col("n_pos").cast("double") / F.col("n").cast("double"), 6
        ).alias("resp_rate_r"),
        F.round(
            F.expr(
                "CAST(cum_pos AS DOUBLE)"
                " / nullif(CAST(tot_pos AS DOUBLE), 0.0)"
            ),
            6,
        ).alias("cum_gain_r"),
        F.round(
            F.expr(
                "(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))"
                " / nullif(CAST(tot_pos AS DOUBLE) / CAST(tot_n AS DOUBLE),"
                " 0.0)"
            ),
            6,
        ).alias("lift_r"),
    )
