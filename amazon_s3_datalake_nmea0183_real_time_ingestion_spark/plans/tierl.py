"""Tier L — round-8 fourth wave, thirteen keys in nine families, plus
the round-9 sketch-store twin `x_active_users_hll` (fourteen total):

- data-quality audit: Benford first-significant-digit conformance of the
  order-value distribution (`x_benford`) — the fraud/synthetic-data
  screen next to x_data_checks' structural assertions;
- time-series diagnostics: autocorrelation function of the daily event
  series (`x_autocorr`) and STL-lite seasonal-strength decomposition
  (`x_seasonality_strength`) — completing the monitor family
  (EWMA → CUSUM → MASE → ACF/seasonality: detect, locate, score,
  EXPLAIN the structure the others condition on);
- privacy: l-diversity audit (`x_l_diversity`) — the sensitive-attribute
  side of x_k_anonymity's class-size audit (a k-anonymous class whose
  members all share one salary band still leaks);
- market-basket analytics: a-priori-guarded association rules with
  support/confidence/lift (`x_basket_rules`) — the co-purchase rule
  surface over the affinity graph x_link_adamic ranks;
- customer analytics: RFM quintile segmentation (`x_rfm`) and the
  cohort lifetime-value triangle (`x_cohort_ltv`, q_retention's
  revenue-weighted twin, exact BIGINT-cents money arithmetic);
- supervised data prep: smoothed leave-one-out target encoding
  (`x_target_encoding`) — the categorical-feature transform whose
  self-leakage trap x_split_leakage audits at the split level;
- engagement / sequential monitoring: rolling DAU/WAU/MAU distinct
  rollups (`x_active_users`), their mergeable per-day HLL sketch-store
  twin (`x_active_users_hll`, the adjudicated 100 TB path), and the
  Wald SPRT peeking-safe conversion monitor (`x_sprt`), completing the
  experiment family;
- spatial: 10° grid-cell hotspot table over the fleet's positions
  (`x_geo_grid`) — stage one of the documented points-to-points
  geo-join screen;
- exact distribution testing / uncertainty: binless two-sample KS
  test with BIGINT-exact supremum (`x_ks_test`, next to PSI's binned
  comparison) and the split-conformal per-source coverage audit
  (`x_conformal`, the distribution-free set-coverage side of
  x_calibration's probability audit).

Reference parity: the reference (an NMEA-0183 → S3 ingestion CDK app,
cdk_datalake_mvp_stack.py) exposes its stage table to arbitrary Athena
SQL; these keys are the analytics workloads such a datalake serves,
expressed Spark-first.  Cross-engine float contract follows tierk.py's
module docstring: shared literal fragments via repr(), pin-then-derive
(round intermediate window/aggregate outputs to 6 dp before reuse so
both engines continue from identical doubles), integer counts wherever
the semantics allow.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.stats import BENFORD_P, benford, ks_test, sprt
from ..storage import stored
from .registry import register, table

# ---------------------------------------------------------------------------
# Benford first-digit audit — shared expected-probability fragment
# ---------------------------------------------------------------------------

@register(
    "x_benford",
    oracle=f"""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                         1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice >= 1.0),
    g AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
    spine AS (SELECT unnest(generate_series(1, 9)) AS digit),
    f AS (
      SELECT spine.digit, coalesce(g.n, 0) AS n
      FROM spine LEFT JOIN g ON g.digit = spine.digit),
    t AS (SELECT f.*, sum(n) OVER () AS big_n, {BENFORD_P} AS p FROM f),
    c AS (
      SELECT digit, n, big_n,
             round(big_n * p, 6) AS expected_r,
             round((n - big_n * p) * (n - big_n * p) / (big_n * p), 6)
               AS chi_r
      FROM t)
    SELECT digit, CAST(n AS BIGINT) AS n, expected_r, chi_r,
           round(CAST(sum(CAST(round(chi_r * 1000000.0) AS BIGINT)) OVER ()
                      AS DOUBLE) / 1000000.0, 4) AS chi_total_r
    FROM c
    """,
)
def x_benford(spark: SparkSession, sf: str) -> DataFrame:
    """Benford's-law first-significant-digit audit (Benford '38; Nigrini's
    forensic-accounting screen) of ``o_totalprice``: for EVERY digit
    1–9 (a spine join — absent digits contribute (0−N·p)²/(N·p) = N·p,
    often the dominant term exactly when the data deviates most), the
    count, the Benford-expected count N*log10(1+1/d), the chi-square
    contribution, and the total statistic.  A value column that a human
    (or a sloppy generator) invented drifts from the log-law; a natural
    multiplicative process follows it.  The distributional data-quality
    screen next to x_data_checks' structural assertions and
    x_drift_psi's two-sample comparison — this one needs NO reference
    sample, the law IS the reference.

    Cross-engine: ``operators/stats.py::benford`` extracts digits via
    floor → BIGINT → string (never float formatting) against the
    repr()'d ``BENFORD_P`` literals, one IEEE expression per digit; the
    9-term total is ORDER-PINNED (r8 ADVICE): each rounded chi_r becomes
    exact BIGINT micro-units, summed associatively, then one IEEE
    division + round(4).

    Scale: one map-side-combinable 9-group count; everything after the
    groupBy is constant-size (≤ 9 rows).  The window-sum total is a
    1-partition exchange over 9 rows — control-plane.
    """
    o = table(spark, sf, "orders").filter(F.col("o_totalprice") >= 1.0)
    c = benford(o, "o_totalprice").select(
        "digit",
        F.col("n").cast("bigint").alias("n"),
        F.round("expected", 6).alias("expected_r"),
        F.round("chi", 6).alias("chi_r"),
    )
    # Order-pinned total (r8 ADVICE): the 9 chi_r terms are already exact
    # 6-dp doubles, so chi_r·10⁶ is within 1 ulp of an integer — round to
    # BIGINT micro-units, sum EXACTLY (integer addition is associative),
    # then one IEEE division + round(4).  No association-order exposure
    # remains anywhere in the module.
    return c.select(
        "digit",
        "n",
        "expected_r",
        "chi_r",
        F.round(
            F.sum(F.round(F.col("chi_r") * 1000000.0).cast("bigint"))
            .over(Window.partitionBy())
            .cast("double")
            / 1000000.0,
            4,
        ).alias("chi_total_r"),
    )


# ---------------------------------------------------------------------------
# autocorrelation function of the daily event series
# ---------------------------------------------------------------------------

_ACF_MAX_LAG = 7


@register(
    "x_autocorr",
    oracle=f"""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2),
    m AS (
      SELECT event_type, day, x,
             round(avg(x) OVER (PARTITION BY event_type), 6) AS mu
      FROM d),
    l AS (
      SELECT event_type, day, x, mu,
             {", ".join(f"lag(x, {k}) OVER w AS l{k}" for k in range(1, _ACF_MAX_LAG + 1))}
      FROM m WINDOW w AS (PARTITION BY event_type ORDER BY day)),
    a AS (
      SELECT event_type,
             round(sum((x - mu) * (x - mu)), 6) AS den,
             {", ".join(
                 f"round(sum(CASE WHEN l{k} IS NOT NULL THEN (x - mu) * (l{k} - mu) END), 6) AS c{k}"
                 for k in range(1, _ACF_MAX_LAG + 1)
             )}
      FROM l GROUP BY event_type)
    SELECT event_type, lag_k,
           round(c / nullif(den, 0.0), 6) AS acf_r
    FROM a, (VALUES {", ".join(f"({k})" for k in range(1, _ACF_MAX_LAG + 1))}) v(lag_k),
         LATERAL (SELECT CASE lag_k {" ".join(f"WHEN {k} THEN c{k}" for k in range(1, _ACF_MAX_LAG + 1))} END AS c)
    """,
)
def x_autocorr(spark: SparkSession, sf: str) -> DataFrame:
    """Sample autocorrelation function (Box–Jenkins) of the per-type
    daily event-count series at lags 1..{_ACF_MAX_LAG}: r_k =
    Σ(x_t−x̄)(x_{{t−k}}−x̄) / Σ(x_t−x̄)², the standard biased estimator
    with the GLOBAL series mean in both numerator and denominator.  The
    structure-diagnosis row of the monitor family: CUSUM says WHERE the
    level shifted, MASE says how forecastable the series is, ACF says
    what memory/periodicity the other monitors must condition on (a
    spike at lag 7 = weekly seasonality → a daily-mean monitor will
    false-alarm every weekend).

    Cross-engine: the series is an integer daily count cast to double
    (exact); x̄ is pinned at 6 dp before the deviation products, so every
    product is bit-identical; the two order-unspecified sums (num, den)
    are rounded at 6 dp; the final ratio is one IEEE division, rounded.
    Constant series (den = 0) yield NULL via nullif/try-guard on both
    engines.

    Scale: one map-side-combinable (type, day) count, then ONE window
    pass per type computes all {_ACF_MAX_LAG} lag columns (a single sort,
    not {_ACF_MAX_LAG}), and the unpivot is an Expand node — no extra
    shuffle.  Output is |types| × {_ACF_MAX_LAG} rows regardless of
    corpus size; per-type series length is bounded by the calendar, not
    the row count, so the window partition never skews.
    """
    e = table(spark, sf, "events")
    d = (
        e.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("double").alias("x"))
    )
    m = d.select(
        "event_type",
        "day",
        "x",
        F.round(F.avg("x").over(Window.partitionBy("event_type")), 6).alias(
            "mu"
        ),
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = m.select(
        "event_type",
        "x",
        "mu",
        *[
            F.lag("x", k).over(w).alias(f"l{k}")
            for k in range(1, _ACF_MAX_LAG + 1)
        ],
    )
    dev = F.col("x") - F.col("mu")
    a = lagged.groupBy("event_type").agg(
        F.round(F.sum(dev * dev), 6).alias("den"),
        *[
            F.round(
                F.sum(
                    F.when(
                        F.col(f"l{k}").isNotNull(),
                        dev * (F.col(f"l{k}") - F.col("mu")),
                    )
                ),
                6,
            ).alias(f"c{k}")
            for k in range(1, _ACF_MAX_LAG + 1)
        ],
    )
    long = a.unpivot(
        ["event_type", "den"],
        [f"c{k}" for k in range(1, _ACF_MAX_LAG + 1)],
        "lag_name",
        "c",
    )
    return long.select(
        "event_type",
        F.substring("lag_name", 2, 2).cast("int").alias("lag_k"),
        F.round(
            F.try_divide(F.col("c"), F.nullif(F.col("den"), F.lit(0.0))), 6
        ).alias("acf_r"),
    )


# ---------------------------------------------------------------------------
# l-diversity privacy audit (companion to x_k_anonymity)
# ---------------------------------------------------------------------------

_LDIV_L = 3  # required distinct sensitive values per QI class
_LDIV_BAND = 2000.0  # account-balance band width (the sensitive attribute)


@register(
    "x_l_diversity",
    oracle=f"""
    SELECT CAST(c_nationkey AS INT) AS nationkey,
           c_mktsegment AS mktsegment,
           CAST(count(*) AS BIGINT) AS group_n,
           CAST(count(DISTINCT CAST(floor(c_acctbal / {_LDIV_BAND!r}) AS INT))
                AS BIGINT) AS l_distinct,
           CAST(count(DISTINCT CAST(floor(c_acctbal / {_LDIV_BAND!r}) AS INT))
                >= {_LDIV_L} AS INT) AS meets_l
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
)
def x_l_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct l-diversity audit (Machanavajjhala et al., ICDE '06) over
    the same QI classes as x_k_anonymity (nationkey, mktsegment), with
    the account-balance band (width {_LDIV_BAND:g}) as the sensitive
    attribute: a class where every member falls in ONE band leaks the
    balance even when it meets k — l-diversity requires ≥ {_LDIV_L}
    distinct sensitive values per class.  Together the two keys are the
    release gate: k bounds re-identification, l bounds attribute
    inference.

    Cross-engine: floor(x / literal) is one IEEE division + floor (exact
    both engines); everything else is integer counts.

    Scale: one shuffle keyed by the QI tuple with a partial distinct
    (Spark rewrites count(distinct) to a two-phase expand-aggregate);
    output is |QI-space|-sized regardless of corpus size.
    """
    c = table(spark, sf, "customer")
    band = F.floor(F.col("c_acctbal") / _LDIV_BAND).cast("int")
    return c.groupBy(
        F.col("c_nationkey").cast("int").alias("nationkey"),
        F.col("c_mktsegment").alias("mktsegment"),
    ).agg(
        F.count("*").cast("bigint").alias("group_n"),
        F.countDistinct(band).cast("bigint").alias("l_distinct"),
        (F.countDistinct(band) >= _LDIV_L).cast("int").alias("meets_l"),
    )


# ---------------------------------------------------------------------------
# a-priori-guarded association rules over order baskets
# ---------------------------------------------------------------------------

_BASKET_MINSUP = 20  # min orders containing an item (a-priori prune)
_BASKET_MINPAIR = 2  # min co-occurrences to emit a rule


@register(
    "x_basket_rules",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    big_n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM items),
    sup AS (
      SELECT l_partkey, count(*) AS s FROM items GROUP BY l_partkey
      HAVING count(*) >= {_BASKET_MINSUP}),
    fi AS (
      SELECT i.l_orderkey, i.l_partkey, sup.s
      FROM items i JOIN sup USING (l_partkey)),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             any_value(a.s) AS s_a, any_value(b.s) AS s_b,
             count(*) AS pair_n
      FROM fi a JOIN fi b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {_BASKET_MINPAIR})
    SELECT CAST(part_a AS BIGINT) AS part_a,
           CAST(part_b AS BIGINT) AS part_b,
           CAST(pair_n AS BIGINT) AS pair_n,
           round(CAST(pair_n AS DOUBLE) / s_a, 6) AS conf_ab_r,
           round(CAST(pair_n AS DOUBLE) / s_b, 6) AS conf_ba_r,
           round(CAST(pair_n AS DOUBLE) * n_orders / (s_a * CAST(s_b AS DOUBLE)), 6)
             AS lift_r
    FROM pairs, big_n
    """,
)
def x_basket_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Association rules (Agrawal–Srikant a-priori, VLDB '94) over order
    baskets: for every frequent part pair, the co-occurrence count,
    both directed confidences P(b|a)/P(a|b), and the lift
    n_ab·N/(n_a·n_b).  The rule surface over the same co-purchase
    structure x_link_adamic scores for MISSING links — this key scores
    the links that exist.  min-support {_BASKET_MINSUP} is the a-priori
    prune (no infrequent item can appear in a frequent pair); min-pair
    {_BASKET_MINPAIR} keeps the rule set deterministic and
    noise-floor-free.

    Cross-engine: every count is an integer; confidences and lift are
    single IEEE divisions over identical integers, rounded at 6 dp.

    Scale: pair generation is a SELF-JOIN KEYED BY ORDER — cost
    Σ_orders b² where b is basket width (~4 here, bounded by order size,
    not corpus size), i.e. linear in rows, never |parts|² — with the
    a-priori support prune applied BEFORE the join so every candidate
    side is pre-shrunk.  The support table rides along the join inputs
    (any_value re-read, no extra join); the 1-row basket count is a
    broadcast.  Skewed baskets would be capped the same way
    q_triangle_count_guarded caps hub degree; TPC-H orders are ≤ 7
    lines so no cap is needed here.
    """
    li = table(spark, sf, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = items.select(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    sup = (
        items.groupBy("l_partkey")
        .agg(F.count("*").alias("s"))
        .filter(F.col("s") >= _BASKET_MINSUP)
    )
    fi = items.join(sup, "l_partkey").select("l_orderkey", "l_partkey", "s")
    a = fi.select(
        "l_orderkey",
        F.col("l_partkey").alias("part_a"),
        F.col("s").alias("s_a"),
    )
    b = fi.select(
        "l_orderkey",
        F.col("l_partkey").alias("part_b"),
        F.col("s").alias("s_b"),
    )
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(
            F.any_value("s_a").alias("s_a"),
            F.any_value("s_b").alias("s_b"),
            F.count("*").alias("pair_n"),
        )
        .filter(F.col("pair_n") >= _BASKET_MINPAIR)
    )
    return pairs.crossJoin(n_orders).select(
        F.col("part_a").cast("bigint").alias("part_a"),
        F.col("part_b").cast("bigint").alias("part_b"),
        F.col("pair_n").cast("bigint").alias("pair_n"),
        F.round(F.col("pair_n").cast("double") / F.col("s_a"), 6).alias(
            "conf_ab_r"
        ),
        F.round(F.col("pair_n").cast("double") / F.col("s_b"), 6).alias(
            "conf_ba_r"
        ),
        F.round(
            F.col("pair_n").cast("double")
            * F.col("n_orders")
            / (F.col("s_a") * F.col("s_b").cast("double")),
            6,
        ).alias("lift_r"),
    )


# ---------------------------------------------------------------------------
# STL-lite seasonal-strength decomposition of the daily series
# ---------------------------------------------------------------------------

_SEAS_HALF = 3  # centered moving-average half-width (7-day trend)


@register(
    "x_seasonality_strength",
    oracle=f"""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS x
      FROM events GROUP BY 1),
    t AS (
      SELECT day, x,
             CASE WHEN count(*) OVER w = {2 * _SEAS_HALF + 1}
                  THEN round(avg(x) OVER w, 6) END AS trend
      FROM d
      WINDOW w AS (ORDER BY day
                   ROWS BETWEEN {_SEAS_HALF} PRECEDING AND {_SEAS_HALF} FOLLOWING)),
    det AS (
      SELECT day, isodow(day) - 1 AS dow, x - trend AS det
      FROM t WHERE trend IS NOT NULL),
    s AS (
      SELECT day, dow, det,
             round(avg(det) OVER (PARTITION BY dow), 6) AS seas_r,
             CAST(count(*) OVER (PARTITION BY dow) AS BIGINT) AS n_days
      FROM det),
    v AS (
      SELECT dow, seas_r, n_days,
             round(var_samp(det - seas_r) OVER (), 6) AS var_rem,
             round(var_samp(det) OVER (), 6) AS var_det
      FROM s)
    SELECT DISTINCT dow, seas_r, n_days,
           round(greatest(0.0, 1.0 - var_rem / nullif(var_det, 0.0)), 4)
             AS strength_r
    FROM v
    """,
)
def x_seasonality_strength(spark: SparkSession, sf: str) -> DataFrame:
    """STL-lite seasonal decomposition (Cleveland et al. '90, strength
    metric per Wang–Hyndman–Smith '06) of the global daily event-count
    series: trend = centered {2 * _SEAS_HALF + 1}-day moving average
    (full windows only), seasonal = day-of-week mean of the detrended
    series, and seasonal STRENGTH = max(0, 1 − Var(remainder)/
    Var(detrended)) — the fraction of non-trend variance the weekly
    cycle explains.  One row per day-of-week (Monday = 0) with its
    seasonal component, sample count, and the global strength.  The
    quantitative answer to what x_autocorr's lag-7 spike hints at, and
    the deseasonalization input a production CUSUM/EWMA monitor would
    subtract first.

    Cross-engine: the series is an integer count cast to double; trend
    and the per-dow seasonal means are pinned at 6 dp before reuse
    (pin-then-derive), so the remainder column is bit-identical;
    var_samp over the ~constant-size interior-day set is the one
    order-unspecified aggregate, rounded before the ratio.  Day-of-week
    via Spark ``weekday`` = DuckDB ``isodow − 1`` (Monday = 0 both).

    Scale: the daily rollup is map-side-combinable; everything after it
    operates on a CALENDAR-sized frame (365 rows/year regardless of
    corpus size), so the unpartitioned windows are control-plane, the
    same justification as x_cusum_changepoint's per-type series.
    """
    e = table(spark, sf, "events")
    d = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").cast("double").alias("x")
    )
    w = (
        Window.orderBy("day")
        .rowsBetween(-_SEAS_HALF, _SEAS_HALF)
    )
    t = d.select(
        "day",
        "x",
        F.when(
            F.count("*").over(w) == 2 * _SEAS_HALF + 1,
            F.round(F.avg("x").over(w), 6),
        ).alias("trend"),
    )
    det = t.filter(F.col("trend").isNotNull()).select(
        "day",
        F.weekday("day").alias("dow"),
        (F.col("x") - F.col("trend")).alias("det"),
    )
    s = det.select(
        "dow",
        "det",
        F.round(F.avg("det").over(Window.partitionBy("dow")), 6).alias(
            "seas_r"
        ),
        F.count("*").over(Window.partitionBy("dow")).cast("bigint").alias(
            "n_days"
        ),
    )
    w_all = Window.partitionBy()
    v = s.select(
        "dow",
        "seas_r",
        "n_days",
        F.round(
            F.var_samp(F.col("det") - F.col("seas_r")).over(w_all), 6
        ).alias("var_rem"),
        F.round(F.var_samp("det").over(w_all), 6).alias("var_det"),
    )
    return v.select(
        "dow",
        "seas_r",
        "n_days",
        F.round(
            F.greatest(
                F.lit(0.0),
                F.lit(1.0)
                - F.try_divide(
                    F.col("var_rem"), F.nullif(F.col("var_det"), F.lit(0.0))
                ),
            ),
            4,
        ).alias("strength_r"),
    ).distinct()


# ---------------------------------------------------------------------------
# RFM customer segmentation
# ---------------------------------------------------------------------------

_RFM_BUCKETS = 5


@register(
    "x_rfm",
    oracle=f"""
    WITH ref AS (SELECT max(CAST(o_orderdate AS DATE)) AS ref_day FROM orders),
    c AS (
      SELECT o_custkey AS custkey,
             (SELECT ref_day FROM ref) - max(CAST(o_orderdate AS DATE))
               AS recency_days,
             count(*) AS frequency,
             round(sum(o_totalprice), 4) AS monetary_r
      FROM orders GROUP BY o_custkey)
    SELECT custkey, CAST(recency_days AS INT) AS recency_days,
           CAST(frequency AS BIGINT) AS frequency, monetary_r,
           ntile({_RFM_BUCKETS}) OVER (ORDER BY recency_days ASC, custkey)
             AS r_score,
           ntile({_RFM_BUCKETS}) OVER (ORDER BY frequency DESC, custkey)
             AS f_score,
           ntile({_RFM_BUCKETS}) OVER (ORDER BY monetary_r DESC, custkey)
             AS m_score
    FROM c
    """,
)
def x_rfm(spark: SparkSession, sf: str) -> DataFrame:
    """RFM customer segmentation (Hughes '94, the classic
    recency/frequency/monetary direct-marketing model): per customer,
    days since last order relative to the corpus's newest order, order
    count, revenue sum, and quintile scores on each axis (quintile 1 =
    most recent / most frequent / highest spend, the conventional "555
    is best" read inverted to "111 is best" for a deterministic
    ascending tie-break).  The behavioral-segmentation row of the
    analytics surface, feeding the same mixture/quota machinery
    x_domain_quota applies to document sources.

    Cross-engine: recency/frequency are integers (DATE subtraction is
    exact); monetary is rounded at 4 dp BEFORE the ranking windows so
    both engines rank identical doubles; every ntile ordering carries a
    custkey tie-break (total order → identical bucket assignment, since
    ANSI ntile is fully determined by the order and the row count).

    Scale: one map-side-combinable customer rollup; the three ntile
    windows run over the CUSTOMER-aggregate table (orders of magnitude
    smaller than the order corpus).  They are unpartitioned — exact
    global quantiles need a global rank — so at extreme customer counts
    the production move is approxQuantile cut points broadcast as a
    width_bucket screen (the x_percentile_norm economics); the exact
    ntile here is the adjudicable contract.
    """
    o = table(spark, sf, "orders")
    ref = o.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("ref_day")
    )
    c = (
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_day"),
            F.count("*").alias("frequency"),
            F.round(F.sum("o_totalprice"), 4).alias("monetary_r"),
        )
        .crossJoin(ref)
        .select(
            "custkey",
            F.datediff(F.col("ref_day"), F.col("last_day"))
            .cast("int")
            .alias("recency_days"),
            F.col("frequency").cast("bigint").alias("frequency"),
            "monetary_r",
        )
    )
    return c.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary_r",
        F.ntile(_RFM_BUCKETS)
        .over(Window.orderBy(F.col("recency_days").asc(), F.col("custkey")))
        .alias("r_score"),
        F.ntile(_RFM_BUCKETS)
        .over(Window.orderBy(F.col("frequency").desc(), F.col("custkey")))
        .alias("f_score"),
        F.ntile(_RFM_BUCKETS)
        .over(Window.orderBy(F.col("monetary_r").desc(), F.col("custkey")))
        .alias("m_score"),
    )


# ---------------------------------------------------------------------------
# cohort lifetime-value curves
# ---------------------------------------------------------------------------


@register(
    "x_cohort_ltv",
    oracle="""
    WITH o AS (
      SELECT o_custkey,
             year(o_orderdate) * 12 + month(o_orderdate) AS ym,
             o_totalprice
      FROM orders),
    first AS (
      SELECT o_custkey, min(ym) AS cohort_ym FROM o GROUP BY o_custkey),
    sizes AS (
      SELECT cohort_ym, count(*) AS cohort_n FROM first GROUP BY cohort_ym),
    cell AS (
      SELECT f.cohort_ym, o.ym - f.cohort_ym AS age_months,
             CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS rev_cents
      FROM o JOIN first f USING (o_custkey)
      GROUP BY 1, 2),
    cum AS (
      SELECT cohort_ym, age_months, rev_cents,
             CAST(sum(rev_cents) OVER (
               PARTITION BY cohort_ym ORDER BY age_months
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_cents
      FROM cell)
    SELECT cohort_ym, CAST(age_months AS INT) AS age_months,
           round(CAST(rev_cents AS DOUBLE) / 100.0, 2) AS rev_r,
           round(CAST(cum_cents AS DOUBLE) / 100.0, 2) AS cum_rev_r,
           CAST(cohort_n AS BIGINT) AS cohort_n,
           CAST((cum_cents * 20000 + cohort_n) // (2 * cohort_n)
                AS DOUBLE) / 1000000.0 AS ltv_per_cust_r
    FROM cum JOIN sizes USING (cohort_ym)
    """,
)
def x_cohort_ltv(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort lifetime-value triangle: customers are cohorted by the
    calendar month of their FIRST order (ym = year·12 + month, integer-
    exact), and each (cohort, months-since-first) cell carries the
    cohort's revenue that month, the running cumulative revenue, and
    cumulative LTV per cohort member — the revenue-weighted companion of
    q_retention's activity counts (retention says WHO came back, this
    says what their return was WORTH; the curve flattening is the
    payback horizon).

    Cross-engine: cohort assignment and ages are pure integer
    arithmetic — and so is the MONEY: prices carry exactly 2 decimals,
    so every sum runs in exact BIGINT CENTS (round(price·100) per row,
    no .5 ties since the true value is integer).  Two float boundaries
    were measured live before landing on cents: (1) round-4 of the LTV
    quotient hit an exact decimal halfway tie (70008621.57/72 =
    972341.96625 — Spark BigDecimal-HALF_UP gave .9662, DuckDB's
    scaled-double half-away gave .9663); (2) a double running sum at
    cohort magnitudes (~1e9 with 6 decimals ≈ 16 significant digits)
    differs between DuckDB's segment-tree association and Spark's
    sequential frame by ~1e-6 — NOT absorbable by any rounding grid at
    that magnitude.  Integer cents eliminate both — AND the final LTV
    round stays integer too: the r8 review proved round(cents/(100n), 6)
    STILL ties for whole input families (any odd cum_cents with
    n = 32 terminates at exactly 7 decimals ending in 5 — 49/4000
    random cases diverged live), so the 6-dp half-up round is computed
    as BIGINT (cum_cents·20000 + n) DIV (2n) and only THEN divided by
    10⁶ — one IEEE division by a power of ten of identical integers.

    Scale note on the cents sums: the DIV numerator overflows BIGINT at
    cum_cents ≈ 4.6e14 (≈ 4.6 trillion dollars per cohort) — far above
    any real cohort; at genuine risk of that, move the cents columns to
    DECIMAL(38,0).

    Scale: one shuffle keyed by customer for first-order month (map-side
    combinable min), one broadcast-joinable cohort-size table, one
    (cohort, age) rollup; the running-sum window rides the
    calendar²-sized triangle (≤ months² rows at ANY corpus size).
    """
    o = table(spark, sf, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ym"),
        "o_totalprice",
    )
    first = o.groupBy("o_custkey").agg(F.min("ym").alias("cohort_ym"))
    sizes = first.groupBy("cohort_ym").agg(F.count("*").alias("cohort_n"))
    cell = (
        o.join(first, "o_custkey")
        .groupBy(
            "cohort_ym", (F.col("ym") - F.col("cohort_ym")).alias("age_months")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("rev_cents")
        )
    )
    w = (
        Window.partitionBy("cohort_ym")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = cell.withColumn(
        "cum_cents", F.sum("rev_cents").over(w).cast("bigint")
    )
    return cum.join(sizes, "cohort_ym").select(
        "cohort_ym",
        F.col("age_months").cast("int").alias("age_months"),
        F.round(F.col("rev_cents").cast("double") / 100.0, 2).alias("rev_r"),
        F.round(F.col("cum_cents").cast("double") / 100.0, 2).alias(
            "cum_rev_r"
        ),
        F.col("cohort_n").cast("bigint").alias("cohort_n"),
        (
            F.expr("(cum_cents * 20000 + cohort_n) DIV (2 * cohort_n)")
            .cast("double")
            / F.lit(1000000.0)
        ).alias("ltv_per_cust_r"),
    )


# ---------------------------------------------------------------------------
# leave-one-out target encoding (supervised data prep)
# ---------------------------------------------------------------------------

_TENC_M = 10.0  # smoothing pseudo-count toward the global prior


@register(
    "x_target_encoding",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(lang = 'en' AS INT) AS y
      FROM documents),
    g AS (
      SELECT source, count(*) AS n, sum(y) AS sum_y
      FROM d GROUP BY source),
    p AS (
      SELECT CAST(sum(sum_y) AS DOUBLE) / sum(n) AS prior FROM g)
    SELECT d.doc_id, d.source, d.y,
           round((CAST(g.sum_y - d.y AS DOUBLE) + {_TENC_M!r} * p.prior)
                 / (CAST(g.n - 1 AS DOUBLE) + {_TENC_M!r}), 6) AS enc_r
    FROM d JOIN g USING (source), p
    """,
)
def x_target_encoding(spark: SparkSession, sf: str) -> DataFrame:
    """Leave-one-out target encoding with additive smoothing (the
    standard supervised categorical-feature prep, Micci-Barreca SIGKDD
    Expl. '01): each document's ``source`` is replaced by the smoothed
    mean of the label over the OTHER documents of that source,
    enc = (Σy − y_i + m·prior)/(n − 1 + m), m = {_TENC_M:g} — excluding
    the row's own label is what keeps the feature from leaking the
    target it encodes (the fit/transform-on-same-data trap), the exact
    concern x_split_leakage audits at the split level.  Label here:
    lang = 'en', the same fixed classifier target x_calibration scores.

    Cross-engine: counts and label sums are integers; prior is one IEEE
    division of exact BIGINTs; the encoding is a single shared-shape
    expression over (int − int) + literal·prior, rounded at 6 dp.

    Scale: one map-side-combinable per-category rollup, a 1-row prior
    broadcast, and a broadcast-joinable category table mapped back over
    the corpus — no corpus shuffle at all when the category cardinality
    is dimension-sized, the textbook "aggregate once, broadcast back"
    shape (x_outlier_mad's economics).
    """
    d = table(spark, sf, "documents").select(
        "doc_id",
        "source",
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    g = d.groupBy("source").agg(
        F.count("*").alias("n"), F.sum("y").alias("sum_y")
    )
    p = g.agg(
        (F.sum("sum_y").cast("double") / F.sum("n")).alias("prior")
    )
    return (
        # one row per source; estimated from the documents scan
        d.join(F.broadcast(g), "source")
        .crossJoin(p)
        .select(
            "doc_id",
            "source",
            "y",
            F.round(
                (
                    (F.col("sum_y") - F.col("y")).cast("double")
                    + F.lit(_TENC_M) * F.col("prior")
                )
                / ((F.col("n") - F.lit(1)).cast("double") + F.lit(_TENC_M)),
                6,
            ).alias("enc_r"),
        )
    )


# ---------------------------------------------------------------------------
# rolling active users (DAU / WAU / MAU)
# ---------------------------------------------------------------------------


@register(
    "x_active_users",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    days AS (SELECT DISTINCT day FROM ud),
    dau AS (
      SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY day),
    wau AS (
      SELECT d.day, count(DISTINCT u.user_id) AS wau
      FROM days d JOIN ud u
        ON u.day <= d.day AND u.day >= d.day - INTERVAL 6 DAY
      GROUP BY d.day),
    mau AS (
      SELECT d.day, count(DISTINCT u.user_id) AS mau
      FROM days d JOIN ud u
        ON u.day <= d.day AND u.day >= d.day - INTERVAL 29 DAY
      GROUP BY d.day)
    SELECT dau.day, CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
           CAST(mau AS BIGINT) AS mau,
           round(CAST(dau AS DOUBLE) / mau, 6) AS stickiness_r
    FROM dau JOIN wau USING (day) JOIN mau USING (day)
    """,
)
def x_active_users(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling active-user rollup: per day, DAU plus trailing-7-day WAU
    and trailing-30-day MAU distinct user counts and the DAU/MAU
    stickiness ratio — THE standing engagement dashboard query, and the
    one whose naive form (count distinct per overlapping window) rescans
    the corpus 30×.  Here the corpus collapses ONCE to the distinct
    (user, day) table; each horizon is that small table joined to the
    day spine.

    Cross-engine: pure integer distinct counts; stickiness is one IEEE
    division.  (Spark disallows DISTINCT aggregates over window frames,
    so the spine-join formulation is also the only portable one.)

    Scale: the corpus-sized work is the one map-side-combinable
    (user, day) distinct; the day spine is calendar-sized and BROADCAST,
    so each horizon is a broadcast nested-loop fan-out of the user-day
    table (≤ 30 copies of a table already ~|users|·|days| small) into a
    two-phase distinct.  At 100 TB the documented alternative is the
    mergeable per-day HLL sketch store (`x_hll_union`): union 7 or 30
    daily 4 KB sketches per readout instead of re-expanding rows —
    exactness traded for O(days) state.
    """
    e = table(spark, sf, "events")
    ud = e.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    days = ud.select("day").distinct()
    dau = ud.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))

    def _trailing(n_days: int, name: str) -> DataFrame:
        d = days.select(F.col("day").alias("d"))
        return (
            d
            .join(
                ud,
                (F.col("day") <= F.col("d"))
                & (F.col("day") >= F.date_sub(F.col("d"), n_days - 1)),
            )
            .groupBy(F.col("d").alias("day"))
            .agg(F.countDistinct("user_id").alias(name))
        )

    out = (
        dau.join(_trailing(7, "wau"), "day")
        .join(_trailing(30, "mau"), "day")
    )
    return out.select(
        "day",
        F.col("dau").cast("bigint").alias("dau"),
        F.col("wau").cast("bigint").alias("wau"),
        F.col("mau").cast("bigint").alias("mau"),
        F.round(F.col("dau").cast("double") / F.col("mau"), 6).alias(
            "stickiness_r"
        ),
    )


@register(
    "x_active_users_hll",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    days AS (SELECT DISTINCT day FROM ud),
    dau AS (
      SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY day),
    wau AS (
      SELECT d.day, count(DISTINCT u.user_id) AS wau
      FROM days d JOIN ud u
        ON u.day <= d.day AND u.day >= d.day - INTERVAL 6 DAY
      GROUP BY d.day),
    mau AS (
      SELECT d.day, count(DISTINCT u.user_id) AS mau
      FROM days d JOIN ud u
        ON u.day <= d.day AND u.day >= d.day - INTERVAL 29 DAY
      GROUP BY d.day)
    SELECT dau.day, CAST(dau AS BIGINT) AS dau_exact,
           CAST(wau AS BIGINT) AS wau_exact, CAST(mau AS BIGINT) AS mau_exact,
           1 AS dau_ok, 1 AS wau_ok, 1 AS mau_ok
    FROM dau JOIN wau USING (day) JOIN mau USING (day)
    """,
)
def x_active_users_hll(spark: SparkSession, sf: str) -> DataFrame:
    """The sketch-store twin of ``x_active_users`` (the 100 TB path its
    docstring names — r8 VERDICT #4): ONE pass builds a per-day
    HyperLogLog sketch of active users (``hll_sketch_agg``, lgConfigK
    12), then every horizon is a UNION OF DAILY SKETCHES — DAU reads the
    day's sketch, WAU unions 7, MAU unions 30 (``hll_union_agg`` over
    the spine-joined trailing frame) — so a readout touches O(days)
    4 KB states and NEVER re-expands (user, day) rows.  Adjudication is
    the x_hll_union contract: the oracle replays the EXACT counts and
    the within-±5 % verdicts (lgK 12 ⇒ ~1.6 % stderr; measured worst
    relative error across both SFs and all three horizons: 0.81 % at
    sf0.1 and 0.0 at sf0.01, whose daily cardinalities sit in the
    sketch's sparse regime where the estimate is exact — a 6× margin
    under the gate); a broken sketch build, union, or frame flips an
    ok flag.

    Scale: the corpus-sized work is the one map-side-combinable
    per-day sketch build (partial state = one sketch per day per
    partition).  The WAU/MAU fan-out joins the CALENDAR-sized sketch
    table to the broadcast day spine — ≤ 30 sketch-sized rows per day
    on the wire, independent of corpus size, vs the exact key's
    ≤ 30 copies of the (user, day) table.  Persist the daily sketches
    next to the data and the whole dashboard is answerable without
    rescanning the corpus — THE mergeable-sketch-store economics, now
    adjudicated end to end rather than only asserted.  Exact counts
    appear ONLY as the adjudication side.
    """
    tol = 0.05
    e = table(spark, sf, "events")
    # the (user, day) collapse feeds the sketch build AND both exact
    # horizons — store it so the corpus distinct runs ONCE
    ud = stored(
        e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    )
    days = ud.select("day").distinct()
    # the persisted-store analog: one 4 KB sketch per day, built in one
    # pass and STORED (the in-session stand-in for the parquet sketch
    # store) — the three sketch readouts below read this calendar-sized
    # state, never the corpus
    daily = stored(ud.groupBy("day").agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"),
        F.countDistinct("user_id").alias("dau_exact"),
    ))

    def _union_horizon(n_days: int, est_name: str) -> DataFrame:
        d = days.select(F.col("day").alias("d"))
        return (
            d
            .join(
                daily,
                (F.col("day") <= F.col("d"))
                & (F.col("day") >= F.date_sub(F.col("d"), n_days - 1)),
            )
            .groupBy(F.col("d").alias("day"))
            .agg(
                F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(est_name)
            )
        )

    # exact WAU/MAU (adjudication side) — the same spine join as the exact
    # key, over the distinct (user, day) table
    def _exact_horizon(n_days: int, name: str) -> DataFrame:
        d = days.select(F.col("day").alias("d"))
        return (
            d
            .join(
                ud,
                (F.col("day") <= F.col("d"))
                & (F.col("day") >= F.date_sub(F.col("d"), n_days - 1)),
            )
            .groupBy(F.col("d").alias("day"))
            .agg(F.countDistinct("user_id").alias(name))
        )

    ok = lambda est, exact: (  # noqa: E731
        F.abs(est - F.col(exact).cast("double")) / F.col(exact) <= tol
    ).cast("int")
    out = (
        daily.select(
            "day",
            F.hll_sketch_estimate("sk").alias("dau_est"),
            "dau_exact",
        )
        .join(_union_horizon(7, "wau_est"), "day")
        .join(_union_horizon(30, "mau_est"), "day")
        .join(_exact_horizon(7, "wau_exact"), "day")
        .join(_exact_horizon(30, "mau_exact"), "day")
    )
    return out.select(
        "day",
        F.col("dau_exact").cast("bigint").alias("dau_exact"),
        F.col("wau_exact").cast("bigint").alias("wau_exact"),
        F.col("mau_exact").cast("bigint").alias("mau_exact"),
        ok(F.col("dau_est"), "dau_exact").alias("dau_ok"),
        ok(F.col("wau_est"), "wau_exact").alias("wau_ok"),
        ok(F.col("mau_est"), "mau_exact").alias("mau_ok"),
    )


# ---------------------------------------------------------------------------
# Wald SPRT sequential conversion-rate monitor
# ---------------------------------------------------------------------------

_SPRT_P0 = 0.18  # H0 conversion rate
_SPRT_P1 = 0.22  # H1 conversion rate
_SPRT_ALPHA = 0.05
_SPRT_BETA = 0.05
# log-likelihood increments and Wald boundaries as repr-exact shared
# literals — no libm call at query time on either engine.
_SPRT_C1 = repr(math.log(_SPRT_P1 / _SPRT_P0))
_SPRT_C2 = repr(math.log((1.0 - _SPRT_P1) / (1.0 - _SPRT_P0)))
_SPRT_UP = repr(math.log((1.0 - _SPRT_BETA) / _SPRT_ALPHA))
_SPRT_LO = repr(math.log(_SPRT_BETA / (1.0 - _SPRT_ALPHA)))


@register(
    "x_sprt",
    oracle=f"""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS n,
             sum(CAST(event_type = 'purchase' AS INT)) AS k
      FROM events GROUP BY 1),
    c AS (
      SELECT day,
             CAST(sum(n) OVER w AS BIGINT) AS cum_n,
             CAST(sum(k) OVER w AS BIGINT) AS cum_k
      FROM d
      WINDOW w AS (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    l AS (
      SELECT day, cum_n, cum_k,
             cum_k * CAST({_SPRT_C1} AS DOUBLE)
               + (cum_n - cum_k) * CAST({_SPRT_C2} AS DOUBLE) AS llr
      FROM c),
    x AS (
      SELECT day, cum_n, cum_k, llr,
             min(CASE WHEN llr >= CAST({_SPRT_UP} AS DOUBLE) THEN day END)
               OVER wrun AS day_up,
             min(CASE WHEN llr <= CAST({_SPRT_LO} AS DOUBLE) THEN day END)
               OVER wrun AS day_lo
      FROM l
      WINDOW wrun AS (ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT day, cum_n, cum_k, round(llr, 6) AS llr_r,
           CASE WHEN day_up IS NOT NULL
                     AND (day_lo IS NULL OR day_up <= day_lo)
                  THEN 'reject_h0'
                WHEN day_lo IS NOT NULL THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM x
    """,
)
def x_sprt(spark: SparkSession, sf: str) -> DataFrame:
    """Wald sequential probability ratio test (Wald '45) on the daily
    conversion stream: cumulative LLR of H1 (p = {_SPRT_P1}) against H0
    (p = {_SPRT_P0}) for the purchase rate, with the α = β = 0.05 Wald
    boundaries — the PEEKING-SAFE sequential readout completing the
    experiment family (x_ttest_welch adjudicates a fixed horizon, THIS
    is what you may look at every day without inflating false positives).
    The decision is STICKY — the test STOPS at its first boundary
    crossing, and every later row reports that verdict (the r8 review
    caught the instantaneous-position version: an LLR that crossed and
    then drifted back would have read 'continue', which has no α/β
    control); precedence on the running min of each boundary's first
    crossing day.

    Cross-engine: daily and cumulative counts are exact integers; the
    LLR is computed FROM THE CUMULATIVE COUNTS in one shared-shape
    expression (never as a window sum of per-day doubles — no
    association-order exposure), with the log-likelihood increments and
    boundaries as repr-exact Python literals (no libm at query time);
    the decision compares the bit-identical raw LLR against literal
    boundaries.

    Scale: one map-side-combinable daily rollup; the running sums and
    the decision ride the calendar-sized day series.
    """
    e = table(spark, sf, "events")
    d = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("int")).alias("k"),
    )
    return sprt(d, _SPRT_P0, _SPRT_P1, _SPRT_ALPHA, _SPRT_BETA).select(
        "day", "cum_n", "cum_k", F.round("llr", 6).alias("llr_r"), "decision"
    )


# ---------------------------------------------------------------------------
# geo grid-cell density (hotspot table)
# ---------------------------------------------------------------------------

_GRID_DEG = 10  # cell width in degrees


@register(
    "x_geo_grid",
    oracle=f"""
    WITH pts AS (
      SELECT event_id, user_id, event_type,
             (event_id % 180) - 90 + 0.5 AS lat,
             ((event_id * 7) % 360) - 180 + 0.5 AS lon
      FROM events),
    cells AS (
      SELECT CAST(floor((lat + 90.0) / {_GRID_DEG}) AS INT) AS cell_lat,
             CAST(floor((lon + 180.0) / {_GRID_DEG}) AS INT) AS cell_lon,
             user_id, event_type
      FROM pts),
    g AS (
      SELECT cell_lat, cell_lon, count(*) AS n,
             count(DISTINCT user_id) AS n_users
      FROM cells GROUP BY 1, 2),
    dom AS (
      SELECT cell_lat, cell_lon, event_type AS top_type FROM (
        SELECT cell_lat, cell_lon, event_type,
               row_number() OVER (
                 PARTITION BY cell_lat, cell_lon
                 ORDER BY count(*) DESC, event_type) AS rn
        FROM cells GROUP BY cell_lat, cell_lon, event_type)
      WHERE rn = 1)
    SELECT g.cell_lat, g.cell_lon, CAST(n AS BIGINT) AS n,
           CAST(n_users AS BIGINT) AS n_users, dom.top_type,
           CAST(row_number() OVER (ORDER BY n DESC, g.cell_lat, g.cell_lon)
                AS INT) AS density_rank
    FROM g JOIN dom USING (cell_lat, cell_lon)
    """,
)
def x_geo_grid(spark: SparkSession, sf: str) -> DataFrame:
    """Grid-cell density / hotspot table over the fleet's positions (the
    same deterministic event_id-derived lat/lon as x_geo_nearest —
    TESTDATA.md events carry no real coordinates): {_GRID_DEG}°×
    {_GRID_DEG}° cells with event count, distinct devices, the dominant
    event type (count-desc, type-asc tie-break), and a global density
    rank — "where is the fleet and what is it doing there", the spatial
    aggregation a position datalake serves constantly (and stage one of
    the two-stage points-to-points join x_geo_nearest documents: the
    grid IS the candidate screen).

    Cross-engine: cell assignment is integer modular arithmetic + one
    exact floor division; everything aggregated is integers; tie-breaks
    are total.

    Scale: one map-side-combinable (cell, type) count; the grid is
    BOUNDED (18×36 cells at {_GRID_DEG}°) so the dominant-type window
    and the global rank ride constant-size frames — the rank's
    unpartitioned window is 648 rows max, control-plane by construction.
    """
    e = table(spark, sf, "events")
    cells = e.select(
        F.floor(
            (((F.col("event_id") % 180) - 90 + 0.5) + 90.0) / _GRID_DEG
        )
        .cast("int")
        .alias("cell_lat"),
        F.floor(
            ((((F.col("event_id") * 7) % 360) - 180 + 0.5) + 180.0)
            / _GRID_DEG
        )
        .cast("int")
        .alias("cell_lon"),
        "user_id",
        "event_type",
    )
    g = cells.groupBy("cell_lat", "cell_lon").agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("n_users"),
    )
    dom = (
        cells.groupBy("cell_lat", "cell_lon", "event_type")
        .agg(F.count("*").alias("tn"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("cell_lat", "cell_lon").orderBy(
                    F.col("tn").desc(), F.col("event_type")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("cell_lat", "cell_lon", F.col("event_type").alias("top_type"))
    )
    return (
        g.join(dom, ["cell_lat", "cell_lon"])
        .select(
            "cell_lat",
            "cell_lon",
            F.col("n").cast("bigint").alias("n"),
            F.col("n_users").cast("bigint").alias("n_users"),
            "top_type",
            F.row_number()
            .over(
                Window.orderBy(
                    F.col("n").desc(), F.col("cell_lat"), F.col("cell_lon")
                )
            )
            .cast("int")
            .alias("density_rank"),
        )
    )


# ---------------------------------------------------------------------------
# exact two-sample Kolmogorov–Smirnov test
# ---------------------------------------------------------------------------

_KS_TYPE_A = "click"
_KS_TYPE_B = "view"
_KS_C_ALPHA = 1.3581015157406195  # c(0.05) = sqrt(-ln(0.025)/2)


@register(
    "x_ks_test",
    oracle=f"""
    WITH e AS (
      SELECT value,
             CAST(event_type = '{_KS_TYPE_A}' AS INT) AS i1,
             CAST(event_type = '{_KS_TYPE_B}' AS INT) AS i2
      FROM events
      WHERE value IS NOT NULL
        AND event_type IN ('{_KS_TYPE_A}', '{_KS_TYPE_B}')),
    g AS (
      SELECT value, CAST(sum(i1) AS BIGINT) AS c1,
             CAST(sum(i2) AS BIGINT) AS c2
      FROM e GROUP BY value),
    c AS (
      SELECT value,
             CAST(sum(c1) OVER wcum AS BIGINT) AS cum1,
             CAST(sum(c2) OVER wcum AS BIGINT) AS cum2,
             CAST(sum(c1) OVER () AS BIGINT) AS n1,
             CAST(sum(c2) OVER () AS BIGINT) AS n2
      FROM g
      WINDOW wcum AS (ORDER BY value
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    d AS (
      SELECT value, n1, n2,
             abs(cum1 * n2 - cum2 * n1) AS d_num,
             max(abs(cum1 * n2 - cum2 * n1)) OVER () AS d_max
      FROM c)
    SELECT CAST(any_value(n1) AS BIGINT) AS n1,
           CAST(any_value(n2) AS BIGINT) AS n2,
           round(CAST(any_value(d_max) AS DOUBLE)
                 / (any_value(n1) * CAST(any_value(n2) AS DOUBLE)), 6)
             AS ks_d_r,
           round(CAST({_KS_C_ALPHA!r} AS DOUBLE)
                 * sqrt((any_value(n1) + CAST(any_value(n2) AS DOUBLE))
                        / (any_value(n1) * CAST(any_value(n2) AS DOUBLE))), 6)
             AS crit_r,
           CAST(CAST(any_value(d_max) AS DOUBLE)
                  / (any_value(n1) * CAST(any_value(n2) AS DOUBLE))
                > CAST({_KS_C_ALPHA!r} AS DOUBLE)
                  * sqrt((any_value(n1) + CAST(any_value(n2) AS DOUBLE))
                         / (any_value(n1) * CAST(any_value(n2) AS DOUBLE)))
                AS INT) AS reject,
           min(value) AS at_value
    FROM d WHERE d_num = d_max
    """,
)
def x_ks_test(spark: SparkSession, sf: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov test (Kolmogorov '33,
    Smirnov '39) between the '{_KS_TYPE_A}' and '{_KS_TYPE_B}' metric
    distributions: D = sup|F₁−F₂| over the pooled support, the α = 0.05
    two-sample critical value c(α)·√((n₁+n₂)/(n₁n₂)), a reject flag,
    and the metric value where the gap peaks (smallest such value on
    ties).  The BINLESS distribution comparison next to x_drift_psi's
    10-bucket PSI — KS sees a shape difference PSI's coarse bins can
    wash out, and its statistic is distribution-free.

    Cross-engine and scale: ``operators/stats.py::ks_test`` finds the
    supremum in EXACT INTEGER arithmetic over the distinct-value
    support table; only D = d_max/(n₁n₂) and the critical value
    (repr-exact c(α), IEEE-correctly-rounded sqrt) are doubles, and the
    reject flag compares those two bit-identical doubles.
    """
    e = (
        table(spark, sf, "events")
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isin(_KS_TYPE_A, _KS_TYPE_B)
        )
        .select(
            "value",
            (F.col("event_type") == _KS_TYPE_A).cast("int").alias("c1"),
            (F.col("event_type") == _KS_TYPE_B).cast("int").alias("c2"),
        )
    )
    return ks_test(e, "value", _KS_C_ALPHA).select(
        "n1",
        "n2",
        F.round("ks_d", 6).alias("ks_d_r"),
        F.round("crit", 6).alias("crit_r"),
        F.col("reject").cast("int").alias("reject"),
        "at_value",
    )


# ---------------------------------------------------------------------------
# split-conformal prediction coverage audit
# ---------------------------------------------------------------------------

_CONF_ALPHA_NUM = 9  # target coverage 1 - alpha = 9/10 (kept as integers)
_CONF_STOPS = "['the','a','of','and','to','in','is','it','that','for']"


@register(
    "x_conformal",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             CAST(lang = 'en' AS INT) AS label,
             list_filter(string_split_regex(lower(text), '[[:space:]]+'),
                         x -> x <> '') AS t
      FROM documents),
    p AS (
      SELECT doc_id, source, label,
             1.0 / (1.0 + exp(-(8.0 * (len(list_filter(t, x -> list_contains(
               {_CONF_STOPS}, x))) / greatest(len(t), 1)) - 1.0))) AS prob
      FROM toks),
    s AS (
      SELECT doc_id, source,
             round(CASE WHEN label = 1 THEN 1.0 - prob ELSE prob END, 6)
               AS s_r,
             CAST(('0x' || substr(md5('conf:' || doc_id), 1, 8))::BIGINT
                  AS DOUBLE) / 4294967296.0 < 0.5 AS is_cal
      FROM p),
    cal AS (
      SELECT s_r, row_number() OVER (ORDER BY s_r, doc_id) AS rn
      FROM s WHERE is_cal),
    q AS (
      SELECT CAST(count(*) AS BIGINT) AS n_cal,
             ({_CONF_ALPHA_NUM} * (count(*) + 1) + 9) // 10 AS k
      FROM cal),
    qhat AS (
      SELECT q.n_cal,
             CASE WHEN q.k > q.n_cal THEN 1.0
                  ELSE max(CASE WHEN cal.rn = q.k THEN cal.s_r END) END
               AS qhat
      FROM q LEFT JOIN cal ON cal.rn = q.k
      GROUP BY q.n_cal, q.k)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_eval,
           CAST(sum(CAST(s.s_r <= qhat.qhat AS INT)) AS BIGINT) AS n_covered,
           round(CAST(sum(CAST(s.s_r <= qhat.qhat AS INT)) AS DOUBLE)
                 / count(*), 6) AS coverage_r,
           round(qhat.qhat, 6) AS qhat_r,
           qhat.n_cal
    FROM s, qhat WHERE NOT s.is_cal
    GROUP BY source, qhat.qhat, qhat.n_cal
    """,
)
def x_conformal(spark: SparkSession, sf: str) -> DataFrame:
    """Split-conformal prediction coverage audit (Vovk et al. '05;
    Angelopoulos–Bates '21 tutorial convention): the fixed logistic
    scorer from x_calibration yields a nonconformity score s = 1−p(true
    class); a deterministic md5 half-split holds out a calibration set;
    q̂ is the ⌈(n+1)(1−α)⌉-th smallest calibration score (α = 0.1); the
    eval split then reports PER-SOURCE empirical coverage of the
    guarantee P(s ≤ q̂) ≥ 90 %.  Conformal's promise is MARGINAL — the
    per-source breakdown shows exactly where exchangeability breaks
    (a source whose documents score systematically differently
    under-covers), the same per-slice honesty x_calibration's bins give
    ECE.  Completes the uncertainty column of the eval-ops stack:
    calibration audits probabilities, THIS audits distribution-free
    set-coverage.

    Cross-engine: scores are pinned at 6 dp BEFORE ranking (the libm
    exp ≤1-ulp drift cannot reorder the rank unless two docs' true
    scores differ by <1e-12 across a 5e-7 boundary — the x_dp_counts
    risk class); the rank k = ⌈(n+1)·9/10⌉ is exact integer arithmetic
    ((9(n+1)+9) DIV 10); q̂ is one order statistic under a total
    (s_r, doc_id) order; coverage counts are integers.  k > n (tiny
    calibration split) degenerates to q̂ = 1.0 — everything covered,
    the conformal convention for an undefined quantile.

    Scale: one corpus scan scores and splits; the rank window sorts the
    CALIBRATION HALF — in production the calibration set is a fixed-size
    sample (conformal guarantees need ~10³–10⁴ points, not a corpus
    share), making the sort control-plane; q̂ is a 1-row broadcast and
    the per-source coverage is a map-side-combinable conditional count.
    """
    from ..functions.text import tokens as _tokens

    d = table(spark, sf, "documents")
    stops = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]
    p = d.select(
        "doc_id",
        "source",
        (F.col("lang") == "en").cast("int").alias("label"),
        _tokens("text").alias("__t"),
    ).select(
        "doc_id",
        "source",
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
                                    F.col("__t"), lambda x: x.isin(*stops)
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
    s = p.select(
        "doc_id",
        "source",
        F.round(
            F.when(F.col("label") == 1, F.lit(1.0) - F.col("prob")).otherwise(
                F.col("prob")
            ),
            6,
        ).alias("s_r"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("conf:"), F.col("doc_id").cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            )
            .cast("bigint")
            .cast("double")
            / F.lit(4294967296.0)
            < 0.5
        ).alias("is_cal"),
    )
    cal = (
        s.filter("is_cal")
        .select(
            "s_r",
            F.row_number()
            .over(Window.orderBy("s_r", "doc_id"))
            .alias("rn"),
        )
    )
    q = cal.groupBy().agg(
        F.count("*").cast("bigint").alias("n_cal"),
        F.expr(f"({_CONF_ALPHA_NUM} * (count(*) + 1) + 9) DIV 10").alias("k"),
    )
    qhat = (
        q.join(cal, q["k"] == cal["rn"], "left")
        .groupBy("n_cal", "k")
        .agg(
            F.when(F.col("k") > F.col("n_cal"), F.lit(1.0))
            .otherwise(F.max("s_r"))
            .alias("qhat")
        )
        .select("n_cal", "qhat")
    )
    # one row (the calibration quantile), estimated from the corpus
    ev = s.filter(~F.col("is_cal")).crossJoin(F.broadcast(qhat))
    return ev.groupBy("source", "qhat", "n_cal").agg(
        F.count("*").cast("bigint").alias("n_eval"),
        F.sum((F.col("s_r") <= F.col("qhat")).cast("int"))
        .cast("bigint")
        .alias("n_covered"),
    ).select(
        "source",
        "n_eval",
        "n_covered",
        F.round(
            F.col("n_covered").cast("double") / F.col("n_eval"), 6
        ).alias("coverage_r"),
        F.round("qhat", 6).alias("qhat_r"),
        "n_cal",
    )
