"""Two-sample, sequential and concentration statistics, one
implementation each.

Every core has two kinds of caller: a registered key in ``plans/``
(split by event type, period, source or label; hash-checked against its
DuckDB oracle) and a monitor in ``sources/maintenance.py`` (the stage
zone split into the last ``recent_days`` UTC epoch-days vs all earlier
history).  The caller builds the split; the core returns the statistic
UNROUNDED; the caller keeps its own output projection and rounding.

The cross-engine contracts the oracles rely on (tierk.py module
docstring) live here with the arithmetic: exact integer counts, ranks
and argmaxes, DECIMAL(38,0) rank sums, SQL fragments the oracles embed
verbatim (``MW_Z``, ``AUC``, ``DID*``, ``KM_FACTOR``, ``NA_HAZARD_U``,
``BENFORD_P``), values pinned to the 1e-6 grid before a window sum.  A
denominator that can be 0 on a monitor's small or one-sided split goes
through ``nullif`` (NULL, not an ANSI DIVIDE_BY_ZERO); on the keys'
data it never fires.

Scale: aggregate, then window — the corpus-sized work is one
map-side-combinable count or rollup, and every window orders the
rolled-up table (value support, buckets, days, categories).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_RUNNING = (Window.unboundedPreceding, Window.currentRow)

# CUSUM drift allowance and alarm level, in units of the series' sigma
CUSUM_K_SIGMA = 0.25
CUSUM_ALARM_SIGMA = 3.0


def smoothed_psi(cnt: DataFrame, group: str, k: Column) -> DataFrame:
    """Population stability index per ``group`` (Siddiqi '06):
    Σ (p − q)·ln(p/q) over buckets with +0.5 Laplace smoothing per
    bucket, so an empty bucket never reaches ln(0).

    ``cnt``: one row per (group, bucket) with the counts ``n_ref``,
    ``n_cur`` and the group's totals ``t_ref``, ``t_cur`` (the caller
    joins its totals in, with the broadcast hint its size bound
    justifies).  ``k`` is the bucket count in the smoothing denominator
    t + 0.5·k: a literal for a fixed bucketing, a column for the
    observed count.  Returns (group, psi_raw, t_ref, t_cur).
    """
    p = (F.col("n_ref") + 0.5) / (F.col("t_ref") + 0.5 * k)
    q = (F.col("n_cur") + 0.5) / (F.col("t_cur") + 0.5 * k)
    return cnt.groupBy(group).agg(
        F.sum((p - q) * F.log(p / q)).alias("psi_raw"),
        F.max("t_ref").alias("t_ref"),
        F.max("t_cur").alias("t_cur"),
    )


def cusum(d: DataFrame, key: str) -> DataFrame:
    """One-sided CUSUM (Page, Biometrika '54) per ``key`` over a daily
    level series ``d`` (one row per (key, day), level column ``x``).

    C_t = S'_t − min(0, S'_1..S'_t) with S'_t = Σ(x_i − μ₀ − k), k =
    ``CUSUM_K_SIGMA``·σ: the recursion as a prefix sum and a floored running
    min.  x, μ₀, σ and k are rounded to the 1e-6 grid before the prefix
    sum, so every C_t lands on the grid (window sums are not otherwise
    bit-identical across engines).  Alarm: round(C_t) >
    round(``CUSUM_ALARM_SIGMA``·σ).

    Returns (key, day, x, sd, cusum, alarm); alarm is NULL where σ is.
    """
    wk = Window.partitionBy(key)
    m = d.select(key, "day", F.round("x", 6).alias("x")).select(
        key, "day", "x",
        F.round(F.avg("x").over(wk), 6).alias("mu0"),
        F.round(F.stddev_samp("x").over(wk), 6).alias("sd"),
    )
    wo = Window.partitionBy(key).orderBy("day").rowsBetween(*_RUNNING)
    drift = F.round(F.lit(CUSUM_K_SIGMA) * F.col("sd"), 6)
    s = m.select(
        key, "day", "x", "sd",
        F.sum(F.col("x") - F.col("mu0") - drift).over(wo).alias("sp"),
    )
    floor = F.least(F.lit(0.0), F.min("sp").over(wo))
    c = s.select(key, "day", "x", "sd", (F.col("sp") - floor).alias("cusum"))
    alarm = F.round("cusum", 6) > F.round(F.lit(CUSUM_ALARM_SIGMA) * F.col("sd"), 6)
    return c.withColumn("alarm", alarm.cast("int"))


def mase(d: DataFrame, key: str, x: str = "x") -> DataFrame:
    """Seasonal-naive forecast accuracy (Hyndman & Koehler, IJF '06) per
    ``key`` over a daily series ``d`` (one row per (key, day), value
    column ``x``): each day is forecast by the value 7 days
    earlier, scored by MAE and scaled by the one-step naive MAE.

    Returns (key, n_scored, mae, naive_mae, mase); ``mase`` is NULL
    until a key has more than 7 days or when the naive MAE is 0.
    """
    w = Window.partitionBy(key).orderBy("day")
    lagged = d.select(
        key,
        F.col(x).alias("x"),
        F.lag(x, 7).over(w).alias("f_seasonal"),
        F.lag(x, 1).over(w).alias("f_naive"),
    )
    return lagged.groupBy(key).agg(
        F.count("f_seasonal").alias("n_scored"),
        F.avg(F.abs(F.col("x") - F.col("f_seasonal"))).alias("mae"),
        F.avg(F.abs(F.col("x") - F.col("f_naive"))).alias("naive_mae"),
    ).withColumn("mase", F.col("mae") / F.nullif("naive_mae", F.lit(0.0)))


def sprt(
    d: DataFrame, p0: float, p1: float, alpha: float, beta: float
) -> DataFrame:
    """Wald SPRT (Wald '45) of H1: rate = ``p1`` against H0: rate =
    ``p0`` over a daily series ``d`` (``day``, ``n`` trials, ``k``
    successes).  The LLR comes FROM THE CUMULATIVE INTEGER COUNTS in one
    expression, never a window sum of per-day doubles.  The decision is
    sticky: the test stops at its first crossing of a Wald boundary
    (log((1−β)/α), log(β/(1−α))); reject wins a same-day tie.

    Returns per day (day, cum_n, cum_k, n_days, llr, decision,
    decided_day), with decision in continue | reject_h0 | accept_h0.
    """
    c1 = math.log(p1 / p0)
    c2 = math.log((1.0 - p1) / (1.0 - p0))
    up = math.log((1.0 - beta) / alpha)
    lo = math.log(beta / (1.0 - alpha))
    w = Window.orderBy("day").rowsBetween(*_RUNNING)
    c = d.select(
        "day",
        F.sum("n").over(w).cast("bigint").alias("cum_n"),
        F.sum("k").over(w).cast("bigint").alias("cum_k"),
        F.count("*").over(w).alias("n_days"),
    )
    llr = F.col("cum_k") * F.lit(c1) + (F.col("cum_n") - F.col("cum_k")) * F.lit(c2)
    x = c.select(
        "day", "cum_n", "cum_k", "n_days",
        llr.alias("llr"),
        F.min(F.when(llr >= F.lit(up), F.col("day"))).over(w).alias("day_up"),
        F.min(F.when(llr <= F.lit(lo), F.col("day"))).over(w).alias("day_lo"),
    )
    reject = F.col("day_up").isNotNull() & (
        F.col("day_lo").isNull() | (F.col("day_up") <= F.col("day_lo"))
    )
    return x.select(
        "day", "cum_n", "cum_k", "n_days", "llr",
        F.when(reject, "reject_h0")
        .when(F.col("day_lo").isNotNull(), "accept_h0")
        .otherwise("continue")
        .alias("decision"),
        F.when(reject, F.col("day_up"))
        .otherwise(F.col("day_lo"))
        .alias("decided_day"),
    )


# z statistic as ONE shared-shape expression over rank_sum's output:
# u2a = 2·U_a, tsum = Σ(t³−t) over tie groups, nn = n_a + n_b.  Every
# operand is CAST to DOUBLE explicitly so both engines run the identical
# IEEE sequence (sqrt is correctly rounded per IEEE 754).  The outer
# nullif keeps an every-value-tied pool (variance 0) a NULL z instead of
# an ANSI DIVIDE_BY_ZERO (DuckDB would emit NaN); the inner one does the
# same for a one-observation pool.
MW_Z = (
    "(CAST(u2a AS DOUBLE) / 2.0 - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)"
    " / 2.0) / nullif(sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *"
    " ((CAST(nn AS DOUBLE) + 1.0) - CAST(tsum AS DOUBLE) /"
    " nullif(CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1.0), 0.0))), 0.0)"
)
# AUC is the normalised U of the positive class (Hanley & McNeil,
# Radiology '82); a single-class sample reads NULL.
AUC = (
    "CAST(u2a AS DOUBLE)"
    " / nullif(2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE), 0.0)"
)


def rank_sum(
    df: DataFrame, groups: list[str], value: str, is_a: str
) -> DataFrame:
    """Pooled tie-averaged rank sum of sample A per group: the core of
    Mann–Whitney U and of ROC AUC.  ``df``: one row per observation with
    the ``groups`` columns, a non-NULL ``value`` (the caller screens
    NULLs, which Spark and DuckDB order at opposite ends) and ``is_a``
    (1 = sample A, 0 = sample B).

    Ranks never materialise as floats: a tie group at cumulative offset
    c with t members has the 2×-scaled rank 2c + t + 1, so R_a2 =
    Σ a·(2c + t + 1) is an exact integer, summed in DECIMAL(38,0) (one
    product nears 2^63 at ~2e12 pooled rows).  The tie correction
    Σ(t³ − t) sums in DOUBLE, CAST first (a BIGINT cube overflows at a
    2^21-row tie group).

    Returns (groups…, n_a, n_b, nn, u2a, tsum) with u2a = 2·U_a.
    """
    g = df.groupBy(*groups, value).agg(
        F.count("*").alias("t"), F.sum(is_a).alias("a")
    )
    w = Window.partitionBy(*groups).orderBy(value).rowsBetween(
        Window.unboundedPreceding, -1
    )
    r = g.withColumn("c", F.coalesce(F.sum("t").over(w), F.lit(0)))
    s = r.groupBy(*groups).agg(
        F.sum(
            F.col("a").cast("decimal(18,0)")
            * (2 * F.col("c") + F.col("t") + 1).cast("decimal(19,0)")
        ).alias("r_a2"),
        F.sum("a").alias("n_a"),
        F.sum(F.col("t") - F.col("a")).alias("n_b"),
        F.sum(
            F.col("t").cast("double") * F.col("t") * F.col("t") - F.col("t")
        ).alias("tsum"),
    )
    return s.select(
        *groups, "n_a", "n_b",
        (F.col("n_a") + F.col("n_b")).alias("nn"),
        (
            F.col("r_a2")
            - F.col("n_a").cast("decimal(19,0)")
            * (F.col("n_a") + 1).cast("decimal(19,0)")
        ).alias("u2a"),
        "tsum",
    )


def ks_test(df: DataFrame, value: str, c_alpha: float) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov test (Kolmogorov '33,
    Smirnov '39): D = sup|F₁ − F₂| over the pooled support and the
    distribution-free critical value c(α)·√((n₁+n₂)/(n₁n₂)).

    ``df``: one row per observation with ``value`` and the sample
    indicators ``c1``, ``c2``.  The supremum is EXACT INTEGER
    arithmetic: |cum₁·n₂ − cum₂·n₁| is a BIGINT at each pooled value, so
    the argmax and its smallest-value tie-break are integer comparisons.
    d_num ≤ n₁·n₂ overflows BIGINT past ~3e9 rows per side — at that
    scale normalise per row in DECIMAL(38,0) or subsample.

    Returns one row (n1, n2, d_max, at_value, ks_d, crit, reject); an
    empty input reads NULLs, and an empty sample NULL ks_d/crit/reject.
    """
    g = df.groupBy(value).agg(
        F.sum("c1").cast("bigint").alias("c1"),
        F.sum("c2").cast("bigint").alias("c2"),
    )
    wcum = Window.orderBy(value).rowsBetween(*_RUNNING)
    w_all = Window.partitionBy()
    c = g.select(
        value,
        F.sum("c1").over(wcum).cast("bigint").alias("cum1"),
        F.sum("c2").over(wcum).cast("bigint").alias("cum2"),
        F.sum("c1").over(w_all).cast("bigint").alias("n1"),
        F.sum("c2").over(w_all).cast("bigint").alias("n2"),
    )
    d = c.select(
        value, "n1", "n2",
        F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1")).alias(
            "d_num"
        ),
    ).withColumn("d_max", F.max("d_num").over(w_all))
    n12 = F.nullif(F.col("n1") * F.col("n2").cast("double"), F.lit(0.0))
    ks = F.col("d_max").cast("double") / n12
    crit = F.lit(c_alpha) * F.sqrt((F.col("n1") + F.col("n2").cast("double")) / n12)
    return (
        d.filter(F.col("d_num") == F.col("d_max"))
        .groupBy()
        .agg(
            F.any_value("n1").alias("n1"),
            F.any_value("n2").alias("n2"),
            F.any_value("d_max").alias("d_max"),
            F.min(value).alias("at_value"),
        )
        .select(
            "n1", "n2", "d_max", "at_value",
            ks.alias("ks_d"), crit.alias("crit"), (ks > crit).alias("reject"),
        )
    )


# DiD point estimate, large-sample SE and z over the four cell moments
# (n, m = mean, v = var_samp; suffix = treat, post).  The moments are
# the only engine-computed aggregates; a zero-variance design reads a
# NULL z instead of an ANSI DIVIDE_BY_ZERO.
DID = "((m11 - m10) - (m01 - m00))"
DID_SE = "sqrt(v11 / n11 + v10 / n10 + v01 / n01 + v00 / n00)"
DID_Z = f"{DID} / nullif({DID_SE}, 0.0)"


def diff_in_diff(df: DataFrame) -> DataFrame:
    """2×2 difference-in-differences (Card & Krueger AER '94):
    DiD = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre) with the
    large-sample SE sqrt(Σ v_c/n_c) over the four cells.

    ``df``: one row per observation with ``treat`` and ``post`` in
    {0, 1} and the outcome ``val``.  One map-side-combinable moments
    pass grouped by (treat, post), pivoted into one row.

    Returns one row (n11, n10, n01, n00, m…, v…, did, se, z); a missing
    cell reads NULL moments, and did/se/z are NULL until its inputs
    exist (a one-row cell has a NULL variance, hence a NULL se).
    """
    cell = df.groupBy("treat", "post").agg(
        F.count("*").alias("n"),
        F.avg("val").alias("m"),
        F.var_samp("val").alias("v"),
    )
    wide = cell.agg(*[
        F.max(
            F.when((F.col("treat") == tr) & (F.col("post") == po), F.col(c))
        ).alias(f"{c}{tr}{po}")
        for c in "nmv"
        for tr, po in ((1, 1), (1, 0), (0, 1), (0, 0))
    ])
    return wide.select(
        "*",
        F.expr(DID).alias("did"),
        F.expr(DID_SE).alias("se"),
        F.expr(DID_Z).alias("z"),
    )


# per-bucket survival factor and hazard term (micro-units), shared-shape
# over the exact BIGINT (n_risk, d) columns
KM_FACTOR = "round(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE), 6)"
NA_HAZARD_U = (
    "CAST(round(round(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE), 6)"
    " * 1000000.0) AS BIGINT)"
)


def kaplan_meier(life: DataFrame) -> DataFrame:
    """Kaplan–Meier product-limit curve (Kaplan & Meier, JASA '58) and
    Nelson–Aalen cumulative hazard (Aalen, AoS '78) over a lifetime
    table ``life``: one row per subject with its lifetime bucket ``t``
    and ``event`` (1 = the event happened in bucket t, 0 = censored
    there).

    n_risk is the suffix sum of bucket sizes (exact BIGINT); each factor
    (n − d)/n rounds at 6 dp; Ŝ(t) is an ORDER-PINNED sequential fold
    round(acc·f, 6) over the sorted factors (Spark ``aggregate`` here,
    DuckDB ``list_reduce`` in the oracle), so no association order is
    exposed; the hazard accumulates in exact BIGINT micro-units.  The
    bucket table is calendar-bounded, so the O(K²) prefix-fold arrays
    are control-plane sized.

    Returns one row per bucket (t, n_risk, d, c, km, na_u) with ``c``
    the censored count and ``na_u`` = Ĥ(t)·10⁶.
    """
    bucket = life.groupBy("t").agg(
        F.sum("event").alias("d"),
        F.sum(F.lit(1) - F.col("event")).alias("c"),
        F.count("*").alias("m"),
    )
    wdesc = Window.orderBy(F.col("t").desc()).rowsBetween(*_RUNNING)
    r = bucket.withColumn("n_risk", F.sum("m").over(wdesc))
    f = r.select(
        "t", "d", "c", "n_risk",
        F.expr(KM_FACTOR).alias("factor_r"),
        F.expr(NA_HAZARD_U).alias("hz_u"),
    )
    wasc = Window.orderBy("t").rowsBetween(*_RUNNING)
    k = f.select(
        "t", "d", "c", "n_risk",
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("t").alias("t"), F.col("factor_r").alias("f"))
                ).over(wasc)
            ),
            lambda s: s["f"],
        ).alias("fl"),
        F.sum("hz_u").over(wasc).alias("na_u"),
    )
    return k.select(
        "t", "n_risk", "d", "c",
        F.aggregate("fl", F.lit(1.0), lambda acc, x: F.round(acc * x, 6))
        .alias("km"),
        "na_u",
    )


# log10(1 + 1/d) for d = 1..9, repr()'d so both engines parse the exact
# same float64.  The explicit DOUBLE cast matters: both parsers type a
# bare 17-digit literal as DECIMAL, and DuckDB then keeps the whole
# chi-square chain in DECIMAL(38) arithmetic (which overflows).
BENFORD_P = (
    "CASE digit "
    + " ".join(
        f"WHEN {d} THEN CAST({math.log10(1.0 + 1.0 / d)!r} AS DOUBLE)"
        for d in range(1, 10)
    )
    + " END"
)


def benford(df: DataFrame, col: str) -> DataFrame:
    """Benford's-law first-significant-digit table (Benford '38) of
    ``col``: for EVERY digit 1–9 (a spine join — an absent digit still
    contributes N·p to chi-square) the count, the expected count N·p,
    the chi-square term and the absolute proportion deviation
    |n/N − p| (Nigrini's MAD is their mean).

    The caller screens ``col`` to the digit-extractable domain
    (≥ 1, and below any cast-overflow bound).  Extraction is floor →
    BIGINT → string → first character, never float formatting.

    Returns 9 rows (digit, n, big_n, p, expected, chi, dev); with no
    rows at all, chi and dev are NULL.
    """
    g = (
        df.select(
            F.substring(F.floor(F.col(col)).cast("bigint").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
    )
    spine = df.sparkSession.range(1, 10).select(
        F.col("id").cast("int").alias("digit")
    )
    n = F.coalesce(F.col("n"), F.lit(0))
    t = spine.join(g, "digit", "left").select(
        "digit",
        n.alias("n"),
        F.sum(n).over(Window.partitionBy()).alias("big_n"),
        F.expr(BENFORD_P).alias("p"),
    )
    e = F.col("big_n") * F.col("p")
    chi = (F.col("n") - e) * (F.col("n") - e) / F.nullif(e, F.lit(0.0))
    share = F.col("n") / F.nullif(F.col("big_n"), F.lit(0))
    return t.select(
        "digit", "n", "big_n", "p",
        e.alias("expected"),
        chi.alias("chi"),
        F.abs(share - F.col("p")).alias("dev"),
    )


def gini(f: DataFrame, group: str, key: str, count: str) -> DataFrame:
    """Gini coefficient per ``group`` of the ``count`` distribution over
    ``key`` (sorted-rank identity G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n).

    ``f``: one row per (group, key) with its ``count``.  Ranks are
    deterministic (count, key) row numbers; Σ(i·xᵢ) accumulates exactly
    in DECIMAL(38,0) and Σx in BIGINT, so G is one fixed-order double
    expression over exact integers.  The rank window runs over the
    (group, key) count table, not the corpus.

    Returns (group, n, tot, wsum, gini).
    """
    w = Window.partitionBy(group).orderBy(F.col(count).asc(), F.col(key).asc())
    r = f.select(group, F.col(count).alias("c"), F.row_number().over(w).alias("i"))
    g = r.groupBy(group).agg(
        F.count("*").alias("n"),
        F.sum("c").alias("tot"),
        F.sum(
            F.col("i").cast("decimal(19,0)") * F.col("c").cast("decimal(19,0)")
        ).alias("wsum"),
    )
    return g.withColumn(
        "gini",
        F.lit(2.0) * F.col("wsum").cast("double")
        / (F.col("n") * F.col("tot").cast("double"))
        - (F.col("n") + F.lit(1.0)) / F.col("n"),
    )


def smoothed_kl(f: DataFrame, groups: list[str], p: str, q: str) -> DataFrame:
    """KL(P ‖ Q) in nats per group over a categorical table ``f``: one
    row per (group…, category) with SMOOTHED, strictly positive counts
    ``p`` and ``q`` (the caller adds the +0.5 Laplace term and densifies
    every group over its full category scaffold, so KL is finite by
    construction).  Both distributions are normalised within the group.

    Returns (groups…, kl).
    """
    w = Window.partitionBy(*groups)
    t = f.select(
        *groups,
        F.col(p).alias("cp"),
        F.col(q).alias("cq"),
        F.sum(p).over(w).alias("tp"),
        F.sum(q).over(w).alias("tq"),
    )
    pp = F.col("cp") / F.col("tp")
    term = pp * F.log(pp / (F.col("cq") / F.col("tq")))
    return t.groupBy(*groups).agg(F.sum(term).alias("kl"))
