"""Tier D — round-3 analytics extensions beyond SURVEY §2's original
inventory: event-funnel / cohort-retention / gap-fill / SCD2 history over
the `events` stream table, BM25 ranking and unigram-surprisal quality over
`documents`, best-representative near-dup collapse, and Z-order layout
keys for multi-dimensional data skipping.

Every key follows the registry's cross-engine hash rules (registry.py
docstring): identical aliases both sides, ROUND on floating aggregates,
BIGINT casts on DuckDB integer sums, DATE/epoch-micros instead of raw
timestamps.  BM25/surprisal use ln(); Math.log (JVM) and libm log are both
<=1 ulp so round(,6) keeps the hashes stable (same acceptance class as the
documented round()-tie boundary).

Scale notes (100 TB design point) are on each operator's docstring —
the common theme: one key-shuffle per stage, scalar/dimension sides
broadcast, global top-k via TakeOrderedAndProject, never a driver loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import quality_logit, tokens
from ..operators.dedup import (
    connected_components,
    minhash_near_dup,
    ngram_jaccard_pairs,
)
from ..operators.graph import PAGERANK_ROUNDS
from ..storage import stored
from .registry import register, table
from .tierc import _CORPUS3_SQL, _SHINGLES_SQL, _TOKS_SQL, _doc_corpus3

# ---------------------------------------------------------------------------
# event analytics — funnel / retention / gap-fill / SCD2
# ---------------------------------------------------------------------------


@register(
    "q_funnel",
    oracle="""
    WITH ev AS (
      SELECT user_id, ts, event_type FROM events
      WHERE event_type IN ('view', 'click', 'purchase')),
    s1 AS (SELECT user_id, min(ts) AS t1 FROM ev
           WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(e.ts) AS t2
           FROM ev e JOIN s1 ON s1.user_id = e.user_id
           WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(e.ts) AS t3
           FROM ev e JOIN s2 ON s2.user_id = e.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id),
    c AS (SELECT (SELECT count(*) FROM s1) AS u1,
                 (SELECT count(*) FROM s2) AS u2,
                 (SELECT count(*) FROM s3) AS u3)
    SELECT '1_view' AS stage, CAST(u1 AS BIGINT) AS n_users,
           round(CAST(1.0 AS DOUBLE), 4) AS conv_from_prev FROM c
    UNION ALL
    SELECT '2_click', CAST(u2 AS BIGINT),
           round(CASE WHEN u1 = 0 THEN NULL
                      ELSE CAST(u2 AS DOUBLE) / u1 END, 4) FROM c
    UNION ALL
    SELECT '3_purchase', CAST(u3 AS BIGINT),
           round(CASE WHEN u2 = 0 THEN NULL
                      ELSE CAST(u3 AS DOUBLE) / u2 END, 4) FROM c
    """,
)
def q_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase: a user converts
    a stage only with an event strictly after their previous-stage time
    (the min-timestamp chain; ClickHouse windowFunnel semantics with
    strict ordering).

    Scale: ONE shuffle on user_id; the three stage times are consecutive
    Window aggregates over the same partitioning (no orderBy -> no sort
    requirement beyond the exchange), then a per-user collapse and a
    single-row global rollup.  No collect, no driver loop.
    """
    ev = (
        table(spark, sf, "events")
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        .select("user_id", "ts", "event_type")
    )
    w = Window.partitionBy("user_id")
    ev = ev.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    ev = ev.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
                F.col("ts"),
            )
        ).over(w),
    )
    ev = ev.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = ev.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    one = per_user.agg(
        F.sum(F.col("t1").isNotNull().cast("long")).alias("u1"),
        F.sum(F.col("t2").isNotNull().cast("long")).alias("u2"),
        F.sum(F.col("t3").isNotNull().cast("long")).alias("u3"),
    )
    return one.selectExpr(
        """stack(3,
             '1_view', u1, round(CAST(1.0 AS DOUBLE), 4),
             '2_click', u2,
             round(CASE WHEN u1 = 0 THEN NULL
                        ELSE CAST(u2 AS DOUBLE) / u1 END, 4),
             '3_purchase', u3,
             round(CASE WHEN u2 = 0 THEN NULL
                        ELSE CAST(u3 AS DOUBLE) / u2 END, 4)
           ) AS (stage, n_users, conv_from_prev)"""
    )


@register(
    "q_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id),
    act AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      FROM events)
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.wk) / 7 AS INT) AS week_offset,
           CAST(count(*) AS BIGINT) AS n_active
    FROM act a JOIN firsts f ON f.user_id = a.user_id
    GROUP BY f.cohort_week, week_offset
    """,
)
def q_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen ISO week, counted in
    each subsequent activity week (the classic retention triangle).

    Scale: both the first-seen aggregate and the distinct activity set
    shuffle on user_id (co-partitioned join, one exchange each side); the
    final rollup keys on (cohort_week, offset) — tiny cardinality. A user
    appears once per activity week post-distinct, so count(*) == distinct
    users with no second distinct aggregation.
    """
    ev = table(spark, sf, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    act = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("wk")
    ).distinct()
    return (
        act.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("wk"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count("*").alias("n_active"))
    )


@register(
    "q_gapfill",
    oracle="""
    WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day, value FROM events),
    daily AS (SELECT event_type, day, count(*) AS n, sum(value) AS s
              FROM ev GROUP BY event_type, day),
    bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
    spine AS (SELECT t.event_type,
                     CAST(unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY)) AS DATE) AS day
              FROM (SELECT DISTINCT event_type FROM ev) t CROSS JOIN bounds b),
    f AS (SELECT s.event_type, s.day, coalesce(d.n, 0) AS n, d.s
          FROM spine s LEFT JOIN daily d
          ON d.event_type = s.event_type AND d.day = s.day)
    SELECT event_type, day, CAST(n AS BIGINT) AS n_events,
           round(last_value(s IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
             AS filled_sum
    FROM f
    """,
)
def q_gapfill(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series gap filling: a dense (event_type x day) spine generated
    from the observed date bounds, zero-filled counts, and
    last-observation-carried-forward daily sums (the timeseries
    `time_bucket_gapfill` + `locf` idiom).

    Scale: the daily aggregate is tiny at any corpus size (types x days),
    so it broadcasts onto the generated spine — the only shuffle is the
    daily groupBy itself, which map-side combines.  The date spine comes
    from a 1-row bounds aggregate crossed with the distinct type list;
    sequence()+explode generates rows executor-side, never on the driver.
    """
    ev = table(spark, sf, "events").select(
        "event_type", F.to_date("ts").alias("day"), "value"
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count("*").alias("n"), F.sum("value").alias("s")
    )
    bounds = ev.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    types = ev.select("event_type").distinct()
    spine = types.crossJoin(bounds).select(
        "event_type", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    filled = spine.join(daily, ["event_type", "day"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        "event_type",
        "day",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
        F.round(F.last("s", ignorenulls=True).over(w), 4).alias("filled_sum"),
    )


@register(
    "x_scd2",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events),
    chg AS (SELECT user_id, ts, event_id, event_type FROM ordered
            WHERE prev IS NULL OR prev <> event_type)
    SELECT user_id, event_type AS segment,
           epoch_us(ts) AS valid_from_us,
           epoch_us(lead(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id)) AS valid_to_us,
           CAST(lead(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) IS NULL AS INT)
             AS is_current
    FROM chg
    """,
)
def x_scd2(spark: SparkSession, sf: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build: collapse each user's event
    stream into validity intervals over the current `event_type` segment —
    change detection by lag(), interval close by lead(), open interval =
    current row.  The history-table construction step of a warehouse
    dimension load.

    Scale: ONE shuffle on user_id; the change-filter preserves both the
    hash distribution and the (ts, event_id) sort, so the second window
    (lead over the filtered rows) re-uses the exchange and the sort —
    .explain shows a single Exchange.  Tie-break on event_id makes the
    ordering total and both engines deterministic.
    """
    ev = table(spark, sf, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = ev.withColumn("prev", F.lag("event_type").over(w)).filter(
        F.col("prev").isNull() | (F.col("prev") != F.col("event_type"))
    )
    lead_ts = F.lead("ts").over(w)
    return chg.select(
        "user_id",
        F.col("event_type").alias("segment"),
        F.unix_micros("ts").alias("valid_from_us"),
        F.unix_micros(lead_ts).alias("valid_to_us"),
        lead_ts.isNull().cast("int").alias("is_current"),
    )


# ---------------------------------------------------------------------------
# IR / quality — BM25 ranking, unigram surprisal
# ---------------------------------------------------------------------------

_BM25_TERMS = ["spark", "data", "fast", "big"]
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TERMS_SQL = ", ".join(f"('{t}')" for t in _BM25_TERMS)


@register(
    "x_bm25",
    oracle=f"""
    WITH q(term) AS (VALUES {_BM25_TERMS_SQL}),
    toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[[:space:]]+'),
                         x -> x <> '') AS t
      FROM documents),
    dl AS (SELECT doc_id, len(t) AS dl FROM toks),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tf AS (SELECT x.doc_id, x.term, count(*) AS tf
           FROM (SELECT doc_id, unnest(t) AS term FROM toks) x
           JOIN q ON q.term = x.term
           GROUP BY x.doc_id, x.term),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             sum(ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                 * tf.tf * ({_BM25_K1} + 1)
                 / (tf.tf + {_BM25_K1} * (1 - {_BM25_B}
                                          + {_BM25_B} * dl.dl / s.avgdl)))
               AS score
      FROM tf
      JOIN dfreq d ON d.term = tf.term
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
      GROUP BY tf.doc_id)
    SELECT doc_id, round(score, 6) AS score,
           CAST(row_number() OVER (ORDER BY round(score, 6) DESC, doc_id)
                AS INT) AS rank
    FROM scored
    ORDER BY score DESC, doc_id LIMIT 50
    """,
)
def x_bm25(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 top-50 document ranking for a fixed query-term set (Robertson/
    Sparck-Jones idf with the +1 smoothing, k1=1.2, b=0.75) — the lexical
    retrieval baseline next to the vector x_sim_* family.

    Scale: term frequencies shuffle once on (doc_id, term) with map-side
    combine after an explode restricted to query terms (the filter rides
    inside the HOF, so non-query tokens never explode).  Document
    frequencies (|q| rows) and the corpus stats (1 row) broadcast; the
    per-doc sum re-shuffles on doc_id.  Global top-50 is orderBy+limit =
    TakeOrderedAndProject, never a full sort.  ln() is the documented
    <=1-ulp cross-engine boundary; round(,6) + rounded-score ordering keep
    the cut deterministic.
    """
    d = table(spark, sf, "documents").select(
        "doc_id", tokens("text").alias("t")
    )
    dl = d.select("doc_id", F.size("t").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        d.select(
            "doc_id",
            F.explode(F.filter(F.col("t"), lambda x: x.isin(*_BM25_TERMS))).alias(
                "term"
            ),
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    comp = idf * F.col("tf") * (_BM25_K1 + 1) / (
        F.col("tf")
        + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(dfreq, "term")
        .join(dl, "doc_id")
        .crossJoin(stats)
        .groupBy("doc_id")
        .agg(F.sum(comp).alias("raw"))
        .select("doc_id", F.round("raw", 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(50)
    )
    wr = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return scored.withColumn("rank", F.row_number().over(wr).cast("int"))


@register(
    "x_surprisal",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[[:space:]]+'),
                         x -> x <> '') AS t
      FROM documents),
    ex AS (SELECT doc_id, unnest(t) AS term FROM toks),
    cnt AS (SELECT term, count(*) AS c FROM ex GROUP BY term),
    tot AS (SELECT CAST(sum(c) AS DOUBLE) AS tt, count(*) AS vv FROM cnt)
    SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
           round(sum(-ln((c.c + 1) / (t.tt + t.vv))) / count(*), 6)
             AS mean_surprisal
    FROM ex e JOIN cnt c ON c.term = e.term CROSS JOIN tot t
    GROUP BY e.doc_id
    """,
)
def x_surprisal(spark: SparkSession, sf: str) -> DataFrame:
    """Unigram-LM quality signal: per-document mean token surprisal
    -ln p(token) under the corpus's own add-one-smoothed unigram
    distribution (the cheap KenLM-perplexity stand-in used for quality
    bucketing; CCNet-style).  Empty documents have no tokens and drop out
    on both engines.

    Scale: two passes over the exploded tokens, both shuffling on `term`
    (count, then count-join); AQE broadcasts the count side when it fits —
    at 100 TB the unigram table still shuffles correctly.  The totals
    aggregate is 1 row, broadcast via crossJoin.  Final per-doc mean
    shuffles on doc_id.  round(,6) absorbs ln()/sum-order ulps.
    """
    d = table(spark, sf, "documents").select("doc_id", tokens("text").alias("t"))
    ex = d.select("doc_id", F.explode("t").alias("term"))
    cnt = ex.groupBy("term").agg(F.count("*").alias("c"))
    tot = cnt.agg(
        F.sum("c").cast("double").alias("tt"), F.count("*").alias("vv")
    )
    p = (F.col("c") + 1) / (F.col("tt") + F.col("vv"))
    return (
        ex.join(cnt, "term")
        .crossJoin(tot)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tok"),
            F.round(F.sum(-F.log(p)) / F.count("*"), 6).alias("mean_surprisal"),
        )
    )


# ---------------------------------------------------------------------------
# dedup composition — keep the best representative per near-dup cluster
# ---------------------------------------------------------------------------

_QUALITY_SQL = """
    m AS (
      SELECT k.doc_id, len(k.t) AS n_tok, greatest(len(k.t), 1) AS n_g,
             length(c.text) AS n_chars,
             len(list_filter(k.t, x -> list_contains(
               ['the','a','of','and','to','in','is','it','that','for'], x)))
               AS n_stop,
             len(list_filter(k.t, x -> x = 'fast'))  AS c_fast,
             len(list_filter(k.t, x -> x = 'slow'))  AS c_slow,
             len(list_filter(k.t, x -> x = 'spark')) AS c_spark,
             len(list_filter(k.t, x -> x = 'data'))  AS c_data,
             len(list_filter(k.t, x -> x = 'big'))   AS c_big
      FROM toks k JOIN corpus c ON c.doc_id = k.doc_id),
    ql AS (
      SELECT doc_id,
             -0.4::DOUBLE
               + 2.5::DOUBLE * (n_stop / n_g)
               + 0.15::DOUBLE * (n_chars / n_g)
               + (0.6::DOUBLE * c_fast + -0.7::DOUBLE * c_slow
                  + 0.4::DOUBLE * c_spark + 0.2::DOUBLE * c_data
                  + -0.1::DOUBLE * c_big) / n_g AS score
      FROM m)
"""


@register(
    "x_dedup_best",
    oracle=f"""
    WITH RECURSIVE {_CORPUS3_SQL}, {_TOKS_SQL}, {_SHINGLES_SQL},
    sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id),
    pairs AS (SELECT id_a, id_b
              FROM inter
              JOIN sz za ON za.doc_id = id_a
              JOIN sz zb ON zb.doc_id = id_b
              WHERE n / (za.s + zb.s - n) >= 0.6),
    edges AS (SELECT id_a AS s, id_b AS d FROM pairs
              UNION ALL
              SELECT id_b AS s, id_a AS d FROM pairs),
    walk(node, lbl) AS (
      SELECT doc_id, doc_id FROM corpus
      UNION
      SELECT e.d, w.lbl FROM walk w JOIN edges e ON e.s = w.node
    ),
    lab AS (SELECT node AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY node),
    {_QUALITY_SQL.strip().lstrip()}
    SELECT l.doc_id, l.cluster_id,
           count(*) OVER (PARTITION BY l.cluster_id) AS cluster_size,
           q.score
    FROM lab l JOIN ql q ON q.doc_id = l.doc_id
    QUALIFY row_number() OVER (PARTITION BY l.cluster_id
                               ORDER BY q.score DESC, l.doc_id) = 1
    """,
)
def x_dedup_best(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-aware near-dup collapse: cluster near-duplicates (exact
    n-gram Jaccard edges -> connected components, same graph as
    x_dedup_cluster) then keep the HIGHEST-QUALITY representative per
    cluster instead of the min-id — the policy real training-data dedup
    uses (drop the worse copy, not the arbitrary one).  Winner by the
    engine-exact quality logit (libm-free -> bit-identical ordering both
    engines), doc_id tie-break.

    Scale: inherits the bucketed pair-generation and O(diameter)
    label-propagation bounds of the cluster key; the added representative
    pick is one more window over the cluster-id shuffle.  cluster_size
    rides the same window partitioning.
    """
    corpus = _doc_corpus3(spark, sf)
    edges = ngram_jaccard_pairs(corpus).select("id_a", "id_b")
    return _collapse_best(corpus, edges)


def _collapse_best(corpus: DataFrame, edges: DataFrame) -> DataFrame:
    """Shared tail of the best-representative keys: components over the
    pair graph, quality score per doc, one window pick per cluster."""
    labels = connected_components(edges, corpus.select("doc_id"))
    # materialize tokens in their own projection first (HOF re-eval rule)
    q = corpus.select("doc_id", "text", tokens("text").alias("__t")).select(
        "doc_id", quality_logit(F.col("__t"), F.col("text")).alias("score")
    )
    j = labels.join(q, "doc_id")
    wc = Window.partitionBy("cluster_id")
    wr = wc.orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        j.withColumn("cluster_size", F.count("*").over(wc))
        .withColumn("__rn", F.row_number().over(wr))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "cluster_id", "cluster_size", "score")
    )


# ---------------------------------------------------------------------------
# layout — Z-order (Morton) clustering keys for multi-dim data skipping
# ---------------------------------------------------------------------------


def _morton_sql(x: str, y: str) -> str:
    """Bit-interleave SQL text valid in BOTH Spark SQL and DuckDB: only
    `>>`, `&` and `*` (shift-left as multiplication by a power of two, so
    no engine-specific shiftleft() function is needed).  Disjoint bit
    positions make `+` carry-free, i.e. identical to `|`."""
    terms = []
    for i in range(16):
        terms.append(f"((({x} >> {i}) & 1) * {1 << (2 * i)})")
        terms.append(f"((({y} >> {i}) & 1) * {1 << (2 * i + 1)})")
    return "(" + " + ".join(terms) + ")"


_MORTON = _morton_sql("l_partkey", "l_suppkey")


@register(
    "x_zorder",
    oracle=f"""
    WITH z AS (
      SELECT l_partkey, l_suppkey, {_MORTON} AS zval
      FROM lineitem)
    SELECT zval // 65536 AS zbucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(l_partkey) AS pk_min, max(l_partkey) AS pk_max,
           min(l_suppkey) AS sk_min, max(l_suppkey) AS sk_max
    FROM z GROUP BY zbucket
    """,
)
def x_zorder(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order (Morton) layout keys over (l_partkey, l_suppkey): interleave
    the low 16 bits of both dimensions, bucket by the high Morton bits,
    and report per-bucket min/max envelopes for BOTH dimensions — the
    file-level statistics a Z-ordered rewrite gives a scan planner, which
    is what makes two-column data skipping work (Delta/Iceberg OPTIMIZE
    ZORDER BY).  Narrow per-bucket envelopes on both axes = prunable on
    either predicate.

    Scale: the Morton key is a pure map-side integer expression (identical
    SQL text runs on both engines); the bucket rollup is one map-side-
    combined shuffle on zbucket.  In a real rewrite the same key feeds
    repartitionByRange(zval) before the sink so row groups inherit the
    envelopes.
    """
    li = table(spark, sf, "lineitem")
    z = li.selectExpr("l_partkey", "l_suppkey", f"{_MORTON} AS zval")
    return (
        z.selectExpr("CAST(zval DIV 65536 AS BIGINT) AS zbucket",
                     "l_partkey", "l_suppkey")
        .groupBy("zbucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("l_partkey").alias("pk_min"),
            F.max("l_partkey").alias("pk_max"),
            F.min("l_suppkey").alias("sk_min"),
            F.max("l_suppkey").alias("sk_max"),
        )
    )


# ---------------------------------------------------------------------------
# graph — fixed-iteration PageRank (co-purchase importance)
# ---------------------------------------------------------------------------


def _basket_screen_sql(max_basket: int | None) -> str:
    """The co-purchase derivation's source CTEs, optionally hub-guarded:
    with ``max_basket`` set, baskets wider than it are dropped before pair
    generation (operators.graph.copurchase_pairs's guard, replayed as a
    HAVING screen).  Shared by the pagerank / triangle / LPA oracles."""
    if max_basket is None:
        return "li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)"
    return f"""li0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    keep AS (SELECT l_orderkey FROM li0 GROUP BY l_orderkey
             HAVING count(*) <= {max_basket}),
    li AS (SELECT li0.l_orderkey, li0.l_partkey FROM li0 JOIN keep USING (l_orderkey))"""


def _pagerank_oracle(max_basket: int | None = None) -> str:
    """Unrolled-CTE replica of operators.graph.pagerank — generated from
    the same iteration count (and optional basket screen) so engine and
    oracle cannot drift.  ``max_basket`` guards PAIR GENERATION only;
    nodes stay corpus-wide (isolated parts keep the teleport term)."""
    parts = [
        f"""
    WITH {_basket_screen_sql(max_basket)},
    pairs AS (SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
              FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
    nodes AS (SELECT DISTINCT l_partkey AS node FROM lineitem),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    deg AS (SELECT s, count(*) AS deg FROM pairs GROUP BY s),
    r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS r FROM nodes)"""
    ]
    for i in range(PAGERANK_ROUNDS):
        parts.append(
            f""",
    c{i + 1} AS (SELECT p.d AS node, sum(r{i}.r / deg.deg) AS m
           FROM pairs p JOIN r{i} ON r{i}.node = p.s JOIN deg ON deg.s = p.s
           GROUP BY p.d),
    r{i + 1} AS (SELECT nodes.node,
                  0.15 / (SELECT n FROM nn)
                    + 0.85 * coalesce(c{i + 1}.m, 0) AS r
           FROM nodes LEFT JOIN c{i + 1} ON c{i + 1}.node = nodes.node)"""
        )
    parts.append(
        f"""
    SELECT r{PAGERANK_ROUNDS}.node AS part_id,
           CAST(coalesce(deg.deg, 0) AS BIGINT) AS degree,
           round(r{PAGERANK_ROUNDS}.r * (SELECT n FROM nn), 6) AS rank_norm
    FROM r{PAGERANK_ROUNDS} LEFT JOIN deg ON deg.s = r{PAGERANK_ROUNDS}.node"""
    )
    return "".join(parts)


@register("x_pagerank", oracle=_pagerank_oracle())
def x_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-iteration PageRank over the part co-purchase graph (parts
    sharing an order are linked, both directions) — the graph-importance
    signal curation pipelines use to weight crawl documents; here
    demonstrated on the deterministic TPC-H co-occurrence graph.  3
    damped rounds (d=0.85), teleport-only for isolated nodes, rank
    reported N-normalized (uniform = 1.0).

    Scale: pair generation self-joins on l_orderkey (both sides share one
    exchange) and is bounded by order width, never corpus-squared; each
    unrolled iteration is one dst-keyed shuffle (operators/graph.py
    docstring covers the many-round checkpoint variant).  round(,6)
    absorbs sum-order and teleport-constant ulps.
    """
    from ..operators.graph import copurchase_pairs

    li = table(spark, sf, "lineitem")
    return pagerank_report(
        copurchase_pairs(li, directed=True),
        li.select(F.col("l_partkey").alias("node")).distinct(),
    )


def pagerank_report(pairs: DataFrame, nodes: DataFrame) -> DataFrame:
    """3-round damped PageRank report body over a directed (src, dst)
    edge list + node frame (algorithm notes on x_pagerank) — shared by
    the exhaustive key and the max_basket-guarded twin (tierh).

    Storage shape (r14 remedy, SCALE.md §7t): exactly ONE corpus-scale
    frame is checkpointed — the degree-weighted edge list built in one
    pass by ``weighted_edges`` — plus the node-sized node frame.  The
    raw pair list is never stored (it is consumed once, folding the
    degree in), and the report's ``degree`` column is DERIVED from the
    weighted list (w = 1/deg makes row-count-per-src exact), not from a
    second stored copy of the pairs.  The previous double-checkpoint
    shape held the co-purchase graph twice and measured a 5.99× sf1→sf2
    doubling with a default-heap GC death; tests/test_graph.py pins the
    single-corpus-scale-scan plan shape."""
    from ..operators.graph import pagerank, weighted_edges

    # the ONE corpus-scale stored frame: pair self-join + degree fold run
    # once, iterations and the degree branch below read the stored blocks
    weighted = weighted_edges(pairs)
    nodes = stored(nodes)
    ranks = pagerank(None, nodes, materialize=False, weighted=weighted)
    nn = nodes.agg(F.count("*").cast("double").alias("__n"))
    deg = weighted.groupBy("src").agg(F.count("*").alias("deg"))
    return (
        ranks.join(deg, ranks["node"] == deg["src"], "left")
        .crossJoin(nn)
        .select(
            F.col("node").alias("part_id"),
            F.coalesce(F.col("deg"), F.lit(0)).cast("long").alias("degree"),
            F.round(F.col("r") * F.col("__n"), 6).alias("rank_norm"),
        )
    )


# ---------------------------------------------------------------------------
# warehouse maintenance — MERGE INTO semantics; CEP pattern match
# ---------------------------------------------------------------------------


@register(
    "q_merge",
    oracle="""
    WITH upd AS (
      SELECT o_custkey AS custkey, round(sum(o_totalprice), 2) AS spent
      FROM orders GROUP BY o_custkey),
    del AS (
      SELECT c_custkey AS custkey FROM customer
      WHERE c_acctbal < 0
        AND c_custkey NOT IN (SELECT custkey FROM upd)),
    ins AS (
      SELECT c_custkey + 1000000 AS custkey,
             concat('Customer#new', CAST(c_custkey AS VARCHAR)) AS name,
             CAST(0.0 AS DOUBLE) AS acctbal
      FROM customer WHERE c_custkey < 10),
    kept AS (
      SELECT c.c_custkey AS custkey, c.c_name AS name,
             c.c_acctbal AS acctbal, u.spent
      FROM customer c LEFT JOIN upd u ON u.custkey = c.c_custkey
      WHERE c.c_custkey NOT IN (SELECT custkey FROM del))
    SELECT custkey, name,
           round(CASE WHEN spent IS NOT NULL THEN acctbal + spent
                      ELSE acctbal END, 2) AS acctbal,
           CASE WHEN spent IS NOT NULL THEN 'U' ELSE 'K' END AS op
    FROM kept
    UNION ALL
    SELECT custkey, name, acctbal, 'I' AS op FROM ins
    """,
)
def q_merge(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE INTO semantics without a v2 table format: WHEN MATCHED UPDATE
    (customers with orders get spend added to their balance), WHEN
    MATCHED [condition] DELETE (negative balance, no orders), WHEN NOT
    MATCHED INSERT (a synthetic new-customer batch) — expressed as
    anti-join + left-join-coalesce + union, the exact rewrite engines
    apply under the MERGE keyword.

    Scale: the change set aggregates map-side then joins the base on the
    merge key — one co-partitioned shuffle pair; the delete anti-join
    rides the same key.  With a bucketed base table (see
    test_bucketed_join_has_no_exchange) the base side never re-shuffles
    across repeated merges — the incremental-maintenance layout.
    """
    cust = table(spark, sf, "customer")
    upd = (
        table(spark, sf, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("spent"))
    )
    dels = (
        cust.filter(F.col("c_acctbal") < 0)
        .join(upd, cust["c_custkey"] == upd["custkey"], "left_anti")
        .select(F.col("c_custkey").alias("custkey"))
    )
    ins = cust.filter(F.col("c_custkey") < 10).select(
        (F.col("c_custkey") + 1000000).alias("custkey"),
        F.concat(F.lit("Customer#new"), F.col("c_custkey").cast("string")).alias(
            "name"
        ),
        F.lit(0.0).alias("acctbal"),
        F.lit("I").alias("op"),
    )
    kept = (
        cust.join(dels, cust["c_custkey"] == dels["custkey"], "left_anti")
        .join(upd, cust["c_custkey"] == upd["custkey"], "left")
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.round(
                F.when(
                    F.col("spent").isNotNull(), F.col("c_acctbal") + F.col("spent")
                ).otherwise(F.col("c_acctbal")),
                2,
            ).alias("acctbal"),
            F.when(F.col("spent").isNotNull(), F.lit("U"))
            .otherwise(F.lit("K"))
            .alias("op"),
        )
    )
    return kept.unionByName(ins)


@register(
    "q_pattern_match",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type, 1) OVER w AS t1,
             lag(event_type, 2) OVER w AS t2,
             lag(event_id, 1) OVER w AS e1,
             lag(event_id, 2) OVER w AS e2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id, e2 AS view_event, e1 AS click_event,
           event_id AS purchase_event, epoch_us(ts) AS purchase_ts_us
    FROM ordered
    WHERE event_type = 'purchase' AND t1 = 'click' AND t2 = 'view'
    """,
)
def q_pattern_match(spark: SparkSession, sf: str) -> DataFrame:
    """Sequential event-pattern detection (MATCH_RECOGNIZE / CEP lite):
    find view -> click -> purchase as three STRICTLY CONSECUTIVE events
    of one user — the contiguity-sensitive complement of q_funnel's
    anytime-after semantics.  Pattern predicates over lag() chains.

    Scale: one user_id shuffle, one sort, all predicates map-side after
    the window — the standard CEP-on-columnar rewrite (pattern length k
    = k-1 lag columns, no self-joins).
    """
    ev = table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.lag("event_type", 1).over(w).alias("t1"),
        F.lag("event_type", 2).over(w).alias("t2"),
        F.lag("event_id", 1).over(w).alias("e1"),
        F.lag("event_id", 2).over(w).alias("e2"),
    )
    return o.filter(
        (F.col("event_type") == "purchase")
        & (F.col("t1") == "click")
        & (F.col("t2") == "view")
    ).select(
        "user_id",
        F.col("e2").alias("view_event"),
        F.col("e1").alias("click_event"),
        F.col("event_id").alias("purchase_event"),
        F.unix_micros("ts").alias("purchase_ts_us"),
    )


# ---------------------------------------------------------------------------
# sketch family — mergeable approximate quantiles (tolerance-flag pattern)
# ---------------------------------------------------------------------------


@register(
    "q_agg_approx_quantile",
    oracle="""
    SELECT l_returnflag,
           round(CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE), 2)
             AS exact_p50,
           round(CAST(quantile_cont(l_extendedprice, 0.95) AS DOUBLE), 2)
             AS exact_p95,
           CAST(1 AS INT) AS within_tol
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_approx_quantile(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable approximate quantiles (approx_percentile — the
    Greenwald-Khanna-style sketch whose partial states merge across
    partitions, the 100 TB path where exact percentile_cont would sort
    every group) next to the exact interpolated quantile.

    Sketch estimates are engine-specific, so — like q_agg_approx — the
    key returns a deterministic verdict: the exact p50/p95 plus a flag
    that the sketch landed within 1% relative error at accuracy 10000.
    A Spark-side sketch regression flips the flag and fails the hash.

    Scale: ONE shuffle; both the sketch and the exact percentile ride the
    same groupBy (the exact side exists only as the verdict's yardstick —
    production keeps the sketch alone and stays single-pass mergeable).
    """
    li = table(spark, sf, "lineitem")
    approx = F.percentile_approx(
        "l_extendedprice", F.array(F.lit(0.5), F.lit(0.95)), F.lit(10000)
    )
    exact = F.expr(
        "percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice)"
    )
    exact95 = F.expr(
        "percentile_cont(0.95) WITHIN GROUP (ORDER BY l_extendedprice)"
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            approx.alias("ap"),
            exact.alias("e50"),
            exact95.alias("e95"),
        )
        .select(
            "l_returnflag",
            F.round("e50", 2).alias("exact_p50"),
            F.round("e95", 2).alias("exact_p95"),
            (
                (F.abs(F.col("ap")[0] - F.col("e50")) / F.col("e50") <= 0.01)
                & (F.abs(F.col("ap")[1] - F.col("e95")) / F.col("e95") <= 0.01)
            )
            .cast("int")
            .alias("within_tol"),
        )
    )


# ---------------------------------------------------------------------------
# ANN evaluation — recall@k of the IVF index against brute-force truth
# ---------------------------------------------------------------------------

_SIM6 = "round(list_cosine_similarity({a}.embedding::DOUBLE[], {b}.embedding::DOUBLE[]), 6)"


@register(
    "x_ann_recall",
    oracle=f"""
    WITH cent AS (
      SELECT label AS centroid_id, p, round(avg(embedding[p]::DOUBLE), 6) AS m
      FROM embeddings CROSS JOIN unnest(range(1, 65)) u(p)
      GROUP BY label, p),
    centv AS (SELECT centroid_id, list(m ORDER BY p) AS centroid
              FROM cent GROUP BY centroid_id),
    assign AS (
      SELECT vec_id, embedding, centroid_id AS cluster FROM (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], c.centroid), 6) DESC,
                          c.centroid_id ASC) AS rn
        FROM embeddings e CROSS JOIN centv c
        WHERE list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) > 0) t
      WHERE rn = 1),
    approx AS (
      SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id
      FROM assign q JOIN assign a ON a.cluster = q.cluster AND a.vec_id <> q.vec_id
      WHERE q.vec_id < 10
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id
        ORDER BY {_SIM6.format(a='q', b='a')} DESC, a.vec_id ASC) <= 3),
    exact AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 10
        AND list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]) > 0
        AND list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]) > 0
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id
        ORDER BY {_SIM6.format(a='q', b='c')} DESC, c.vec_id ASC) <= 3)
    SELECT e.query_id, CAST(count(a.neighbor_id) AS INT) AS n_hits,
           round(count(a.neighbor_id) / 3.0, 4) AS recall_at_3
    FROM exact e LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """,
)
def x_ann_recall(spark: SparkSession, sf: str) -> DataFrame:
    """ANN index-quality evaluation: recall@3 of the IVF probe-1 index
    against the brute-force ground truth, per query — the gate you run
    before committing a 100 TB corpus to an index layout (probe count and
    centroid quality trade recall for scan fraction; this measures the
    trade, engine-side).

    Scale: ground truth is the broadcast-query brute-force scan (corpus
    stays put); the approx side searches one cluster per query.  The
    recall join keys on (query_id, neighbor_id) — |queries| x k rows on
    both sides, negligible next to either search.  Same rounded-sim +
    vec_id ordering as x_sim_topk/x_sim_ivf keeps both engines' top-k
    cuts identical.
    """
    from ..operators.similarity import cosine_topk, ivf_topk, label_centroids

    e = table(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = cosine_topk(e, q, k=3).select("query_id", "neighbor_id")
    approx = ivf_topk(e, q, label_centroids(e)).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("hit").alias("__h"))
        .select(
            "query_id",
            F.col("__h").cast("int").alias("n_hits"),
            F.round(F.col("__h") / 3.0, 4).alias("recall_at_3"),
        )
    )


# ---------------------------------------------------------------------------
# semi-structured — Spark 4 VARIANT ingestion of the events.props JSON
# ---------------------------------------------------------------------------


@register(
    "q_fn_variant",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           min(CAST(props->>'$.k' AS INT)) AS k_min,
           max(CAST(props->>'$.k' AS INT)) AS k_max,
           round(avg(CAST(props->>'$.k' AS INT)), 4) AS k_avg,
           CAST(sum(CASE WHEN CAST(props->>'$.k' AS INT) > 50
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_high
    FROM events GROUP BY event_type
    """,
)
def q_fn_variant(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured ingestion via the Spark 4 VARIANT type:
    parse_json once into the binary variant encoding, then typed
    variant_get extraction — the modern replacement for per-access
    get_json_object string re-parsing (one parse, many cheap typed
    reads; the open-format answer to a JSON column at 100 TB).

    Scale: parse + extraction are map-side; the rollup is one map-side-
    combined groupBy on event_type.  avg over ints stays exact (integer
    partial sums < 2^53) so only the final division is floating — both
    engines produce the identical double.
    """
    ev = table(spark, sf, "events")
    # try_parse_json: malformed props -> NULL variant (parse_json throws);
    # try_variant_get then yields NULL, matching the oracle's ->> NULL.
    k = F.try_variant_get(F.try_parse_json("props"), "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.round(F.avg("k"), 4).alias("k_avg"),
            # sum over an all-NULL group is NULL in Spark but the oracle's
            # CASE ... ELSE 0 sums to 0 — coalesce keeps the engines aligned.
            F.coalesce(
                F.sum((F.col("k") > 50).cast("long")), F.lit(0).cast("long")
            ).alias("n_high"),
        )
    )


# ---------------------------------------------------------------------------
# data-quality gate — declarative constraint checks over the lake tables
# ---------------------------------------------------------------------------


@register(
    "x_data_checks",
    oracle="""
    SELECT 'orders_custkey_fk' AS check_name,
           CAST((SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
             AS n_violations
    UNION ALL
    SELECT 'lineitem_orderkey_fk',
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
    UNION ALL
    SELECT 'customer_custkey_unique',
           CAST((SELECT count(*) - count(DISTINCT c_custkey) FROM customer)
                AS BIGINT)
    UNION ALL
    SELECT 'events_ts_known_range',
           CAST((SELECT count(*) FROM events
                 WHERE ts IS NULL
                    OR ts <  TIMESTAMP '2020-01-01 00:00:00'
                    OR ts >= TIMESTAMP '2030-01-01 00:00:00') AS BIGINT)
    UNION ALL
    SELECT 'lineitem_quantity_positive',
           CAST((SELECT count(*) FROM lineitem WHERE l_quantity <= 0)
                AS BIGINT)
    UNION ALL
    SELECT 'documents_doc_id_unique',
           CAST((SELECT count(*) - count(DISTINCT doc_id) FROM documents)
                AS BIGINT)
    """,
)
def x_data_checks(spark: SparkSession, sf: str) -> DataFrame:
    """Declarative data-quality gate (Deequ / dbt-test style): referential
    integrity (anti-join counts), key uniqueness, domain-range and
    positivity constraints, reported as one violation-count row per check
    — the admission gate a lake runs before publishing a partition.

    Scale: each FK check is a LEFT ANTI join on the key (broadcast when
    the dimension fits, SMJ beyond); uniqueness is count - count
    distinct in one aggregate; range checks are map-side filters.  All
    checks share one action — a real deployment runs them per-partition
    on the maintenance schedule, next to pipeline_maintenance's pass
    (which runs the stage monitors, stage_quality_report among them).
    """
    cust = table(spark, sf, "customer")
    orders = table(spark, sf, "orders")
    li = table(spark, sf, "lineitem")
    ev = table(spark, sf, "events")
    docs = table(spark, sf, "documents")

    def _count1(df, name):
        return df.agg(F.count("*").alias("n_violations")).select(
            F.lit(name).alias("check_name"), "n_violations"
        )

    fk_orders = _count1(
        orders.join(
            cust, orders["o_custkey"] == cust["c_custkey"], "left_anti"
        ),
        "orders_custkey_fk",
    )
    fk_lineitem = _count1(
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"], "left_anti"),
        "lineitem_orderkey_fk",
    )
    uniq_cust = cust.agg(
        (F.count("*") - F.countDistinct("c_custkey")).alias("n_violations")
    ).select(F.lit("customer_custkey_unique").alias("check_name"), "n_violations")
    ts_range = _count1(
        ev.filter(
            F.col("ts").isNull()
            | (F.col("ts") < F.lit("2020-01-01 00:00:00").cast("timestamp"))
            | (F.col("ts") >= F.lit("2030-01-01 00:00:00").cast("timestamp"))
        ),
        "events_ts_known_range",
    )
    qty_pos = _count1(
        li.filter(F.col("l_quantity") <= 0), "lineitem_quantity_positive"
    )
    uniq_docs = docs.agg(
        (F.count("*") - F.countDistinct("doc_id")).alias("n_violations")
    ).select(F.lit("documents_doc_id_unique").alias("check_name"), "n_violations")

    return (
        fk_orders.unionByName(fk_lineitem)
        .unionByName(uniq_cust)
        .unionByName(ts_range)
        .unionByName(qty_pos)
        .unionByName(uniq_docs)
    )


# ---------------------------------------------------------------------------
# URL-canonicalization dedup — collapse crawl variants before text dedup
# ---------------------------------------------------------------------------


@register(
    "x_dedup_url",
    oracle=r"""
    WITH u AS (
      SELECT doc_id,
             (CASE WHEN doc_id % 5 = 0 THEN 'HTTPS://' ELSE 'https://' END)
             || (CASE WHEN doc_id % 5 = 0 THEN upper(lang) ELSE lang END)
             || '.' || source || '.example.org/item?id='
             || CAST(doc_id % 100 AS VARCHAR)
             || (CASE WHEN doc_id % 3 = 0 THEN '&utm_source=feed' ELSE '' END)
             || (CASE WHEN doc_id % 7 = 0 THEN '&utm_campaign=x' ELSE '' END)
               AS url
      FROM documents),
    c AS (
      SELECT doc_id,
             lower(regexp_replace(url, '&utm_[a-z_]+=[^&]*', '', 'g'))
               AS canonical_url
      FROM u)
    SELECT canonical_url,
           CAST(count(*) AS BIGINT) AS n_variants,
           min(doc_id) AS kept_doc
    FROM c GROUP BY canonical_url
    """,
)
def x_dedup_url(spark: SparkSession, sf: str) -> DataFrame:
    """URL-canonicalization dedup — the FIRST dedup stage of a crawl
    pipeline (cheaper than any text comparison): scheme/host case-fold
    and tracking-parameter (utm_*) stripping collapse crawl variants of
    one resource; keep the min doc per canonical URL.  URLs are
    synthesized with deliberate variant classes (case-folded host,
    utm_source/utm_campaign riders) so ~5 raw URLs collapse per
    canonical target, mirroring the x_url_parse synthesis pattern.

    Scale: canonicalization is a map-side expression; the collapse is
    ONE groupBy on the canonical string with map-side combine — at crawl
    scale this is the always-run cheap pass that shrinks the corpus
    before MinHash ever tokenizes anything.
    """
    d = table(spark, sf, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 5 == 0, F.lit("HTTPS://")).otherwise(
            F.lit("https://")
        ),
        F.when(F.col("doc_id") % 5 == 0, F.upper("lang")).otherwise(F.col("lang")),
        F.lit("."),
        F.col("source"),
        F.lit(".example.org/item?id="),
        (F.col("doc_id") % 100).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("&utm_source=feed")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 7 == 0, F.lit("&utm_campaign=x")).otherwise(
            F.lit("")
        ),
    )
    canon = F.lower(F.regexp_replace(url, r"&utm_[a-z_]+=[^&]*", ""))
    return (
        d.select("doc_id", canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_variants"),
            F.min("doc_id").alias("kept_doc"),
        )
    )


# ---------------------------------------------------------------------------
# distribution analytics — equi-width histogram (width_bucket)
# ---------------------------------------------------------------------------


@register(
    "q_histogram",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CASE WHEN value < 0.0 THEN 0
                  WHEN value >= 500.0 THEN 21
                  ELSE CAST(floor(value * 20 / 500.0) AS INT) + 1 END AS bucket
      FROM events)
    SELECT event_type, bucket,
           round(0.0 + (bucket - 1) * 25.0, 1) AS bucket_lo,
           CAST(count(*) AS BIGINT) AS n
    FROM b GROUP BY event_type, bucket
    """,
)
def q_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-width value histogram per event type (width_bucket over a
    fixed [0, 500) domain, 20 buckets) — the distribution profile every
    monitoring dashboard draws, and the binning primitive behind
    equi-width data-skipping statistics.

    Scale: width_bucket is a map-side expression; the rollup keys on
    (type, bucket) — bounded cardinality regardless of row count — with
    map-side combine.  Bucket edges are data-independent constants so
    the result is stable under any partitioning/order.
    """
    ev = table(spark, sf, "events")
    b = F.width_bucket("value", F.lit(0.0), F.lit(500.0), F.lit(20))
    return (
        ev.select("event_type", b.cast("int").alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count("*").alias("n"))
        .select(
            "event_type",
            "bucket",
            F.round(0.0 + (F.col("bucket") - 1) * 25.0, 1).alias("bucket_lo"),
            "n",
        )
    )


# ---------------------------------------------------------------------------
# nearest as-of join — bidirectional with tolerance (merge_asof nearest)
# ---------------------------------------------------------------------------


@register(
    "q_join_asof_near",
    oracle="""
    WITH u AS (
      SELECT user_id, ts, event_id, 1 AS il FROM events
      WHERE event_type = 'purchase'
      UNION ALL
      SELECT user_id, ts, event_id, 0 AS il FROM events
      WHERE event_type = 'view'),
    w AS (
      SELECT user_id, ts, event_id, il,
             last_value(CASE WHEN il = 0 THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, il, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS back_id,
             last_value(CASE WHEN il = 0 THEN epoch_us(ts) END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, il, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS back_us,
             first_value(CASE WHEN il = 0 THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, il, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS fwd_id,
             first_value(CASE WHEN il = 0 THEN epoch_us(ts) END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, il, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS fwd_us
      FROM u),
    p AS (
      SELECT user_id, event_id AS purchase_event, epoch_us(ts) AS t_us,
             back_id, back_us, fwd_id, fwd_us
      FROM w WHERE il = 1),
    n AS (
      SELECT user_id, purchase_event,
             CASE WHEN back_us IS NULL THEN fwd_id
                  WHEN fwd_us IS NULL THEN back_id
                  WHEN t_us - back_us <= fwd_us - t_us THEN back_id
                  ELSE fwd_id END AS view_event,
             CASE WHEN back_us IS NULL THEN fwd_us - t_us
                  WHEN fwd_us IS NULL THEN t_us - back_us
                  WHEN t_us - back_us <= fwd_us - t_us THEN t_us - back_us
                  ELSE fwd_us - t_us END AS dist_us
      FROM p)
    SELECT user_id, purchase_event, view_event, dist_us
    FROM n
    WHERE view_event IS NOT NULL AND dist_us <= 3600000000
    """,
)
def q_join_asof_near(spark: SparkSession, sf: str) -> DataFrame:
    """Nearest as-of join with tolerance (pandas merge_asof
    direction='nearest'): each purchase pairs with its temporally
    CLOSEST view by the same user within 1 hour, backward or forward —
    q_join_asof covers the backward-only case; this is the
    bidirectional generalization.  Backward ties win (<=), matching
    merge_asof.

    Scale: the single-window as-of trick doubled — union both sides
    with a tag, ONE user_id exchange, one (ts, tag, id) sort; the
    backward candidate is last-view-ignore-nulls over the preceding
    frame and the forward candidate first-view over the following
    frame (same sort, two frames).  Never a range cross-join; state
    per row is two candidate columns.
    """
    ev = table(spark, sf, "events")
    L = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.lit(1).alias("il")
    )
    R = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", F.lit(0).alias("il")
    )
    u = L.unionByName(R)
    base = Window.partitionBy("user_id").orderBy("ts", "il", "event_id")
    wb = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    view_id = F.when(F.col("il") == 0, F.col("event_id"))
    view_us = F.when(F.col("il") == 0, F.unix_micros("ts"))
    w = u.select(
        "user_id",
        "ts",
        "event_id",
        "il",
        F.last(view_id, ignorenulls=True).over(wb).alias("back_id"),
        F.last(view_us, ignorenulls=True).over(wb).alias("back_us"),
        F.first(view_id, ignorenulls=True).over(wf).alias("fwd_id"),
        F.first(view_us, ignorenulls=True).over(wf).alias("fwd_us"),
    )
    p = w.filter(F.col("il") == 1).select(
        "user_id",
        F.col("event_id").alias("purchase_event"),
        F.unix_micros("ts").alias("t_us"),
        "back_id",
        "back_us",
        "fwd_id",
        "fwd_us",
    )
    back_d = F.col("t_us") - F.col("back_us")
    fwd_d = F.col("fwd_us") - F.col("t_us")
    view_event = (
        F.when(F.col("back_us").isNull(), F.col("fwd_id"))
        .when(F.col("fwd_us").isNull(), F.col("back_id"))
        .when(back_d <= fwd_d, F.col("back_id"))
        .otherwise(F.col("fwd_id"))
    )
    dist = (
        F.when(F.col("back_us").isNull(), fwd_d)
        .when(F.col("fwd_us").isNull(), back_d)
        .when(back_d <= fwd_d, back_d)
        .otherwise(fwd_d)
    )
    return (
        p.select(
            "user_id",
            "purchase_event",
            view_event.alias("view_event"),
            dist.alias("dist_us"),
        )
        .filter(F.col("view_event").isNotNull() & (F.col("dist_us") <= 3_600_000_000))
    )


# ---------------------------------------------------------------------------
# round-4 — guarded scale-mode twins of the exact-candidate dedup keys.
# The oracle-exact keys (x_dedup_best / x_dedup_cluster) run candidate
# generation exhaustively; these twins run the PRODUCTION configuration —
# boilerplate (max_df) and hot-bucket (max_bucket) guards ON — with an
# oracle that expresses the identical guarded semantics, so the driver
# adjudicates the path a 100 TB deployment would actually ship.
# ---------------------------------------------------------------------------


@register(
    "x_dedup_best_guarded",
    oracle=f"""
    WITH RECURSIVE {_CORPUS3_SQL}, {_TOKS_SQL}, {_SHINGLES_SQL},
    sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id),
    rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 10),
    csh AS (SELECT s.doc_id, s.shingle
            FROM sh s JOIN rare r ON r.shingle = s.shingle),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM csh a JOIN csh b
               ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
    inter AS (SELECT c.id_a, c.id_b, count(*) AS n
              FROM cand c
              JOIN sh a ON a.doc_id = c.id_a
              JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
              GROUP BY c.id_a, c.id_b),
    pairs AS (SELECT id_a, id_b
              FROM inter
              JOIN sz za ON za.doc_id = id_a
              JOIN sz zb ON zb.doc_id = id_b
              WHERE n / (za.s + zb.s - n) >= 0.6),
    edges AS (SELECT id_a AS s, id_b AS d FROM pairs
              UNION ALL
              SELECT id_b AS s, id_a AS d FROM pairs),
    walk(node, lbl) AS (
      SELECT doc_id, doc_id FROM corpus
      UNION
      SELECT e.d, w.lbl FROM walk w JOIN edges e ON e.s = w.node
    ),
    lab AS (SELECT node AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY node),
    {_QUALITY_SQL.strip().lstrip()}
    SELECT l.doc_id, l.cluster_id,
           count(*) OVER (PARTITION BY l.cluster_id) AS cluster_size,
           q.score
    FROM lab l JOIN ql q ON q.doc_id = l.doc_id
    QUALIFY row_number() OVER (PARTITION BY l.cluster_id
                               ORDER BY q.score DESC, l.doc_id) = 1
    """,
)
def x_dedup_best_guarded(spark: SparkSession, sf: str) -> DataFrame:
    """x_dedup_best with the boilerplate guard ON (``max_df``): shingles
    appearing in more than max_df documents are excluded from CANDIDATE
    generation (bounding the inverted-index self-join's worst bucket at
    max_df² pairs instead of corpus²), while intersection counts and set
    sizes stay on the FULL shingle sets — surviving pairs score exactly.
    The oracle applies the identical df-prefilter, so the driver verifies
    the guard's semantics, not just its speed.

    max_df=10 is scaled to the ~600-doc test corpus so the guard
    genuinely filters (4 hot shingles at sf0.01); a production corpus
    uses 50+.  This is the configuration a 100 TB run ships; the
    exhaustive x_dedup_best key is the oracle-mode twin (VERDICT r3
    watch item 2).
    """
    corpus = _doc_corpus3(spark, sf)
    edges = ngram_jaccard_pairs(corpus, max_df=10).select(
        "id_a", "id_b"
    )
    return _collapse_best(corpus, edges)


@register(
    "x_dedup_cluster_guarded",
    oracle=f"""
    WITH RECURSIVE {_CORPUS3_SQL}, {_TOKS_SQL}, {_SHINGLES_SQL},
    h AS (SELECT doc_id,
                 ('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2147483647 AS hh
          FROM sh),
    perms AS (SELECT i,
                     (1103515245 * (i + 1) + 12345) % 2147483647 AS a,
                     (1103515245 * (i + 1000003) + 12345) % 2147483647 AS b
              FROM unnest(range(16)) u(i)),
    mh AS (SELECT doc_id, i, min((a * hh + b) % 2147483647) AS mn
           FROM h CROSS JOIN perms GROUP BY doc_id, i),
    bands AS (SELECT doc_id, i // 4 AS band_id,
                     md5(string_agg(CAST(mn AS VARCHAR), ',' ORDER BY i)) AS band_sig
              FROM mh GROUP BY doc_id, i // 4),
    bsz AS (SELECT band_id, band_sig FROM bands
            GROUP BY band_id, band_sig HAVING count(*) <= 3),
    kept AS (SELECT b.doc_id, b.band_id, b.band_sig
             FROM bands b JOIN bsz USING (band_id, band_sig)),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM kept a JOIN kept b USING (band_id, band_sig)
             WHERE a.doc_id < b.doc_id),
    sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id),
    inter AS (SELECT c.id_a, c.id_b, count(*) AS n
              FROM cand c
              JOIN sh a ON a.doc_id = c.id_a
              JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
              GROUP BY c.id_a, c.id_b),
    pairs AS (SELECT id_a, id_b
              FROM inter
              JOIN sz za ON za.doc_id = id_a
              JOIN sz zb ON zb.doc_id = id_b
              WHERE n / (za.s + zb.s - n) >= 0.6),
    edges AS (SELECT id_a AS s, id_b AS d FROM pairs
              UNION ALL
              SELECT id_b AS s, id_a AS d FROM pairs),
    walk(node, lbl) AS (
      SELECT doc_id, doc_id FROM corpus
      UNION
      SELECT e.d, w.lbl FROM walk w JOIN edges e ON e.s = w.node
    ),
    lab AS (SELECT node AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY node)
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           CAST(doc_id = cluster_id AS INT) AS is_canonical
    FROM lab
    """,
)
def x_dedup_cluster_guarded(spark: SparkSession, sf: str) -> DataFrame:
    """x_dedup_cluster with MinHash-LSH candidate generation and the
    hot-bucket guard ON (``max_bucket``): LSH buckets holding more than
    max_bucket documents (a viral duplicate or boilerplate template would
    emit b² candidate pairs from one key) are dropped from candidate
    generation; candidates are then verified with exact Jaccard over the
    FULL shingle sets at 0.6 and clustered by connected components.  The
    md5-based signature arithmetic is engine-portable, so the oracle
    replays signatures, banding, the bucket-size guard, verification and
    the reachability closure exactly.

    max_bucket=3 is scaled to the ~600-doc test corpus so the guard
    genuinely drops buckets (13 hot buckets at sf0.01); a production
    corpus uses 100+.  Scale: the production near-dup clustering path —
    bucketed candidates (never corpus²), guard bounds the worst bucket,
    components converge in O(diameter) rounds (VERDICT r3 watch item 2).
    """
    corpus = _doc_corpus3(spark, sf)
    edges = minhash_near_dup(corpus, threshold=0.6, max_bucket=3).select(
        "id_a", "id_b"
    )
    labels = connected_components(edges, corpus.select("doc_id"))
    w = Window.partitionBy("cluster_id")
    return labels.select(
        "doc_id",
        "cluster_id",
        F.count("*").over(w).alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).cast("int").alias("is_canonical"),
    )
