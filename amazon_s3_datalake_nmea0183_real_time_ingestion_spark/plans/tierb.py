"""Tier B — the relational surface the reference exposes via Athena SQL
(SURVEY.md §2 Tier B; Athena provisioned at cdk_datalake_mvp_stack.py:63,68).

Every query is pure DataFrame/Spark-SQL — Catalyst owns pushdown, pruning,
join strategy (broadcast for the small dims), partial aggregation, and
TakeOrderedAndProject for top-k.  The paired oracle strings are DuckDB SQL
over the driver's pre-registered views.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import register, table

# ---------------------------------------------------------------------------
# B1 scan + partition/predicate pruning
# ---------------------------------------------------------------------------


@register(
    "q_scan_prune",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1996-04-01'
      AND l_quantity > 45
    """,
)
def q_scan_prune(spark: SparkSession, sf: str) -> DataFrame:
    # Filters + 3-col projection reach the parquet scan (PushedFilters /
    # ReadSchema visible in .explain("formatted")).
    li = table(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
            & (F.col("l_quantity") > 45)
        )
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


@register(
    "q_project_filter",
    oracle="""
    SELECT o_orderkey AS okey,
           o_totalprice * 0.9 AS discounted,
           upper(o_orderstatus) AS status
    FROM orders
    WHERE o_totalprice > 1000.0 AND o_orderstatus <> 'F'
    """,
)
def q_project_filter(spark: SparkSession, sf: str) -> DataFrame:
    o = table(spark, sf, "orders")
    return (
        o.filter((F.col("o_totalprice") > 1000.0) & (F.col("o_orderstatus") != "F"))
        .select(
            F.col("o_orderkey").alias("okey"),
            (F.col("o_totalprice") * 0.9).alias("discounted"),
            F.upper("o_orderstatus").alias("status"),
        )
    )


# ---------------------------------------------------------------------------
# B3 joins
# ---------------------------------------------------------------------------


@register(
    "q_join_inner",
    oracle="""
    SELECT n.n_name AS nation,
           count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q_join_inner(spark: SparkSession, sf: str) -> DataFrame:
    # customer/nation are small → Catalyst broadcasts both; single shuffle
    # for the final aggregation only.
    o, c, n = (table(spark, sf, t) for t in ("orders", "customer", "nation"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@register(
    "q_join_left",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           count(o.o_orderkey) AS n_orders,
           round(coalesce(sum(o.o_totalprice), 0.0), 2) AS total_spent
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def q_join_left(spark: SparkSession, sf: str) -> DataFrame:
    c = table(spark, sf, "customer")
    o = table(spark, sf, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spent"),
        )
    )


@register(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 3000.0)
    """,
)
def q_join_semi(spark: SparkSession, sf: str) -> DataFrame:
    c = table(spark, sf, "customer")
    big = table(spark, sf, "orders").filter(F.col("o_totalprice") > 3000.0)
    return c.join(big, big.o_custkey == c.c_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "q_join_anti",
    oracle="""
    SELECT o_orderkey, o_orderstatus FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
    """,
)
def q_join_anti(spark: SparkSession, sf: str) -> DataFrame:
    # Orders with no line items ("devices with no heartbeat" shape).
    o = table(spark, sf, "orders")
    li = table(spark, sf, "lineitem")
    return o.join(li, li.l_orderkey == o.o_orderkey, "left_anti").select(
        "o_orderkey", "o_orderstatus"
    )


@register(
    "q_join_range",
    oracle="""
    WITH bands AS (
      SELECT r AS band_id, 900.0 + r * 10.0 AS lo, 900.0 + (r + 1) * 10.0 AS hi
      FROM (SELECT unnest(range(10)) AS r)
    )
    SELECT b.band_id, count(*) AS n_parts,
           round(avg(p.p_retailprice), 2) AS avg_price
    FROM part p
    JOIN bands b ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
    GROUP BY b.band_id
    """,
)
def q_join_range(spark: SparkSession, sf: str) -> DataFrame:
    # Theta/range join against a tiny generated band dim — broadcast it so
    # the non-equi condition is evaluated with BroadcastNestedLoopJoin
    # instead of a cartesian shuffle.
    p = table(spark, sf, "part")
    bands = spark.range(10).select(
        F.col("id").alias("band_id"),
        (900.0 + F.col("id") * 10.0).alias("lo"),
        (900.0 + (F.col("id") + 1) * 10.0).alias("hi"),
    )
    return (
        p.join(
            bands,
            (p.p_retailprice >= bands.lo) & (p.p_retailprice < bands.hi),
        )
        .groupBy("band_id")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(F.avg("p_retailprice"), 2).alias("avg_price"),
        )
    )


@register(
    "q_join_asof",
    oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id,
           max(c.event_id) FILTER (WHERE c.ts = mc.max_click_ts) AS asof_click_id
    FROM events p
    JOIN (SELECT p2.event_id, max(c2.ts) AS max_click_ts
          FROM events p2 JOIN events c2
            ON c2.user_id = p2.user_id AND c2.event_type = 'click' AND c2.ts <= p2.ts
          WHERE p2.event_type = 'purchase'
          GROUP BY p2.event_id) mc ON mc.event_id = p.event_id
    JOIN events c ON c.user_id = p.user_id AND c.event_type = 'click'
    GROUP BY p.event_id, p.user_id
    """,
)
def q_join_asof(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join: for each purchase, the latest click by the same user at
    or before the purchase time (SURVEY.md §2 B3 'latest heartbeat <= t').

    Spark-first formulation: union the two streams, single window sorted by
    (user, ts) carrying the last click forward — ONE shuffle on user_id, no
    self-join explosion.  At 100 TB this scales as a sort within user
    partitions; the naive time-range self-join would not.

    NULL-ts rows are excluded up front: the oracle's ``c2.ts <= p2.ts``
    predicate silently drops them, while a window ordering would carry a
    NULL-ts click into later purchases — the as-of relation is undefined
    without an event time on both sides.
    """
    ev = table(spark, sf, "events").filter(F.col("ts").isNotNull())
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts"), F.col("event_id"), F.lit(1).alias("is_click")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts"), F.col("event_id"), F.lit(0).alias("is_click")
    )
    merged = clicks.unionByName(purchases)
    # Ordering does ALL the tie-breaking: ts asc puts earlier events first;
    # at equal ts, is_click desc puts every click before any purchase ('<='
    # semantics); among same-ts clicks, event_id asc makes `last` carry the
    # MAX click event_id at the latest click ts — exactly the oracle's
    # max(event_id) FILTER (ts = max_click_ts), with no extra join.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_click").desc(), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lastclick = F.last(
        F.when(F.col("is_click") == 1, F.col("event_id")), ignorenulls=True
    ).over(w)
    return (
        merged.withColumn("asof_click_id", lastclick)
        .filter((F.col("is_click") == 0) & F.col("asof_click_id").isNotNull())
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            "asof_click_id",
        )
    )


# ---------------------------------------------------------------------------
# B4 aggregation
# ---------------------------------------------------------------------------


@register(
    "q_agg_basic",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_basic(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H Q1 shape: map-side partial agg + single shuffle on the 2 keys.
    li = table(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q_agg_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_suppkey) AS n_supp,
           count(DISTINCT l_partkey) AS n_part
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_distinct(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
    )


@register(
    "q_agg_approx",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           CAST(1 AS INT) AS within_tol
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_approx(spark: SparkSession, sf: str) -> DataFrame:
    # HLL sketch estimates differ per engine, so the key returns a
    # deterministic verdict instead of the raw estimate: the exact distinct
    # count plus a within-5%-relative-error flag.  approx_count_distinct's
    # default rsd is 5% so the flag is 1 with overwhelming probability and
    # the DuckDB oracle emits the constant; a Spark-side HLL regression
    # flips the flag to 0 and fails the hash.
    li = table(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey").alias("approx_parts"),
            F.countDistinct("l_partkey").alias("exact_parts"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("approx_parts") - F.col("exact_parts"))
                / F.col("exact_parts")
                <= 0.05
            )
            .cast("int")
            .alias("within_tol"),
        )
    )


@register(
    "q_agg_rollup",
    oracle="""
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           count(*) AS n_cust,
           round(sum(c.c_acctbal), 2) AS total_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def q_agg_rollup(spark: SparkSession, sf: str) -> DataFrame:
    c, n, r = (table(spark, sf, t) for t in ("customer", "nation", "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"), "c_acctbal")
        .rollup("region_name", "nation_name")
        .agg(F.count("*").alias("n_cust"), F.round(F.sum("c_acctbal"), 2).alias("total_bal"))
    )


@register(
    "q_agg_cube",
    oracle="""
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_agg_cube(spark: SparkSession, sf: str) -> DataFrame:
    o = table(spark, sf, "orders")
    return (
        o.select(F.col("o_orderstatus").alias("status"), F.col("o_orderpriority").alias("priority"), "o_totalprice")
        .cube("status", "priority")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# B5 window functions
# ---------------------------------------------------------------------------


@register(
    "q_win_rank",
    oracle="""
    SELECT user_id, event_id AS last_event_id, event_type AS last_type,
           round(value, 2) AS last_value
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t
    WHERE rn = 1
    """,
)
def q_win_rank(spark: SparkSession, sf: str) -> DataFrame:
    # "Latest heartbeat per device" — the reference's flagship analytic shape.
    ev = table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_type"),
            F.round("value", 2).alias("last_value"),
        )
    )


@register(
    "q_win_lag",
    oracle="""
    SELECT event_id, user_id,
           round(value - lag(value) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id), 2) AS delta
    FROM events
    """,
)
def q_win_lag(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    # asc_nulls_last: DuckDB ASC defaults to NULLS LAST, Spark to NULLS
    # FIRST — a NULL-ts row would otherwise shift every lag/rolling value.
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_last(), F.col("event_id").asc_nulls_last())
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.lag("value").over(w), 2).alias("delta"),
    )


@register(
    "q_win_rolling",
    oracle="""
    SELECT event_id, user_id,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS rolling_avg
    FROM events
    """,
)
def q_win_rolling(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc_nulls_last(), F.col("event_id").asc_nulls_last())
        .rowsBetween(-3, 0)
    )
    return ev.select(
        "event_id", "user_id", F.round(F.avg("value").over(w), 4).alias("rolling_avg")
    )


# ---------------------------------------------------------------------------
# B6 sort / top-k
# ---------------------------------------------------------------------------


@register(
    "q_topk",
    oracle="""
    SELECT c.c_custkey, c.c_name, round(sum(o.o_totalprice), 2) AS total
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY total DESC, c_custkey ASC
    LIMIT 10
    """,
)
def q_topk(spark: SparkSession, sf: str) -> DataFrame:
    # orderBy+limit → TakeOrderedAndProject: per-partition heap + driver
    # merge of k rows, never a global sort.
    c = table(spark, sf, "customer")
    o = table(spark, sf, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy(F.col("total").desc(), F.col("c_custkey").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# B7 set operations
# ---------------------------------------------------------------------------


@register(
    "q_union",
    oracle="""
    SELECT user_id, 'click' AS src FROM events WHERE event_type = 'click'
    UNION ALL
    SELECT user_id, 'view' AS src FROM events WHERE event_type = 'view'
    """,
)
def q_union(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", F.lit("click").alias("src"))
    views = ev.filter(F.col("event_type") == "view").select("user_id", F.lit("view").alias("src"))
    return clicks.unionByName(views)


@register(
    "q_intersect",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'error'
    """,
)
def q_intersect(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    a = ev.filter(F.col("event_type") == "purchase").select("user_id")
    b = ev.filter(F.col("event_type") == "error").select("user_id")
    return a.intersect(b)


@register(
    "q_except",
    oracle="""
    SELECT user_id, day(ts) AS dom FROM events WHERE event_type = 'view'
    EXCEPT
    SELECT user_id, day(ts) AS dom FROM events WHERE event_type = 'purchase'
    """,
)
def q_except(spark: SparkSession, sf: str) -> DataFrame:
    # user-days with views but no purchase (set semantics, not EXCEPT ALL)
    ev = table(spark, sf, "events")
    a = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.dayofmonth("ts").alias("dom")
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.dayofmonth("ts").alias("dom")
    )
    return a.subtract(b)


# ---------------------------------------------------------------------------
# B8-B11 scalar functions
# ---------------------------------------------------------------------------


@register(
    "q_fn_string",
    oracle="""
    SELECT p_partkey,
           upper(p_brand) AS brand_u,
           lower(p_type) AS type_l,
           substring(p_name, 1, 8) AS name_prefix,
           length(p_name) AS name_len,
           concat(p_brand, ':', p_type) AS brand_type,
           CASE WHEN contains(p_name, 'a') THEN 1 ELSE 0 END AS has_a,
           trim(p_name) AS name_trim,
           regexp_extract(p_type, '([A-Za-z]+)', 1) AS first_word
    FROM part
    """,
)
def q_fn_string(spark: SparkSession, sf: str) -> DataFrame:
    p = table(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.lower("p_type").alias("type_l"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.when(F.col("p_name").contains("a"), 1).otherwise(0).alias("has_a"),
        F.trim(F.col("p_name")).alias("name_trim"),
        F.regexp_extract("p_type", r"([A-Za-z]+)", 1).alias("first_word"),
    )


@register(
    "q_fn_datetime",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate) AS yr,
           month(o_orderdate) AS mon,
           day(o_orderdate) AS dom,
           strftime(o_orderdate, '%Y-%m-%d') AS ymd,
           CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
    FROM orders
    """,
)
def q_fn_datetime(spark: SparkSession, sf: str) -> DataFrame:
    o = table(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mon"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("ymd"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
    )


@register(
    "q_fn_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(abs(l_extendedprice - 1000.0), 2) AS abs_diff,
           round(sqrt(l_quantity), 4) AS sqrt_qty,
           round(ln(l_extendedprice), 4) AS ln_price,
           round(power(l_discount, 2), 6) AS disc_sq,
           CAST(floor(l_extendedprice / 100.0) AS BIGINT) AS price_bucket
    FROM lineitem
    """,
)
def q_fn_math(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_extendedprice") - 1000.0), 2).alias("abs_diff"),
        F.round(F.sqrt("l_quantity"), 4).alias("sqrt_qty"),
        F.round(F.log("l_extendedprice"), 4).alias("ln_price"),
        F.round(F.pow("l_discount", 2), 6).alias("disc_sq"),
        F.floor(F.col("l_extendedprice") / 100.0).cast("bigint").alias("price_bucket"),
    )


@register(
    "q_fn_haversine",
    oracle="""
    WITH pts AS (
      SELECT c_custkey,
             (c_custkey % 180) - 90 + 0.5 AS lat1,
             (c_custkey % 360) - 180 + 0.5 AS lon1,
             ((c_custkey * 7) % 180) - 90 + 0.5 AS lat2,
             ((c_custkey * 7) % 360) - 180 + 0.5 AS lon2
      FROM customer)
    SELECT c_custkey,
           round(2 * 6371.0 * asin(sqrt(
             pow(sin(radians(lat2 - lat1) / 2), 2) +
             cos(radians(lat1)) * cos(radians(lat2)) *
             pow(sin(radians(lon2 - lon1) / 2), 2)
           )), 2) AS dist_km
    FROM pts
    """,
)
def q_fn_haversine(spark: SparkSession, sf: str) -> DataFrame:
    # Great-circle distance as pure column math (SURVEY.md §2 B10) — the
    # "reported speed vs actual displacement" check on position telemetry.
    c = table(spark, sf, "customer")
    k = F.col("c_custkey")
    lat1 = (k % 180) - 90 + 0.5
    lon1 = (k % 360) - 180 + 0.5
    lat2 = ((k * 7) % 180) - 90 + 0.5
    lon2 = ((k * 7) % 360) - 180 + 0.5
    dlat = F.radians(lat2 - lat1) / 2
    dlon = F.radians(lon2 - lon1) / 2
    h = F.pow(F.sin(dlat), 2) + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.pow(F.sin(dlon), 2)
    return c.select(
        "c_custkey",
        F.round(2 * 6371.0 * F.asin(F.sqrt(h)), 2).alias("dist_km"),
    )


@register(
    "q_fn_array",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           string_split(text, ' ')[1] AS first_token,
           CASE WHEN list_contains(string_split(text, ' '), 'spark')
                THEN 1 ELSE 0 END AS has_spark
    FROM documents
    """,
)
def q_fn_array(spark: SparkSession, sf: str) -> DataFrame:
    d = table(spark, sf, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        toks.getItem(0).alias("first_token"),
        F.when(F.array_contains(toks, "spark"), 1).otherwise(0).alias("has_spark"),
    )


@register(
    "q_fn_json",
    oracle="""
    SELECT event_id, CAST(props->>'k' AS BIGINT) AS k_val
    FROM events
    """,
)
def q_fn_json(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_val"),
    )


# ---------------------------------------------------------------------------
# B12 subqueries
# ---------------------------------------------------------------------------


@register(
    "q_subquery",
    oracle="""
    SELECT c_custkey, round(c_acctbal, 2) AS bal
    FROM customer c
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
      AND c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
      AND EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 500.0)
    """,
)
def q_subquery(spark: SparkSession, sf: str) -> DataFrame:
    # Scalar + IN + correlated EXISTS subqueries through spark.sql —
    # exercises Catalyst's subquery decorrelation (SURVEY.md §4).
    table(spark, sf, "customer").createOrReplaceTempView("v_customer")
    table(spark, sf, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT c_custkey, round(c_acctbal, 2) AS bal
        FROM v_customer c
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM v_customer)
          AND c_custkey IN (SELECT o_custkey FROM v_orders WHERE o_orderstatus = 'O')
          AND EXISTS (SELECT 1 FROM v_orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 500.0)
        """
    )


# ---------------------------------------------------------------------------
# B4 (cont.) grouping sets / B5 ntile / B8 conditional scalar functions
# ---------------------------------------------------------------------------


@register(
    "q_agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
)
def q_agg_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    # Arbitrary grouping-set lattice (B4) — one shuffle; Spark expands the
    # sets before the partial aggregate exactly like ROLLUP/CUBE.
    o = table(spark, sf, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "q_win_ntile",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           CAST(ntile(4) OVER (PARTITION BY c_mktsegment
                               ORDER BY c_acctbal DESC, c_custkey ASC) AS INT) AS quartile,
           round(percent_rank() OVER (PARTITION BY c_mktsegment
                                      ORDER BY c_acctbal DESC, c_custkey ASC), 6) AS pct_rank
    FROM customer
    """,
)
def q_win_ntile(spark: SparkSession, sf: str) -> DataFrame:
    # Distribution window functions (B5): ntile bucketing + percent_rank,
    # deterministic tie-break on the key.
    c = table(spark, sf, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


@register(
    "q_fn_conditional",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 5000.0 THEN 'high'
                WHEN o_totalprice > 1000.0 THEN 'mid'
                ELSE 'low' END AS price_band,
           coalesce(nullif(o_orderstatus, 'F'), 'final') AS status_or_final,
           round(least(o_totalprice, 9999.0), 2) AS capped,
           round(greatest(o_totalprice, 100.0), 2) AS floored
    FROM orders
    """,
)
def q_fn_conditional(spark: SparkSession, sf: str) -> DataFrame:
    # Conditional scalar surface (B8): CASE/WHEN bands, nullif+coalesce,
    # least/greatest clamping — all codegen'd, no shuffle.
    o = table(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 5000.0, F.lit("high"))
        .when(F.col("o_totalprice") > 1000.0, F.lit("mid"))
        .otherwise(F.lit("low"))
        .alias("price_band"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("F")), F.lit("final"))
        .alias("status_or_final"),
        F.round(F.least(F.col("o_totalprice"), F.lit(9999.0)), 2).alias("capped"),
        F.round(F.greatest(F.col("o_totalprice"), F.lit(100.0)), 2).alias("floored"),
    )


@register(
    "q_pivot",
    oracle="""
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_final,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending,
           round(coalesce(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 0.0), 2) AS open_total
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_pivot(spark: SparkSession, sf: str) -> DataFrame:
    # Pivot as conditional aggregation (B4): one shuffle, columns fixed at
    # plan time — the scale-safe pivot (df.pivot with inferred values
    # would need an extra distinct pass over 100 TB).
    o = table(spark, sf, "orders")
    def _n(status: str):
        return F.count(F.when(F.col("o_orderstatus") == status, 1))
    return o.groupBy("o_orderpriority").agg(
        _n("O").alias("n_open"),
        _n("F").alias("n_final"),
        _n("P").alias("n_pending"),
        F.round(
            F.coalesce(
                F.sum(F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice"))),
                F.lit(0.0),
            ),
            2,
        ).alias("open_total"),
    )


@register(
    "q_win_range",
    oracle="""
    SELECT event_id, user_id,
           round(sum(value) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 4) AS rolling_1h_sum
    FROM events
    """,
)
def q_win_range(spark: SparkSession, sf: str) -> DataFrame:
    # RANGE frame over event-time MICROseconds (B5): value-based window —
    # rows within the last hour, however many there are (vs rowsBetween's
    # fixed count in q_win_rolling). Micros, not unix_timestamp seconds:
    # second-truncation moves sub-second events across the frame boundary
    # (caught by the sf0.1 oracle run).
    ev = table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 4).alias("rolling_1h_sum"),
    )


@register(
    "q_fn_sql_udfs",
    oracle="""
    WITH s AS (
      SELECT event_id,
             CAST(event_id % 90 AS VARCHAR) || '.50' AS lat_s,
             CASE WHEN event_id % 2 = 0 THEN 'N' ELSE 'S' END AS ns,
             CAST(event_id % 180 AS VARCHAR) || '.25' AS lon_s,
             CASE WHEN event_id % 3 = 0 THEN 'E' ELSE 'W' END AS ew
      FROM events)
    SELECT event_id,
           round(CASE WHEN ns = 'S' THEN -1 ELSE 1 END * CAST(lat_s AS DOUBLE), 6) AS lat,
           round(CASE WHEN ew = 'W' THEN -1 ELSE 1 END * CAST(lon_s AS DOUBLE), 6) AS lon,
           round(6371.0 * 2 * asin(sqrt(
             pow(sin(radians(0.0 - (CASE WHEN ns = 'S' THEN -1 ELSE 1 END * CAST(lat_s AS DOUBLE))) / 2), 2) +
             cos(radians(CASE WHEN ns = 'S' THEN -1 ELSE 1 END * CAST(lat_s AS DOUBLE))) * cos(radians(0.0)) *
             pow(sin(radians(0.0 - (CASE WHEN ew = 'W' THEN -1 ELSE 1 END * CAST(lon_s AS DOUBLE))) / 2), 2))), 2)
             AS km_to_origin
    FROM s
    """,
)
def q_fn_sql_udfs(spark: SparkSession, sf: str) -> DataFrame:
    """The catalog SQL-UDF surface under the driver gate: build real NMEA
    sentences, parse them with the registered nmea_signed_lat/lon SQL
    functions, and compute haversine_km — pure spark.sql text, the UDFs
    inline as expressions (functions/sql_udfs.py)."""
    from ..functions.sql_udfs import register_sql_functions

    register_sql_functions(spark)
    ev = table(spark, sf, "events")
    ev.select(
        "event_id",
        F.concat(
            F.lit("$PIMD8,a,b,c,d,"),
            (F.col("event_id") % 90).cast("string"), F.lit(".50,"),
            F.when(F.col("event_id") % 2 == 0, "N").otherwise("S"), F.lit(","),
            (F.col("event_id") % 180).cast("string"), F.lit(".25,"),
            F.when(F.col("event_id") % 3 == 0, "E").otherwise("W"),
            F.lit(",x,end"),
        ).alias("sentence"),
    ).createOrReplaceTempView("v_sentences")
    return spark.sql(
        """
        SELECT event_id,
               round(nmea_signed_lat(sentence), 6) AS lat,
               round(nmea_signed_lon(sentence), 6) AS lon,
               round(haversine_km(nmea_signed_lat(sentence),
                                  nmea_signed_lon(sentence), 0.0, 0.0), 2)
                 AS km_to_origin
        FROM v_sentences
        """
    )


# ---------------------------------------------------------------------------
# B11+ — table-generating ops (explode / unpivot) and late additions
# ---------------------------------------------------------------------------


@register(
    "q_explode",
    oracle="""
    WITH s AS (SELECT p_partkey, string_split(p_type, ' ') AS t FROM part)
    SELECT p_partkey,
           CAST(unnest(range(len(t))) AS INT) AS pos,
           unnest(t) AS tok
    FROM s
    """,
)
def q_explode(spark: SparkSession, sf: str) -> DataFrame:
    # Lateral view / UNNEST (B11): posexplode of a split array — the
    # row-generating op behind tokenization pipelines.  Generates rows
    # executor-side with no shuffle; DuckDB's zipped unnest is the oracle.
    p = table(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.posexplode(F.split("p_type", " ")).alias("pos", "tok"),
    )


@register(
    "q_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
    """,
)
def q_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    # UNPIVOT / melt (B7 adjacent): wide→long reshape, the inverse of
    # q_pivot.  Spark expands in-place (Expand node, no shuffle); the
    # portable oracle is the classic UNION ALL encoding.
    li = table(spark, sf, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "val",
    )


@register(
    "q_win_firstlast",
    oracle="""
    SELECT event_id,
           first_value(event_type) OVER w AS first_et,
           last_value(event_type) OVER w AS last_et,
           nth_value(event_type, 2) OVER w AS second_et
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_win_firstlast(spark: SparkSession, sf: str) -> DataFrame:
    # first_value / last_value / nth_value over an explicit full-partition
    # frame (B5) — tie-broken on event_id so both engines agree.
    ev = table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "event_id",
        F.first_value("event_type").over(w).alias("first_et"),
        F.last_value("event_type").over(w).alias("last_et"),
        F.nth_value("event_type", 2).over(w).alias("second_et"),
    )


@register(
    "q_agg_stats",
    oracle="""
    SELECT event_type,
           round(stddev_samp(value), 4) AS sd,
           round(var_samp(value), 4) AS vr,
           round(corr(value, CAST(user_id AS DOUBLE)), 6) AS cor,
           round(covar_samp(value, CAST(user_id AS DOUBLE)), 4) AS cov
    FROM events
    GROUP BY event_type
    """,
)
def q_agg_stats(spark: SparkSession, sf: str) -> DataFrame:
    # Statistical aggregates (B4): sample stddev/variance and the two-column
    # corr/covar moments — single-pass partial+final aggregation in Spark.
    ev = table(spark, sf, "events")
    uid = F.col("user_id").cast("double")
    return ev.groupBy("event_type").agg(
        F.round(F.stddev_samp("value"), 4).alias("sd"),
        F.round(F.var_samp("value"), 4).alias("vr"),
        F.round(F.corr(F.col("value"), uid), 6).alias("cor"),
        F.round(F.covar_samp(F.col("value"), uid), 4).alias("cov"),
    )


@register(
    "q_agg_percentile",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.9), 4) AS p90,
           round(quantile_cont(value, 0.99), 4) AS p99
    FROM events
    GROUP BY event_type
    """,
)
def q_agg_percentile(spark: SparkSession, sf: str) -> DataFrame:
    # Exact interpolated percentiles (B4): Spark's percentile() and DuckDB's
    # quantile_cont() share the linear-interpolation definition.  Exact
    # percentile is a full-sort-per-group op; the 100 TB path is
    # approx_percentile (t-digest sketch, mergeable map-side) — exact kept
    # here because the oracle must be deterministic.
    ev = table(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("value", F.lit(0.99)), 4).alias("p99"),
    )


@register(
    "q_lateral",
    oracle="""
    SELECT r.r_name, t.n_name, t.n_nationkey
    FROM region r,
    LATERAL (SELECT n_name, n_nationkey FROM nation
             WHERE n_regionkey = r.r_regionkey
             ORDER BY n_nationkey DESC LIMIT 2) t
    """,
)
def q_lateral(spark: SparkSession, sf: str) -> DataFrame:
    # LATERAL correlated subquery join (B12, Spark 3.2+): per-outer-row
    # ORDER BY ... LIMIT — the SQL form of a grouped top-k.  Catalyst
    # decorrelates it into a join + per-key window rather than re-running
    # the inner query per row.
    table(spark, sf, "region").createOrReplaceTempView("v_region")
    table(spark, sf, "nation").createOrReplaceTempView("v_nation")
    return spark.sql(
        """
        SELECT r.r_name, t.n_name, t.n_nationkey
        FROM v_region r,
        LATERAL (SELECT n_name, n_nationkey FROM v_nation
                 WHERE n_regionkey = r.r_regionkey
                 ORDER BY n_nationkey DESC LIMIT 2) t
        """
    )


@register(
    "q_recursive_cte",
    oracle="""
    WITH RECURSIVE d(dt) AS (
      SELECT CAST(min(o_orderdate) AS DATE) FROM orders
      UNION ALL
      SELECT dt + INTERVAL 1 DAY FROM d
      WHERE dt < (SELECT CAST(min(o_orderdate) AS DATE) + INTERVAL 60 DAY
                  FROM orders)
    )
    SELECT CAST(d.dt AS DATE) AS dt, count(o.o_orderkey) AS n_orders
    FROM d LEFT JOIN orders o ON CAST(o.o_orderdate AS DATE) = d.dt
    GROUP BY d.dt
    """,
)
def q_recursive_cte(spark: SparkSession, sf: str) -> DataFrame:
    # Recursive CTE (Spark 4.x, SPARK-24497): generate a 61-day calendar
    # spine from the data's own min date, then left-join order counts —
    # the gap-filling shape reporting pipelines need.
    #
    # r14 optimization (guide §1.2 "the distributed algorithm"): Spark
    # executes each recursive step as its own job (UnionLoop), so the
    # original +1-day formulation paid 61 sequential iterations — and its
    # loop condition embedded a scalar subquery over v_orders, re-scanning
    # orders EVERY iteration (61 extra scan+min jobs; plan showed
    # Aggregate-over-LogicalRelation inside the UnionLoopRef branch).
    # This heap-numbered form generates the same 0..60 index set as a
    # binary tree — row j emits 2j+1 and 2j+2 — reaching every index in
    # ceil(log2(62)) = 6 iterations with no orders scan in the loop; the
    # min-date anchor is joined on AFTER the recursion.  Measured 8.8 s →
    # 1.7 s at sf0.1 (oracle-identical rows; the DuckDB oracle keeps the
    # sequential +1-day replay as the independent derivation).  Depth is
    # within Spark's default recursion-level limit (100) either way.
    table(spark, sf, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        WITH RECURSIVE idx(j) AS (
          SELECT 0
          UNION ALL
          SELECT 2 * j + c
          FROM idx CROSS JOIN (SELECT explode(array(1, 2)) AS c)
          WHERE 2 * j + c <= 60
        ),
        d AS (
          SELECT date_add(m.mn, idx.j) AS dt
          FROM idx CROSS JOIN (SELECT CAST(min(o_orderdate) AS DATE) AS mn
                               FROM v_orders) m
        )
        SELECT d.dt AS dt, count(o.o_orderkey) AS n_orders
        FROM d LEFT JOIN v_orders o ON CAST(o.o_orderdate AS DATE) = d.dt
        GROUP BY d.dt
        """
    )


@register(
    "q_join_full",
    oracle="""
    SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
           c.c_acctbal, o.n_orders
    FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 2 = 0) c
    FULL OUTER JOIN (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
                     FROM orders WHERE o_custkey % 3 = 0
                     GROUP BY o_custkey) o
      ON o.o_custkey = c.c_custkey
    """,
)
def q_join_full(spark: SparkSession, sf: str) -> DataFrame:
    # FULL OUTER equi-join (B3) with rows null-extended on BOTH sides
    # (mod-filtered inputs overlap only partially).  Full outer can't
    # broadcast — Spark plans a shuffle join on the key, the right call at
    # any scale.  RIGHT joins are the mirrored LEFT; covered by q_join_left.
    c = (
        table(spark, sf, "customer")
        .filter(F.col("c_custkey") % 2 == 0)
        .select("c_custkey", "c_acctbal")
    )
    o = (
        table(spark, sf, "orders")
        .filter(F.col("o_custkey") % 3 == 0)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
    )
    return c.join(o, c["c_custkey"] == o["o_custkey"], "full_outer").select(
        F.coalesce(c["c_custkey"], o["o_custkey"]).alias("custkey"),
        "c_acctbal",
        "n_orders",
    )


@register(
    "q_agg_modern",
    oracle="""
    SELECT user_id,
           CAST(count_if(value > 50) AS BIGINT) AS n_high,
           CAST(bool_and(value >= 0) AS INT) AS all_nonneg,
           CAST(bool_or(event_type = 'purchase') AS INT) AS any_purchase,
           count(*) FILTER (WHERE event_type = 'click') AS n_clicks,
           max_by(event_type, event_id) AS last_event_type,
           min_by(event_type, event_id) AS first_event_type
    FROM events
    GROUP BY user_id
    """,
)
def q_agg_modern(spark: SparkSession, sf: str) -> DataFrame:
    # Modern aggregate surface (B4): count_if / bool_and / bool_or /
    # FILTER-clause conditional count / max_by-min_by argmax-argmin.
    # max_by keyed on the UNIQUE event_id — an argmax over a non-unique
    # ordering value is nondeterministic in any engine.
    # Portability (registry docstring rules, violated in r1 → hash fail):
    # DuckDB count_if widens to HUGEINT (pandas → float64) so the oracle
    # CASTs it to BIGINT, and booleans cross engines unnormalized so both
    # sides cast bool_and/bool_or to INT.
    ev = table(spark, sf, "events")
    return ev.groupBy("user_id").agg(
        F.count_if(F.col("value") > 50).alias("n_high"),
        F.bool_and(F.col("value") >= 0).cast("int").alias("all_nonneg"),
        F.bool_or(F.col("event_type") == "purchase").cast("int").alias("any_purchase"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("n_clicks"),
        F.max_by("event_type", "event_id").alias("last_event_type"),
        F.min_by("event_type", "event_id").alias("first_event_type"),
    )


@register(
    "q_trajectory",
    oracle="""
    WITH p AS (
      SELECT user_id, ts, event_id,
             (event_id % 180) - 90 + 0.5 AS lat,
             ((event_id * 7) % 360) - 180 + 0.5 AS lon
      FROM events),
    h AS (
      SELECT user_id, lat, lon,
             lag(lat) OVER w AS plat, lag(lon) OVER w AS plon
      FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    d AS (
      SELECT user_id,
             round(2 * 6371.0 * asin(sqrt(
               pow(sin(radians(lat - plat) / 2), 2) +
               cos(radians(plat)) * cos(radians(lat)) *
               pow(sin(radians(lon - plon) / 2), 2))), 4) AS hop
      FROM h WHERE plat IS NOT NULL)
    SELECT user_id,
           CAST(round(sum(CAST(hop AS DECIMAL(20,4))), 2) AS DOUBLE) AS total_km,
           CAST(count(*) AS BIGINT) AS n_hops
    FROM d GROUP BY user_id
    """,
)
def q_trajectory(spark: SparkSession, sf: str) -> DataFrame:
    # The reference-domain flagship analytic: per-device distance traveled —
    # deterministic synthetic positions, lag window for consecutive hops,
    # haversine per hop (rounded before summing so both engines aggregate
    # the identical doubles), one window + one agg shuffle on user_id.
    ev = table(spark, sf, "events")
    k = F.col("event_id")
    p = ev.select(
        "user_id",
        "ts",
        "event_id",
        ((k % 180) - 90 + 0.5).alias("lat"),
        (((k * 7) % 360) - 180 + 0.5).alias("lon"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    h = p.select(
        "user_id",
        "lat",
        "lon",
        F.lag("lat").over(w).alias("plat"),
        F.lag("lon").over(w).alias("plon"),
    ).filter(F.col("plat").isNotNull())
    hav = (
        F.pow(F.sin(F.radians(F.col("lat") - F.col("plat")) / 2), 2)
        + F.cos(F.radians("plat"))
        * F.cos(F.radians("lat"))
        * F.pow(F.sin(F.radians(F.col("lon") - F.col("plon")) / 2), 2)
    )
    hops = h.select(
        "user_id",
        F.round(2 * 6371.0 * F.asin(F.sqrt(hav)), 4).alias("hop"),
    )
    # Sum in DECIMAL, not double: a float sum over thousands of hops is
    # accumulation-order-dependent and the engines land on opposite sides
    # of the 2-dp rounding boundary at sf0.1 (713282.105 vs .11 — caught by
    # the sf0.1 gate).  hop is exactly 4-dp after round(), so the
    # decimal(20,4) cast is lossless and the sum is order-independent.
    return hops.groupBy("user_id").agg(
        F.round(F.sum(F.col("hop").cast("decimal(20,4)")), 2)
        .cast("double")
        .alias("total_km"),
        F.count("*").alias("n_hops"),
    )


@register(
    "q_fn_bitwise",
    oracle="""
    SELECT event_id,
           event_id << 3 AS shl,
           event_id >> 2 AS shr,
           CAST(bit_count(event_id) AS INT) AS popcount,
           xor(event_id, 255) AS xored,
           event_id & 15 AS low_nibble,
           event_id | 4096 AS with_flag
    FROM events
    """,
)
def q_fn_bitwise(spark: SparkSession, sf: str) -> DataFrame:
    # Bitwise scalar surface (B10) — the primitive family behind SimHash
    # banding and the LSH signatures, exposed as a plain query key.
    ev = table(spark, sf, "events")
    k = F.col("event_id")
    return ev.select(
        "event_id",
        F.shiftleft(k, 3).alias("shl"),
        F.shiftright(k, 2).alias("shr"),
        F.bit_count(k).alias("popcount"),
        k.bitwiseXOR(F.lit(255)).alias("xored"),
        k.bitwiseAND(F.lit(15)).alias("low_nibble"),
        k.bitwiseOR(F.lit(4096)).alias("with_flag"),
    )
