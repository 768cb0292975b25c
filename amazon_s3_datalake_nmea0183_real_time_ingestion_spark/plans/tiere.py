"""Tier E — round-4 analytics extensions: graph triangle counting
(degree-ordered), robust outlier detection (median/MAD), OHLC time-series
downsampling, weighted priority sampling (Efraimidis–Spirakis), Bloom-filter
decontamination, SemDeDup-style semantic dedup over learned centroids, and
edit-distance verification on LSH candidates.

Every key follows the registry's cross-engine hash rules (registry.py
docstring).  Techniques are from the public literature: degree-ordered
triangle enumeration (Suri & Vassilvitskii, WWW'11 "the curse of the last
reducer"), A-ES weighted sampling (Efraimidis & Spirakis, IPL'06), Bloom
filters (Bloom, CACM'70), SemDeDup (Abbas et al., 2023).

Scale notes (100 TB design point) are on each key's docstring — the common
theme: candidate generation is always bucketed/oriented (never all-pairs),
dimension-sized sides broadcast, global top-k via TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import MERSENNE_P, md5_u32, minhash_permuted
from ..operators.dedup import (
    lsh_bands,
    lsh_candidate_pairs,
    minhash_signatures,
    shingle_set,
)
from ..operators.stats import smoothed_psi
from ..storage import stored
from .registry import register, table
from .tierc import _CORPUS_SQL, _doc_corpus, _emb_corpus
from .tierd import _basket_screen_sql

# ---------------------------------------------------------------------------
# graph — triangle counting (degree-ordered orientation)
# ---------------------------------------------------------------------------


def _triangle_oracle(max_basket: int | None = None) -> str:
    """Degree-ordered triangle-count oracle, generated from the same
    basket screen as the engine path so guard and oracle cannot drift."""
    return f"""
    WITH {_basket_screen_sql(max_basket)},
    und AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
              SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
            GROUP BY node),
    ori AS (SELECT CASE WHEN (du.d, und.u) < (dv.d, und.v) THEN und.u ELSE und.v END AS src,
                   CASE WHEN (du.d, und.u) < (dv.d, und.v) THEN und.v ELSE und.u END AS dst,
                   CASE WHEN (du.d, und.u) < (dv.d, und.v) THEN dv.d ELSE du.d END AS dd
            FROM und
            JOIN deg du ON du.node = und.u
            JOIN deg dv ON dv.node = und.v),
    tri AS (SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
            FROM ori e1
            JOIN ori e2 ON e2.src = e1.src
                       AND (e1.dd, e1.dst) < (e2.dd, e2.dst)
            JOIN ori e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
    pernode AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
                  SELECT x AS node FROM tri
                  UNION ALL SELECT y FROM tri
                  UNION ALL SELECT z FROM tri)
                GROUP BY node)
    SELECT CAST(node AS BIGINT) AS part_id, n_triangles
    FROM pernode
    ORDER BY n_triangles DESC, part_id ASC
    LIMIT 50
    """


@register("q_triangle_count", oracle=_triangle_oracle())
def q_triangle_count(spark: SparkSession, sf: str) -> DataFrame:
    """Per-node triangle counts over the part co-purchase graph, top-50 —
    the local-clustering signal (community density / spam-farm detection)
    curation pipelines compute next to PageRank's global importance.

    Degree-ordered enumeration (Suri & Vassilvitskii WWW'11): each
    undirected edge is oriented from its lower-(degree, id) endpoint, so
    wedges are generated only at each triangle's minimum vertex — total
    wedge work drops from Σ deg² (hub-quadratic) to O(m^1.5), killing
    "the curse of the last reducer" that a raw u<v orientation hits on
    hub nodes.  Scale: the wedge self-join keys on src and the closing
    probe on (y, z) — both plain keyed shuffles; pair generation is
    bounded by order width (same derivation as x_pagerank); no driver
    loop, no cartesian.
    """
    from ..operators.graph import copurchase_pairs

    li = table(spark, sf, "lineitem")
    return triangle_top50(copurchase_pairs(li))


def triangle_top50(und: DataFrame) -> DataFrame:
    """Degree-ordered triangle enumeration body over an undirected (u, v)
    edge list (algorithm notes on q_triangle_count) — shared by the
    exhaustive key and the max_basket-guarded production twin (tierh)."""
    # reuse the undirected edge list across degree/orientation/wedge/probe
    # branches instead of replanning the order self-join four times
    # (fault-tolerance trade and the durable mode: storage.py, README
    # "Storage policy").
    und = stored(und)
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    j = und.join(du, "u").join(dv, "v")
    u_first = F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v"))
    ori = stored(j.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dd"),
    ))
    # both the wedge self-join and the closing probe stream a wedge-sized
    # side (O(m^1.5) rows) against an edge-sized side (O(m) rows), which
    # grows with the graph.  The shuffled-hash hints on the edge side stay
    # on a measurement: without them the planner broadcasts the edges and
    # q_triangle_count took 19.93 s vs 13.91 s (medians of 2 alternating
    # pairs, sf0.1, 4 cores; r14: 6.2 s with sort-merge, 2.8 s with them)
    e1, e2 = ori.alias("e1"), ori.alias("e2").hint("shuffle_hash")
    wedges = e1.join(
        e2,
        (F.col("e1.src") == F.col("e2.src"))
        & (
            F.struct(F.col("e1.dd"), F.col("e1.dst"))
            < F.struct(F.col("e2.dd"), F.col("e2.dst"))
        ),
    ).select(
        F.col("e1.src").alias("x"), F.col("e1.dst").alias("y"), F.col("e2.dst").alias("z")
    )
    # edge-sized, shuffled-hash on the triangle A/B above
    e3 = ori.select(F.col("src").alias("y"), F.col("dst").alias("z")).hint(
        "shuffle_hash"
    )
    tri = wedges.join(e3, ["y", "z"])
    pernode = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    return (
        pernode.select(F.col("node").cast("long").alias("part_id"), "n_triangles")
        .orderBy(F.col("n_triangles").desc(), F.col("part_id").asc())
        .limit(50)
    )


# ---------------------------------------------------------------------------
# robust outlier detection — median / MAD
# ---------------------------------------------------------------------------


@register(
    "x_outlier_mad",
    oracle="""
    WITH med AS (SELECT event_type, median(value) AS med
                 FROM events GROUP BY event_type),
    dev AS (SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
            FROM events e JOIN med m ON m.event_type = e.event_type),
    mad AS (SELECT event_type, median(adev) AS mad FROM dev GROUP BY event_type)
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN d.adev > 3 * 1.4826 * a.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(sum(CASE WHEN d.adev > 3 * 1.4826 * a.mad THEN 1 ELSE 0 END) / count(*), 4) AS outlier_rate,
           round(max(d.med), 4) AS med,
           round(max(a.mad), 4) AS mad
    FROM dev d JOIN mad a ON a.event_type = d.event_type
    GROUP BY d.event_type
    """,
)
def x_outlier_mad(spark: SparkSession, sf: str) -> DataFrame:
    """Robust per-group outlier detection: |value − median| > 3·1.4826·MAD
    (the normal-consistency-scaled median-absolute-deviation rule) — the
    telemetry anomaly screen that, unlike z-scores, is not itself dragged
    by the outliers it is hunting.

    Scale: two event_type-keyed aggregations (median, then MAD over the
    residuals) with the group-level stats BROADCAST back — the fact table
    shuffles on event_type at most twice and never sorts globally.  Exact
    ``median`` holds per-group values in executor memory (fine for
    low-cardinality group keys); at 100 TB with high-cardinality groups
    the drop-in is ``approx_percentile(value, 0.5)`` — the mergeable
    KLL/GK sketch path q_agg_approx_quantile already demonstrates — the
    flag rule is unchanged.  The fit (mad_stats) / score (flag_outliers)
    split also scores a stream: ``flag_outliers`` on a streaming frame
    is a stream-static join.
    """
    from ..operators.outliers import flag_outliers, mad_stats

    ev = table(spark, sf, "events").select("event_type", "value")
    stats = mad_stats(ev)
    # keep_stats rides med/mad through the scoring join — re-joining stats
    # after the rollup would evaluate the two-median aggregation twice
    flagged = flag_outliers(ev, stats, keep_stats=True)
    hit = F.col("is_outlier").cast("long")
    return flagged.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(hit).alias("n_outliers"),
        F.round(F.sum(hit) / F.count("*"), 4).alias("outlier_rate"),
        F.round(F.max("med"), 4).alias("med"),
        F.round(F.max("mad"), 4).alias("mad"),
    )


# ---------------------------------------------------------------------------
# time-series downsampling — OHLC bars
# ---------------------------------------------------------------------------


@register(
    "q_ts_downsample",
    oracle="""
    WITH w AS (
      SELECT event_type, CAST(ts AS DATE) AS day, value,
             row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                ORDER BY ts ASC, event_id ASC) AS rn,
             count(*) OVER (PARTITION BY event_type, CAST(ts AS DATE)) AS cnt
      FROM events)
    SELECT event_type, day,
           max(CASE WHEN rn = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn = cnt THEN value END) AS close,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS vol
    FROM w GROUP BY event_type, day
    """,
)
def q_ts_downsample(spark: SparkSession, sf: str) -> DataFrame:
    """OHLC downsampling: per (event_type, day) bars with open (first by
    event time), high, low, close (last by event time), count and volume
    — the classic telemetry/market compaction that turns a raw stream
    into a fixed-rate series for dashboards and model features.

    Scale: ONE shuffle on the bar key; ``row_number`` (ordered by
    ts, event_id — a total order, so first/last are well-defined under
    ties) and the partition count ride the same sort, and the final
    groupBy is partition-local (the window already co-located the key).
    Day granularity is a column expression — hour/minute bars are the
    same plan with a different truncation.
    """
    ev = table(spark, sf, "events")
    day = F.col("ts").cast("date")
    wo = Window.partitionBy("event_type", "day").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    wu = Window.partitionBy("event_type", "day")
    base = (
        ev.select("event_type", day.alias("day"), "value", "ts", "event_id")
        .withColumn("rn", F.row_number().over(wo))
        .withColumn("cnt", F.count("*").over(wu))
    )
    return base.groupBy("event_type", "day").agg(
        F.max(F.when(F.col("rn") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn") == F.col("cnt"), F.col("value"))).alias("close"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("vol"),
    )


# ---------------------------------------------------------------------------
# weighted priority sampling — Efraimidis–Spirakis A-ES
# ---------------------------------------------------------------------------


@register(
    "x_sample_weighted",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             round(ln((('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)
                      / 4294967296.0)
                   / (n_chars + 1), 8) AS priority
      FROM documents)
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars, priority,
           CAST(row_number() OVER (ORDER BY priority DESC, doc_id ASC) AS INT) AS rank
    FROM keyed
    ORDER BY priority DESC, doc_id ASC
    LIMIT 100
    """,
)
def x_sample_weighted(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    each doc draws a deterministic uniform u from a salted md5 hash and
    is ranked on key = ln(u)/w with weight w = n_chars+1; the global
    top-100 is an exact weighted sample — the quality/length-weighted
    corpus subset selection step of a training-data mix, reproducible
    across runs and engines because the "randomness" is content-keyed.

    Scale: key computation is map-side; the top-k is
    TakeOrderedAndProject (per-partition heaps, driver merges k rows) —
    no global sort, no shuffle of the corpus.  One pass, any corpus
    size, k rows of driver memory.  ln is <=1 ulp on both engines;
    round(,8) + doc_id tie-break make the selection order total.
    """
    d = table(spark, sf, "documents")
    u = (
        md5_u32(F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))) + 1
    ) / F.lit(4294967296.0)
    key = F.round(F.log(u) / (F.col("n_chars") + 1), 8)
    top = (
        d.select(
            "doc_id",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            key.alias("priority"),
        )
        .orderBy(F.col("priority").desc(), F.col("doc_id").asc())
        .limit(100)
    )
    w = Window.orderBy(F.col("priority").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


# ---------------------------------------------------------------------------
# Bloom-filter decontamination
# ---------------------------------------------------------------------------


@register(
    "x_decontaminate_bloom",
    oracle="""
    WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
    corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0),
    btoks AS (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[[:space:]]+'), x -> x <> '') AS t
              FROM bench),
    bsh AS (SELECT DISTINCT shingle FROM (
              SELECT unnest([array_to_string(t[i:i+2], ' ')
                             for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS shingle
              FROM btoks)),
    perms AS (SELECT j,
                     (1103515245 * (j + 1) + 12345) % 2147483647 AS a,
                     (1103515245 * (j + 1000003) + 12345) % 2147483647 AS b
              FROM unnest(range(3)) u(j)),
    bloom AS (SELECT DISTINCT
                (a * (('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2147483647) + b)
                  % 2147483647 % 65536 AS pos
              FROM bsh CROSS JOIN perms),
    ctoks AS (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[[:space:]]+'), x -> x <> '') AS t
              FROM corpus),
    csh AS (SELECT DISTINCT doc_id, shingle FROM (
              SELECT doc_id,
                     unnest([array_to_string(t[i:i+2], ' ')
                             for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS shingle
              FROM ctoks)),
    probe AS (SELECT doc_id, shingle,
                     (a * (('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2147483647) + b)
                       % 2147483647 % 65536 AS pos
              FROM csh CROSS JOIN perms),
    hits AS (SELECT doc_id, shingle, count(*) AS k_hits
             FROM probe JOIN bloom USING (pos)
             GROUP BY doc_id, shingle),
    flagged AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_flagged
                FROM hits WHERE k_hits = 3 GROUP BY doc_id),
    sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
           FROM csh GROUP BY doc_id)
    SELECT s.doc_id, s.n_shingles,
           CAST(coalesce(f.n_flagged, 0) AS BIGINT) AS n_flagged,
           CAST(CASE WHEN coalesce(f.n_flagged, 0) > 0 THEN 1 ELSE 0 END AS INT) AS contaminated
    FROM sz s LEFT JOIN flagged f ON f.doc_id = s.doc_id
    """,
)
def x_decontaminate_bloom(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-filter decontamination: the benchmark's word-3-gram set is
    compressed into a 65536-slot / 3-hash Bloom bit-set; every corpus
    shingle probes the filter and a doc is flagged when any shingle hits
    all 3 positions.  This is the constant-memory screen that scales the
    exact n-gram check (x_decontaminate) to benchmark suites too large
    to ship as raw shingle sets — false-positive rate (fill)^3, false
    negatives zero, so it is a safe PRE-filter: only flagged docs go to
    exact verification.

    Scale: the bit-set (distinct positions, <=65536 rows regardless of
    benchmark size) is BROADCAST; the corpus side is one map-side probe
    explode (3 rows per distinct shingle) + a partial-agg count — the
    100 TB corpus never shuffles for membership.  The permuted-md5
    position function is the same engine-portable universal-hash family
    MinHash uses (functions/hashing.py).
    """
    d = table(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    n_hash, m_slots = 3, 65536

    def positions(sh: DataFrame, keep_id: bool) -> DataFrame:
        h = md5_u32(F.col("shingle")) % MERSENNE_P
        cols = (["doc_id"] if keep_id else []) + ["shingle"]
        pos = F.explode(
            F.array(*[minhash_permuted(F.col("h"), j) % m_slots for j in range(n_hash)])
        ).alias("pos")
        return sh.select(*cols, h.alias("h")).select(*cols, pos)

    bloom = (
        positions(shingle_set(bench, k=3), keep_id=False)
        .select("pos")
        .distinct()
    )
    csh = shingle_set(corpus, k=3)
    probe = positions(csh, keep_id=True)
    hits = (
        # <= m_slots distinct positions; estimated from the benchmark shingles
        probe.join(F.broadcast(bloom), "pos")
        .groupBy("doc_id", "shingle")
        .agg(F.count("*").alias("k_hits"))
    )
    flagged = (
        hits.filter(F.col("k_hits") == n_hash)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_flagged"))
    )
    sz = csh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    return sz.join(flagged, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce(F.col("n_flagged"), F.lit(0)).cast("long").alias("n_flagged"),
        (F.coalesce(F.col("n_flagged"), F.lit(0)) > 0).cast("int").alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# SemDeDup — semantic dedup over learned coarse clusters
# ---------------------------------------------------------------------------


@register(
    "x_dedup_semantic",
    oracle="""
    WITH ecorpus AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id, embedding
      FROM embeddings WHERE vec_id < 50),
    cent AS (
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
        FROM ecorpus e CROSS JOIN centv c
        WHERE list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) > 0) t
      WHERE rn = 1),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim
      FROM assign a JOIN assign b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
    SELECT id_b AS dropped_id, CAST(min(id_a) AS BIGINT) AS kept_by,
           arg_min(sim, id_a) AS cos_sim
    FROM pairs WHERE sim >= 0.99
    GROUP BY id_b
    """,
)
def x_dedup_semantic(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): embedding near-dup where the pair
    space is bucketed by LEARNED coarse clusters — vectors are assigned
    to their nearest centroid (the same IVF assignment the ANN index
    uses) and cosine comparison happens only within a cluster; each
    duplicate reports its lowest-id similar neighbor (which may itself
    be dropped under a non-transitive chain — see semantic_dedup's
    docstring; the survivor SET is exact, reference redirection follows
    chains or uses the CC path).  This is
    the production counterpart of x_dedup_embed's ground-truth-label
    blocking: at 100 TB there are no labels, only learned cells.

    Scale: centroid assignment is a broadcast map-side argmax (k
    centroids); the pair join shuffles once on the cluster key and each
    cell's pair count is (cell size)², bounded by balancing k — the same
    hot-cell economics as LSH's max_bucket guard, and the same shipped
    valve: ``semantic_dedup(max_cell=...)`` drops viral cells from pair
    generation (measured in tests/test_scale_probes.py); the
    keep-lowest-id collapse is one more keyed agg riding the pair
    shuffle.  This key runs the exhaustive oracle mode (max_cell=None).
    """
    from ..operators.similarity import (
        assign_to_centroids,
        label_centroids,
        semantic_dedup,
    )

    e = _emb_corpus(spark, sf).select("vec_id", "embedding")
    cents = label_centroids(table(spark, sf, "embeddings"))
    return semantic_dedup(
        assign_to_centroids(e, cents), threshold=0.99, max_cell=None
    )


@register(
    "x_dedup_semantic_guarded",
    oracle="""
    WITH ecorpus AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id, embedding
      FROM embeddings WHERE vec_id < 50),
    cent AS (SELECT vec_id AS centroid_id, embedding AS centroid
             FROM embeddings WHERE vec_id % 25 = 0),
    assign AS (
      SELECT vec_id, embedding, centroid_id AS cluster FROM (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], c.centroid::DOUBLE[]), 6) DESC,
                          c.centroid_id ASC) AS rn
        FROM ecorpus e CROSS JOIN cent c
        WHERE list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) > 0) t
      WHERE rn = 1),
    cells AS (SELECT cluster FROM assign GROUP BY cluster HAVING count(*) <= 150),
    kept AS (SELECT a.* FROM assign a JOIN cells c ON c.cluster = a.cluster),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim
      FROM kept a JOIN kept b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
    SELECT id_b AS dropped_id, CAST(min(id_a) AS BIGINT) AS kept_by,
           arg_min(sim, id_a) AS cos_sim
    FROM pairs WHERE sim >= 0.99
    GROUP BY id_b
    """,
)
def x_dedup_semantic_guarded(spark: SparkSession, sf: str) -> DataFrame:
    """The PRODUCTION SemDeDup configuration — driver-adjudicated like the
    best/cluster/containment guarded twins.  Two changes vs the exhaustive
    x_dedup_semantic key, both from the SemDeDup scaling prescription
    (Abbas et al. 2023; SCALE.md §7e):

    - **k ∝ n centroids** (``strided_centroids``, every 25th vector): the
      exhaustive key's fixed k=10 label centroids make cell size n/10 —
      within-cell pair work grows QUADRATICALLY with the corpus (measured
      8.9× on 10× data).  Sampling every 25th vector as a centroid keeps
      the EXPECTED cell size constant (~25-55 here) at any scale, so pair
      work grows linearly; seeding is a map-side filter, deterministic,
      and the oracle replays it as ``WHERE vec_id % 25 = 0``.
    - **``max_cell=150`` hot-cell guard**: a cell c vectors wide emits c²
      pairs, so one viral embedding (thousands of copies of a boilerplate
      page's vector) re-quadratizes a single cell no matter how k scales.
      Cells over the cap are dropped from pair generation (exact dedup
      owns verbatim copies); the cap rides the cluster shuffle the pair
      join already needs.  At driver scale no organic cell exceeds it —
      the guard's bite is probe-measured in tests/test_scale_probes.py
      (159,400 → 34,650 pairs on a planted viral cell).

    With k ∝ n the dominant stage flips from pair scoring to ASSIGNMENT
    (n·k·d multiply-adds), and the declarative per-pair fold is the wrong
    kernel for a computation that is one matmul — so this key assigns via
    the TWO-LEVEL cogrouped BLAS argmax
    (operators/similarity.py::assign_to_centroids_2level_blas, probe-all:
    identical round-6/tie assignments to the flat argmax).  Unlike the
    flat BLAS kernel this key used through r6 (which collected the whole
    k ∝ n centroid table driver-side — VERDICT r6 "What's wrong" #1),
    nothing corpus-proportional is ever broadcast or collected: ~√k
    hash-sampled seeds route centroids and vectors into super-cells, the
    cells meet through the cogroup's keyed shuffle, and the inner loop is
    one dgemm per cell.  The oracle replays BOTH knobs (strided-centroid
    CTE + HAVING count(*) <= 150 cell screen) plus the shared zero-norm
    screen, so the driver adjudicates exactly the configuration
    production would run.
    """
    from ..operators.similarity import (
        assign_to_centroids_2level_blas,
        semantic_dedup,
        strided_centroids,
    )

    e = _emb_corpus(spark, sf).select("vec_id", "embedding")
    cents = strided_centroids(table(spark, sf, "embeddings"))
    # Materialize the assignment ONCE: semantic_dedup reads it three
    # times (the cell-size window and both pair-join sides), and unlike
    # the declarative argmax's shared exchange, three copies of the
    # cogrouped-applyInPandas stage do not collapse via ReuseExchange —
    # measured 2.4× end-to-end at sf1 (SCALE.md §7g).
    asg = stored(assign_to_centroids_2level_blas(e, cents))
    return semantic_dedup(asg, threshold=0.99, max_cell=150)


# ---------------------------------------------------------------------------
# edit-distance verification on LSH candidates
# ---------------------------------------------------------------------------


@register(
    "x_dedup_lev",
    oracle=f"""
    WITH {_CORPUS_SQL},
    toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[[:space:]]+'), x -> x <> '') AS t
      FROM corpus),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest([array_to_string(t[i:i+2], ' ')
                       for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS shingle
        FROM toks)),
    h AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2147483647 AS hh FROM sh),
    perms AS (SELECT i,
                     (1103515245 * (i + 1) + 12345) % 2147483647 AS a,
                     (1103515245 * (i + 1000003) + 12345) % 2147483647 AS b
              FROM unnest(range(16)) u(i)),
    mh AS (SELECT doc_id, i, min((a * hh + b) % 2147483647) AS mn
           FROM h CROSS JOIN perms GROUP BY doc_id, i),
    bands AS (SELECT doc_id, i // 4 AS band_id,
                     md5(string_agg(CAST(mn AS VARCHAR), ',' ORDER BY i)) AS band_sig
              FROM mh GROUP BY doc_id, i // 4),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a JOIN bands b USING (band_id, band_sig)
             WHERE a.doc_id < b.doc_id),
    tx AS (SELECT doc_id, substr(text, 1, 160) AS head FROM corpus)
    SELECT c.id_a, c.id_b,
           CAST(levenshtein(ta.head, tb.head) AS INT) AS edit_distance
    FROM cand c
    JOIN tx ta ON ta.doc_id = c.id_a
    JOIN tx tb ON tb.doc_id = c.id_b
    WHERE levenshtein(ta.head, tb.head) <= 24
    """,
)
def x_dedup_lev(spark: SparkSession, sf: str) -> DataFrame:
    """Edit-distance near-dup: MinHash-LSH proposes candidate pairs and
    Levenshtein distance over the 160-char document head verifies them —
    the character-level twin of exact-Jaccard verification, catching
    small in-place edits (typo fixes, template fills) that token-set
    overlap scores identically but character distance separates.

    Scale: candidates come from the SAME banded-LSH machinery as
    x_dedup_near (bucketed, max_bucket-guardable, never all-pairs);
    Levenshtein is O(len²) per PAIR, which is why it only ever runs on
    LSH survivors and on a fixed-length head — both knobs (head length,
    threshold) are explicit.  One extra broadcast-sized join per side to
    fetch heads; no new shuffle shape beyond x_dedup_near.
    """
    corpus = _doc_corpus(spark, sf)
    sh = shingle_set(corpus, k=3)
    cand = lsh_candidate_pairs(lsh_bands(minhash_signatures(sh)))
    tx = corpus.select("doc_id", F.substring("text", 1, 160).alias("head"))
    ta = tx.select(F.col("doc_id").alias("id_a"), F.col("head").alias("head_a"))
    tb = tx.select(F.col("doc_id").alias("id_b"), F.col("head").alias("head_b"))
    lev = F.levenshtein(F.col("head_a"), F.col("head_b"))
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .filter(lev <= 24)
        .select("id_a", "id_b", lev.cast("int").alias("edit_distance"))
    )


# ---------------------------------------------------------------------------
# exact-count stratified sampling
# ---------------------------------------------------------------------------


@register(
    "x_sample_stratified",
    oracle="""
    SELECT doc_id, source, CAST(rn AS INT) AS strat_rank FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
             ) AS rn
      FROM documents) t
    WHERE rn <= 20
    """,
)
def x_sample_stratified(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-count stratified sampling: exactly 20 docs per source, chosen
    by a salted content-keyed hash order — the eval-set construction
    primitive where per-stratum counts must be EXACT (a rate-based gate
    like x_data_mix only hits its quota in expectation).  The trade-off
    is explicit and documented: hash-RANK selection guarantees the count
    but membership shifts as the stratum grows (rank is relative);
    rate-gate selection is append-stable but count-approximate.  Use
    ranks for frozen eval sets, gates for rolling training mixes.

    Scale: one source-keyed shuffle; the rank<=k filter compiles to
    WindowGroupLimit (plan-asserted) — per-partition top-k heaps, so
    only ~k rows per stratum survive the partial stage and the full
    stratum never materializes post-shuffle.
    """
    d = table(spark, sf, "documents")
    order_key = F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(order_key.asc(), F.col("doc_id").asc())
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "source", F.col("rn").cast("int").alias("strat_rank"))
    )


# ---------------------------------------------------------------------------
# percentile winsorization
# ---------------------------------------------------------------------------


@register(
    "x_winsorize",
    oracle="""
    WITH cuts AS (
      SELECT event_type,
             round(quantile_cont(value, 0.05), 4) AS lo,
             round(quantile_cont(value, 0.95), 4) AS hi
      FROM events GROUP BY event_type)
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN e.value < c.lo OR e.value > c.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
           round(avg(e.value), 4) AS mean_raw,
           round(avg(least(greatest(e.value, c.lo), c.hi)), 4) AS mean_winsorized,
           max(c.lo) AS p05,
           max(c.hi) AS p95
    FROM events e JOIN cuts c ON c.event_type = e.event_type
    GROUP BY e.event_type
    """,
)
def x_winsorize(spark: SparkSession, sf: str) -> DataFrame:
    """Percentile winsorization: clip each group's values into its own
    [p05, p95] band and report the clipped count and the raw-vs-winsorized
    mean shift — the feature-preprocessing step that tames heavy tails
    without dropping rows (the complement of x_outlier_mad, which flags).

    Cross-engine: the cut points are PINNED at 4 dp before ANY use
    (pin-then-derive, the tierk module contract) — Spark ``percentile``
    and DuckDB ``quantile_cont`` share the (n−1)·p linear-interpolation
    definition but can differ in the final ulp, and the clip predicate
    ``value < lo`` is exactly the unrounded-float-threshold knife edge
    registry.py documents.  The driver corpora never hit it; the
    .scratch/sf1 perf corpus DID (every value 10×-tied piles mass onto
    the cutoff: 50 clip-count divergence, round-9 find), and the 4 dp
    pin removes the class entirely since the metric itself carries 2 dp.

    Scale: one exact-percentile aggregation per group key, cut points
    BROADCAST back, then one map-side clamp + final agg — two
    event_type shuffles total, no global sort.  Same high-cardinality
    note as x_outlier_mad: exact ``percentile`` is for low-cardinality
    group keys; ``approx_percentile`` is the drop-in beyond that.
    """
    ev = table(spark, sf, "events").select("event_type", "value")
    cuts = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.05)), 4).alias("lo"),
        F.round(F.percentile("value", F.lit(0.95)), 4).alias("hi"),
    )
    clipped = (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))
    wins = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        # one row per event type; estimated from the events scan
        ev.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(clipped.cast("long")).alias("n_clipped"),
            F.round(F.avg("value"), 4).alias("mean_raw"),
            F.round(F.avg(wins), 4).alias("mean_winsorized"),
            F.max("lo").alias("p05"),  # already 4 dp-pinned
            F.max("hi").alias("p95"),
        )
    )


# ---------------------------------------------------------------------------
# containment dedup — doc-inside-doc detection
# ---------------------------------------------------------------------------

_WRAP_PREFIX = " ".join(f"px{i}" for i in range(30))
_WRAP_SUFFIX = " ".join(f"sx{i}" for i in range(30))

# shared between x_dedup_containment and its guarded twin: the planted
# wrapper corpus (chrome around the first 30 docs) and its shingle CTEs —
# one place to change the plant so the twins cannot drift apart
_CONTAIN_CORPUS_SQL = f"""
    corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 3000000 AS doc_id,
             '{_WRAP_PREFIX} ' || text || ' {_WRAP_SUFFIX}' AS text
      FROM documents WHERE doc_id < 30),
    toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[[:space:]]+'), x -> x <> '') AS t
      FROM corpus),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest([array_to_string(t[i:i+2], ' ')
                       for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS shingle
        FROM toks))
"""


def _containment_corpus(d: DataFrame) -> DataFrame:
    wrapped = d.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.concat(
            F.lit(_WRAP_PREFIX + " "), F.col("text"), F.lit(" " + _WRAP_SUFFIX)
        ).alias("text"),
    )
    return d.select("doc_id", "text").unionByName(wrapped)


@register(
    "x_dedup_containment",
    oracle=f"""
    WITH {_CONTAIN_CORPUS_SQL},
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
      FROM sh a JOIN sh b ON b.shingle = a.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id)
    SELECT CASE WHEN za.s < zb.s THEN id_a
                WHEN zb.s < za.s THEN id_b
                ELSE greatest(id_a, id_b) END AS contained_id,
           CASE WHEN za.s < zb.s THEN id_b
                WHEN zb.s < za.s THEN id_a
                ELSE least(id_a, id_b) END AS container_id,
           round(n / least(za.s, zb.s), 4) AS containment,
           round(n / (za.s + zb.s - n), 4) AS jaccard
    FROM inter
    JOIN sz za ON za.doc_id = id_a
    JOIN sz zb ON zb.doc_id = id_b
    WHERE n / least(za.s, zb.s) >= 0.9
    """,
)
def x_dedup_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Containment dedup (Broder '97 "containment" vs "resemblance"): a
    document quoted WHOLE inside a longer wrapper (template chrome around
    a syndicated body) has containment |A∩B|/min(|A|,|B|) = 1.0 while
    symmetric Jaccard ≈ |A|/|B| can sit below every near-dup threshold —
    resemblance dedup keeps both copies, this key catches them.  The
    corpus plants 30 wrapper docs (30-token chrome on each side of an
    original); every 3-gram of the original is a contiguous 3-gram of its
    wrapper, so the planted containment is exactly 1.0.  Jaccard is
    reported alongside to make the asymmetric catch auditable.

    Scale: the same rare-shingle inverted-index core as x_dedup_ngram
    (operators/dedup.py::ngram_intersection_pairs — max_df bounds the
    worst bucket at max_df², hot-shingle correction keeps counts exact);
    this key runs the exhaustive oracle mode.  Production runs want BOTH
    max_df and a minimum-size floor on the contained side: a tiny
    boilerplate doc is "contained" in everything.
    """
    from ..operators.dedup import containment_pairs

    corpus = _containment_corpus(table(spark, sf, "documents"))
    return containment_pairs(corpus, threshold=0.9)


# ---------------------------------------------------------------------------
# distribution drift — population stability index
# ---------------------------------------------------------------------------


@register(
    "x_drift_psi",
    oracle="""
    WITH span AS (
      SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) / 2.0 AS mid_us
      FROM events),
    tagged AS (
      SELECT e.event_type, e.value,
             CASE WHEN epoch_us(e.ts) < s.mid_us THEN 'ref' ELSE 'cur' END AS period
      FROM events e CROSS JOIN span s),
    bounds AS (
      SELECT event_type, min(value) AS lo, max(value) AS hi
      FROM tagged WHERE period = 'ref' GROUP BY event_type),
    bucketed AS (
      SELECT t.event_type, t.period,
             CAST(CASE WHEN b.hi > b.lo THEN least(10, greatest(1,
                          1 + floor((t.value - b.lo) / ((b.hi - b.lo) / 10))))
                       WHEN t.value = b.lo THEN 1 ELSE 2 END AS INT) AS bucket
      FROM tagged t JOIN bounds b ON b.event_type = t.event_type),
    cnt AS (
      SELECT event_type, bucket,
             sum(CASE WHEN period = 'ref' THEN 1 ELSE 0 END) AS n_ref,
             sum(CASE WHEN period = 'cur' THEN 1 ELSE 0 END) AS n_cur
      FROM bucketed GROUP BY event_type, bucket),
    tot AS (
      SELECT event_type, sum(n_ref) AS t_ref, sum(n_cur) AS t_cur
      FROM cnt GROUP BY event_type),
    psi AS (
      SELECT c.event_type,
             sum(((c.n_ref + 0.5) / (t.t_ref + 5.0) - (c.n_cur + 0.5) / (t.t_cur + 5.0))
                 * ln(((c.n_ref + 0.5) / (t.t_ref + 5.0))
                      / ((c.n_cur + 0.5) / (t.t_cur + 5.0)))) AS psi_raw
      FROM cnt c JOIN tot t ON t.event_type = c.event_type
      GROUP BY c.event_type),
    scored AS (
      SELECT p.event_type,
             CAST(t.t_ref AS BIGINT) AS n_ref,
             CAST(t.t_cur AS BIGINT) AS n_cur,
             round(p.psi_raw, 6) AS psi,
             CAST(CASE WHEN p.psi_raw > 0.2 THEN 1 ELSE 0 END AS INT) AS drifted
      FROM psi p JOIN tot t ON t.event_type = p.event_type),
    newtypes AS (
      SELECT event_type,
             CAST(0 AS BIGINT) AS n_ref,
             CAST(count(*) AS BIGINT) AS n_cur,
             CAST(NULL AS DOUBLE) AS psi,
             CAST(1 AS INT) AS drifted
      FROM tagged
      WHERE event_type NOT IN (SELECT event_type FROM bounds)
      GROUP BY event_type)
    SELECT * FROM scored UNION ALL SELECT * FROM newtypes
    """,
)
def x_drift_psi(spark: SparkSession, sf: str) -> DataFrame:
    """Population stability index per event_type: split the stream at its
    temporal midpoint, bucket the current half against the REFERENCE
    half's 10 equal-width value buckets, PSI = Σ (p−q)·ln(p/q) with
    +0.5 Laplace smoothing (no empty-bucket ln(0)); psi > 0.2 is the
    standard "investigate" threshold.  This is the DISTRIBUTION monitor
    next to x_data_checks' constraint monitor — schema-valid data whose
    shape silently shifts (sensor recalibration, upstream sampling
    change) passes every constraint and fails this.

    Scale: one pass tags periods map-side (the 2-row span agg is a
    broadcast cross join); bucket bounds are a per-type broadcast agg;
    the count rollup is one (type, bucket) shuffle with map-side combine
    — bucket cardinality is fixed at 10×types, so the PSI reduction is
    dimension-sized regardless of corpus size.  Bucket arithmetic is
    explicit (floor of scaled offset, clamped) rather than width_bucket
    so any ANSI engine replays it bit-identically.
    """
    ev = table(spark, sf, "events").select(
        "event_type", F.unix_micros("ts").alias("ts_us"), "value"
    )
    # midpoint in epoch micros as a double — values < 2^53, so the
    # division is exact and both engines compare identically
    span = ev.agg(
        ((F.min("ts_us") + F.max("ts_us")) / F.lit(2.0)).alias("mid_us")
    )
    tagged = ev.crossJoin(span).select(
        "event_type",
        "value",
        F.when(F.col("ts_us") < F.col("mid_us"), F.lit("ref"))
        .otherwise(F.lit("cur"))
        .alias("period"),
    )
    bounds = (
        tagged.filter(F.col("period") == "ref")
        .groupBy("event_type")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    )
    # degenerate (constant) reference half: everything equal to the
    # constant is bucket 1, anything else bucket 2 — so a current half
    # that moves off the constant still registers as drift instead of
    # being silently filtered out
    bucket = (
        F.when(
            F.col("hi") > F.col("lo"),
            F.least(
                F.lit(10),
                F.greatest(
                    F.lit(1),
                    1
                    + F.floor(
                        (F.col("value") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / 10)
                    ),
                ),
            ),
        )
        .when(F.col("value") == F.col("lo"), F.lit(1))
        .otherwise(F.lit(2))
        .cast("int")
    )
    cnt = (
        # bounds and tot: one row per event type, estimated from events
        tagged.join(F.broadcast(bounds), "event_type")
        .select("event_type", "period", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(
            F.sum((F.col("period") == "ref").cast("long")).alias("n_ref"),
            F.sum((F.col("period") == "cur").cast("long")).alias("n_cur"),
        )
    )
    tot = cnt.groupBy("event_type").agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    # smoothing over the fixed 10 buckets: t + 0.5·10, the oracle's + 5.0
    psi = smoothed_psi(
        # one row per event type; estimated from events
        cnt.join(F.broadcast(tot), "event_type"), "event_type", F.lit(10)
    )
    scored = psi.select(
        "event_type",
        F.col("t_ref").cast("long").alias("n_ref"),
        F.col("t_cur").cast("long").alias("n_cur"),
        F.round(F.col("psi_raw"), 6).alias("psi"),
        (F.col("psi_raw") > 0.2).cast("int").alias("drifted"),
    )
    # types with NO reference rows (first seen after the midpoint) have
    # no distribution to compare against — the strongest drift signal of
    # all; flag them explicitly instead of inner-joining them away
    newtypes = (
        # one row per event type; estimated from events
        tagged.join(F.broadcast(bounds), "event_type", "left_anti")
        .groupBy("event_type")
        .agg(
            F.lit(0).cast("long").alias("n_ref"),
            F.count("*").alias("n_cur"),
            F.lit(None).cast("double").alias("psi"),
            F.lit(1).cast("int").alias("drifted"),
        )
    )
    return scored.unionByName(newtypes)


@register(
    "x_dedup_containment_guarded",
    oracle=f"""
    WITH {_CONTAIN_CORPUS_SQL},
    floor_ok AS (SELECT doc_id FROM sh GROUP BY doc_id HAVING count(*) >= 10),
    shf AS (SELECT s.doc_id, s.shingle
            FROM sh s JOIN floor_ok k ON k.doc_id = s.doc_id),
    rare AS (SELECT shingle FROM shf GROUP BY shingle HAVING count(*) <= 10),
    csh AS (SELECT s.doc_id, s.shingle
            FROM shf s JOIN rare r ON r.shingle = s.shingle),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM csh a JOIN csh b
               ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
    inter AS (SELECT c.id_a, c.id_b, count(*) AS n
              FROM cand c
              JOIN shf a ON a.doc_id = c.id_a
              JOIN shf b ON b.doc_id = c.id_b AND b.shingle = a.shingle
              GROUP BY c.id_a, c.id_b),
    sz AS (SELECT doc_id, count(*) AS s FROM shf GROUP BY doc_id)
    SELECT CASE WHEN za.s < zb.s THEN id_a
                WHEN zb.s < za.s THEN id_b
                ELSE greatest(id_a, id_b) END AS contained_id,
           CASE WHEN za.s < zb.s THEN id_b
                WHEN zb.s < za.s THEN id_a
                ELSE least(id_a, id_b) END AS container_id,
           round(n / least(za.s, zb.s), 4) AS containment,
           round(n / (za.s + zb.s - n), 4) AS jaccard
    FROM inter
    JOIN sz za ON za.doc_id = id_a
    JOIN sz zb ON zb.doc_id = id_b
    WHERE n / least(za.s, zb.s) >= 0.9
    """,
)
def x_dedup_containment_guarded(spark: SparkSession, sf: str) -> DataFrame:
    """x_dedup_containment with the boilerplate guard ON (``max_df=10``) —
    the PRODUCTION containment configuration, driver-adjudicated like the
    x_dedup_best/cluster guarded twins: shingles in more than max_df docs
    (here: every wrapper-chrome shingle, df=30) are excluded from
    CANDIDATE generation, bounding the inverted-index worst bucket at
    max_df² pairs, while intersection counts and set sizes stay exact on
    the full sets.  The planted wrappers are still caught through their
    rare body shingles; a pair whose every shared shingle is boilerplate
    is exactly the pair the production screen should not spend a
    comparison on.

    Round 5 adds the second guard the docstring prescribed
    (operators/dedup.py::containment_pairs): ``min_size=10`` — docs with
    fewer than 10 distinct shingles are dropped BEFORE candidate
    generation.  Containment's denominator is min(|A|,|B|), so a tiny
    chrome-only doc scores "contained" in everything; the floor removes
    it from the inverted index instead of scoring-and-discarding its
    corpus-wide pair fan (equivalence of doc-floor and pair-floor in the
    operator docstring).  The oracle replays BOTH prefilters
    (size floor + rare-shingle candidates + full-set intersection).
    """
    from ..operators.dedup import containment_pairs

    corpus = _containment_corpus(table(spark, sf, "documents"))
    return containment_pairs(corpus, threshold=0.9, max_df=10, min_size=10)
