"""Tier H — round-6 wave: the composed curation pipeline as a first-class
oracle key, hub-guarded production twins of the co-purchase graph keys
(max_basket screen on the quadratic edge derivation), and the two-level
IVF assignment that keeps k ∝ n centroid tables off the broadcast path.

Every key follows the registry's cross-engine hash rules (registry.py
docstring).  Scale notes per key; the common theme is the one VERDICT r5
flagged: every derivation that is quadratic in some group width (order
basket, LSH bucket, IVF cell) gets a windowed width screen riding the
shuffle the derivation already pays, with the exhaustive form staying the
oracle mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.window import Window

from ..operators.dedup import connected_components_star, ngram_jaccard_pairs
from ..operators.graph import copurchase_pairs
from ..operators.pipeline_curate import curate_corpus
from ..operators.similarity import _ranked_topk, pair_cosine
from ..storage import stored
from .registry import register, table
from .tierc import _CORPUS3_SQL, _SHINGLES_SQL, _TOKS_SQL, _doc_corpus3
from .tierd import _pagerank_oracle, pagerank_report
from .tiere import _triangle_oracle, triangle_top50
from .tierf import _lpa_oracle, lpa_top50

# ---------------------------------------------------------------------------
# the composed curation pipeline — gate → exact dedup → LSH collapse →
# cluster-wise decontaminate → cluster-safe split, reported as the funnel
# ---------------------------------------------------------------------------

# DuckDB expression replaying functions.text.quality_logit over a token
# list `t` and raw `text` — ONE definition for every tierh oracle that
# gates or scores on the logit, so a QUALITY_LEXICON weight change edits
# one SQL block.  (tierc's x_quality_model and tierd's collapse oracle
# predate this fragment and decompose the same arithmetic through their
# own CTE shapes — same constants, structurally different SQL.)
_QUALITY_LOGIT_SQL = """-0.4::DOUBLE
               + 2.5::DOUBLE * (len(list_filter(t, x -> list_contains(
                   ['the','a','of','and','to','in','is','it','that','for'], x)))
                  / greatest(len(t), 1))
               + 0.15::DOUBLE * (length(text) / greatest(len(t), 1))
               + (0.6::DOUBLE * len(list_filter(t, x -> x = 'fast'))
                  + -0.7::DOUBLE * len(list_filter(t, x -> x = 'slow'))
                  + 0.4::DOUBLE * len(list_filter(t, x -> x = 'spark'))
                  + 0.2::DOUBLE * len(list_filter(t, x -> x = 'data'))
                  + -0.1::DOUBLE * len(list_filter(t, x -> x = 'big')))
                 / greatest(len(t), 1)"""

# quality gate: keep logit > 0 (functions/text.py::quality_logit — fixed
# IEEE evaluation order, identical bits in both engines)
_GATE_SQL = f"""
    gated AS (
      SELECT doc_id, text, t FROM (
        SELECT doc_id, text, t,
               {_QUALITY_LOGIT_SQL} AS logit
        FROM toks) WHERE logit > 0.0)
"""

# exact dedup: keep lowest doc_id per whitespace-normalized-md5 fingerprint
_EXACT_SQL = """
    ex AS (
      SELECT doc_id, t FROM (
        SELECT doc_id, t, row_number() OVER (
                 PARTITION BY md5(trim(regexp_replace(lower(text),
                                       '[[:space:]]+', ' ', 'g')))
                 ORDER BY doc_id) AS rn
        FROM gated) WHERE rn = 1)
"""

# MinHash(16)-LSH(4 bands, max_bucket=100) pairs at jaccard >= 0.8 over the
# exact survivors — the x_dedup_near oracle restricted to `ex` + the
# bucket guard the pipeline runs in production mode
_NEARDUP_SQL = """
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest([array_to_string(t[i:i+2], ' ')
                       for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS shingle
        FROM ex)),
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
    bguard AS (SELECT doc_id, band_id, band_sig FROM bands
               QUALIFY count(*) OVER (PARTITION BY band_id, band_sig) <= 100),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bguard a JOIN bguard b USING (band_id, band_sig)
             WHERE a.doc_id < b.doc_id),
    sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id),
    inter AS (SELECT c.id_a, c.id_b, count(*) AS n
              FROM cand c
              JOIN sh a ON a.doc_id = c.id_a
              JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
              GROUP BY c.id_a, c.id_b),
    pairs AS (SELECT id_a, id_b FROM inter
              JOIN sz za ON za.doc_id = id_a JOIN sz zb ON zb.doc_id = id_b
              WHERE n / (za.s + zb.s - n) >= 0.8),
    edges AS (SELECT id_a AS s, id_b AS d FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    walk(node, lbl) AS (
      SELECT doc_id, doc_id FROM ex
      UNION
      SELECT e.d, w.lbl FROM walk w JOIN edges e ON e.s = w.node),
    lab AS (SELECT node AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY node)
"""


@register(
    "x_curate_corpus",
    oracle=f"""
    WITH RECURSIVE corpus AS (
      SELECT doc_id, text, source FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, concat(text, ' zz9 qq8') AS text, source
      FROM documents WHERE doc_id < 50
    ),
    toks AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(lower(text), '[[:space:]]+'), x -> x <> '') AS t
      FROM corpus),
    {_GATE_SQL},
    {_EXACT_SQL},
    {_NEARDUP_SQL},
    collapsed AS (SELECT doc_id, cluster_id FROM lab WHERE doc_id = cluster_id),
    bsh AS (
      SELECT DISTINCT shingle FROM (
        SELECT unnest([array_to_string(t[i:i+2], ' ')
                       for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS shingle
        FROM (SELECT list_filter(string_split_regex(lower(text), '[[:space:]]+'), x -> x <> '') AS t
              FROM documents WHERE doc_id % 97 = 0))),
    contam AS (SELECT DISTINCT s.doc_id FROM sh s JOIN bsh b USING (shingle)),
    badcl AS (SELECT DISTINCT l.cluster_id FROM lab l JOIN contam c ON c.doc_id = l.doc_id),
    clean AS (SELECT c.doc_id, c.cluster_id FROM collapsed c
              WHERE c.cluster_id NOT IN (SELECT cluster_id FROM badcl)),
    sp AS (SELECT doc_id,
                  CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
                       ELSE 'test' END AS split
           FROM (SELECT doc_id,
                        ('0x' || substr(md5('split:' || CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
                 FROM clean))
    SELECT 'input' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM corpus
    UNION ALL SELECT 'quality_gate', CAST(count(*) AS BIGINT) FROM gated
    UNION ALL SELECT 'exact_dedup', CAST(count(*) AS BIGINT) FROM ex
    UNION ALL SELECT 'near_dedup', CAST(count(*) AS BIGINT) FROM collapsed
    UNION ALL SELECT 'decontaminated', CAST(count(*) AS BIGINT) FROM clean
    UNION ALL SELECT 'split_' || split, CAST(count(*) AS BIGINT) FROM sp GROUP BY split
    """,
)
def x_curate_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """The composed production pipeline (operators/pipeline_curate.py:47)
    as a driver-adjudicated key: quality gate → exact dedup → guarded
    MinHash-LSH near-dup collapse → cluster-wise benchmark
    decontamination → cluster-safe split, reported as the stage funnel
    plus per-split counts (8 rows at sf0.01 — deterministic counts, the
    report a production run publishes per batch).

    Corpus: the planted near-dup corpus (tierc._doc_corpus + source);
    benchmark: docs with doc_id % 97 == 0 standing in for the held-out
    eval suite (the x_decontaminate convention).

    Scale: this key adds NO operator of its own — every stage is a key
    with its own 100 TB notes (x_quality_model map-side gate,
    x_dedup_exact window, x_dedup_near guarded LSH with max_bucket=100,
    x_decontaminate broadcast screen, x_split_cluster_safe hash split);
    the composition's only additions are two stored frames
    (exact survivors, cluster labels) because each feeds 2-3 consumers,
    and the funnel's per-stage counts, which are one aggregate each over
    frames the pipeline already computes.
    """
    d = table(spark, sf, "documents").select("doc_id", "text", "source")
    dups = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz9 qq8")).alias("text"),
        "source",
    )
    corpus = d.unionByName(dups)
    bench = d.filter(F.col("doc_id") % 97 == 0).select("text")
    out = curate_corpus(corpus, benchmark=bench, quality_threshold=0.0)
    splits = (
        out["curated"]
        .groupBy("split")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .select(F.concat(F.lit("split_"), F.col("split")).alias("stage"), "n_docs")
    )
    return out["funnel"].unionByName(splits).select("stage", "n_docs")


# ---------------------------------------------------------------------------
# hub-guarded co-purchase graph twins — the production registration of
# q_triangle_count / x_pagerank / x_lpa (VERDICT r5 "What's wrong" #2):
# pair output of the order self-join is quadratic in basket width, so the
# production mode screens baskets wider than MAX_BASKET before the join,
# exactly like max_bucket (LSH) / max_df (inverted index) / max_cell (IVF).
# TPC-H baskets are bounded at 7 distinct parts, so max_basket=5 BINDS on
# the driver data (6-7-wide baskets drop) — the guard's effect is itself
# adjudicated, not just its plan shape; the planted-hub scale probe in
# tests/test_scale_probes.py proves the pair bound.  Exhaustive keys stay
# registered as the oracle mode.
# ---------------------------------------------------------------------------

MAX_BASKET = 5


@register("q_triangle_count_guarded", oracle=_triangle_oracle(MAX_BASKET))
def q_triangle_count_guarded(spark: SparkSession, sf: str) -> DataFrame:
    """q_triangle_count's production twin: identical degree-ordered
    enumeration (tiere.triangle_top50) over the max_basket-guarded edge
    derivation.  Scale: worst-case pair output per basket drops from w²
    (unbounded hub) to MAX_BASKET²; the width screen (a per-basket
    distinct count plus an anti-join) runs before any basket array is
    built."""
    li = table(spark, sf, "lineitem")
    return triangle_top50(copurchase_pairs(li, max_basket=MAX_BASKET))


@register("x_pagerank_guarded", oracle=_pagerank_oracle(max_basket=MAX_BASKET))
def x_pagerank_guarded(spark: SparkSession, sf: str) -> DataFrame:
    """x_pagerank's production twin: same 3-round damped iteration
    (tierd.pagerank_report) with the max_basket screen on pair
    generation.  Nodes stay corpus-wide — a part whose every order was
    screened keeps the teleport-only rank instead of vanishing, so the
    guard bounds edge count without changing the node universe."""
    li = table(spark, sf, "lineitem")
    return pagerank_report(
        copurchase_pairs(li, max_basket=MAX_BASKET, directed=True),
        li.select(F.col("l_partkey").alias("node")).distinct(),
    )


@register("x_lpa_guarded", oracle=_lpa_oracle(MAX_BASKET))
def x_lpa_guarded(spark: SparkSession, sf: str) -> DataFrame:
    """x_lpa's production twin: same 2-iteration synchronous sweep
    (tierf.lpa_top50) over the max_basket-guarded edge list.  Community
    membership is computed only for edge endpoints (as in x_lpa), so
    parts isolated by the screen drop from the census — the honest
    semantics for a guard that treats super-wide baskets as noise."""
    li = table(spark, sf, "lineitem")
    return lpa_top50(copurchase_pairs(li, max_basket=MAX_BASKET))


# ---------------------------------------------------------------------------
# two-level IVF search — the k ∝ n distribution fix as a registered key
# ---------------------------------------------------------------------------


@register(
    "x_sim_ivf_2level",
    oracle="""
    WITH cent AS (
      SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS centroid
      FROM embeddings
      WHERE vec_id % 25 = 0 AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
    ns AS (
      SELECT greatest(CAST(ceil(count(*) / ceil(sqrt(count(*)))) AS BIGINT), 1) AS step
      FROM cent),
    seeds AS (
      SELECT DISTINCT centroid_id AS super_id, centroid AS sv
      FROM cent, ns
      WHERE ('0x' || substr(md5('seed:' || CAST(centroid_id AS VARCHAR)), 1, 8))::BIGINT
              % ns.step = 0
         OR centroid_id = (SELECT min(centroid_id) FROM cent)),
    tagged AS (
      SELECT centroid_id, centroid,
             CASE WHEN EXISTS (SELECT 1 FROM seeds s2 WHERE s2.super_id = t.centroid_id)
                  THEN centroid_id ELSE super_id END AS super_id
      FROM (
        SELECT c.centroid_id, c.centroid, s.super_id,
               row_number() OVER (
                 PARTITION BY c.centroid_id
                 ORDER BY round(list_cosine_similarity(c.centroid, s.sv), 6) DESC,
                          s.super_id ASC) AS rn
        FROM cent c CROSS JOIN seeds s) t WHERE rn = 1),
    probed AS (
      SELECT vec_id, embedding, super_id FROM (
        SELECT e.vec_id, e.embedding, s.super_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], s.sv), 6) DESC,
                          s.super_id ASC) AS rn
        FROM embeddings e CROSS JOIN seeds s
        WHERE list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) > 0) t WHERE rn <= 2),
    assign AS (
      SELECT vec_id, embedding, centroid_id AS cluster FROM (
        SELECT p.vec_id, p.embedding, t.centroid_id,
               row_number() OVER (
                 PARTITION BY p.vec_id
                 ORDER BY round(list_cosine_similarity(p.embedding::DOUBLE[], t.centroid), 6) DESC,
                          t.centroid_id ASC) AS rn
        FROM probed p JOIN tagged t USING (super_id)) t WHERE rn = 1)
    SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
           CAST(row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], a.embedding::DOUBLE[]), 6) DESC,
                      a.vec_id ASC) AS INT) AS rank,
           round(list_cosine_similarity(q.embedding::DOUBLE[], a.embedding::DOUBLE[]), 6) AS sim
    FROM assign q JOIN assign a ON a.cluster = q.cluster AND a.vec_id <> q.vec_id
    WHERE q.vec_id < 10
    QUALIFY rank <= 3
    """,
)
def x_sim_ivf_2level(spark: SparkSession, sf: str) -> DataFrame:
    """IVF probe-1 ANN over k ∝ n strided centroids (stride-25 — the
    constant-cell-size production seeding), with BOTH assignment stages
    computed through the two-level path
    (operators.similarity.assign_to_centroids_2level): ~⌈√k⌉ seed
    centroids (md5 hash-sampled map-side — no global-sort window — plus
    the min-id centroid) are the only broadcast; each vector probes its
    2 nearest super-cells and the corpus-proportional centroid table is
    joined BY KEY.  The oracle replays the identical two-level
    algorithm (hash-sampled seeds, self-tagging centroid assignment,
    probe-2, final argmax — every layer round-6 + id tie-broken), so
    the approximate assignment is itself adjudicated, not just the
    exact limit (the probe-all = flat-argmax equivalence is proven
    rowwise in test_scale_probes).

    Scale: the flat paths ship k ∝ n centroids to every task (broadcast
    NLJ or collected matmul) — dead at 100 TB; scoring all k per vector
    through the per-pair fold kernel measured 43 s at sf1/k=800 in this
    key's first registration (SCALE.md §7h's full history, incl. the
    later seed hardening and probe-all shortcut).  ~√k seeds + probe-2
    bound per-vector work at O(√k + 2·k/√k) = O(√k): 5.9 s at sf1,
    ratio 1.5× vs sf0.1's 3.9 s.  When EXACT assignment is required,
    the cogrouped-BLAS twin (x_sim_ivf_2level_exact) does probe-all via
    per-cell dgemm at 5.1 s.
    """
    from ..operators.similarity import (
        assign_to_centroids_2level,
        strided_centroids,
    )

    e = table(spark, sf, "embeddings")
    cents = strided_centroids(e)
    return _ivf_probe1_report(assign_to_centroids_2level(e, cents, n_probe_super=2))


def _ivf_probe1_report(asg: DataFrame) -> DataFrame:
    """Probe-1 IVF top-k report body over an assignment frame
    (vec_id, vd, vn, cluster) — shared by the two-level keys so the
    query filter / self-pair exclusion / rank cast live once.

    The assignment is stored once: it feeds
    BOTH join sides, and the query side is a filter of the corpus-wide
    frame — without the cut, each consumer re-runs the whole two-level
    chain (for the BLAS variant, Pandas stages never collapse via
    ReuseExchange — the semantic_dedup lesson, measured 2.4× there).

    Zero-norm boundary (registry.py, shared with every x_sim_* sibling):
    engine sims are NULL via try_divide and rank last; DuckDB
    list_cosine_similarity would emit NaN and rank it first.  The
    driver's embeddings contain no zero vectors, so the divergence is
    documented, not defended."""
    asg = stored(asg)
    assigned = asg.select(
        F.col("vec_id").alias("neighbor_id"), F.col("vd").alias("cd"),
        F.col("vn").alias("cn"), "cluster",
    )
    q_assigned = asg.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("vd").alias("qd"),
        F.col("vn").alias("qn"), "cluster",
    )
    scored = (
        assigned.join(q_assigned, "cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", pair_cosine().alias("sim"))
    )
    out = _ranked_topk(scored, 3)
    return out.withColumn("rank", F.col("rank").cast("int"))


@register(
    "x_sim_ivf_2level_exact",
    oracle="""
    WITH cent AS (
      SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS centroid
      FROM embeddings
      WHERE vec_id % 25 = 0 AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
    assign AS (
      SELECT vec_id, embedding, centroid_id AS cluster FROM (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], c.centroid), 6) DESC,
                          c.centroid_id ASC) AS rn
        FROM embeddings e CROSS JOIN cent c
        WHERE list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) > 0) t
      WHERE rn = 1)
    SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
           CAST(row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], a.embedding::DOUBLE[]), 6) DESC,
                      a.vec_id ASC) AS INT) AS rank,
           round(list_cosine_similarity(q.embedding::DOUBLE[], a.embedding::DOUBLE[]), 6) AS sim
    FROM assign q JOIN assign a ON a.cluster = q.cluster AND a.vec_id <> q.vec_id
    WHERE q.vec_id < 10
    QUALIFY rank <= 3
    """,
)
def x_sim_ivf_2level_exact(spark: SparkSession, sf: str) -> DataFrame:
    """x_sim_ivf_2level's EXACT twin: the same IVF probe-1 search over
    k ∝ n strided centroids, with assignment computed by the cogrouped
    BLAS kernel in probe-ALL mode
    (operators.similarity.assign_to_centroids_2level_blas) — every
    (vector, centroid) pair scored through a per-super-cell dgemm, so
    assignments equal the flat argmax and the oracle is the flat
    formulation.  This key puts the third sanctioned Python-eval
    contract (cogrouped applyInPandas matmul) under driver
    adjudication, not just pytest.

    Scale: the exact k ∝ n assignment the flat paths can't distribute —
    nothing corpus-proportional broadcast or collected; measured 4.6 s
    at sf1/k=800 vs 21.4 s through the declarative per-pair fold
    (SCALE.md §7h).  np.round's ties-to-even vs Spark HALF_UP on exact
    6th-decimal dyadic half-ties is the documented knife edge
    (registry.py; the driver's data never lands on it).
    """
    from ..operators.similarity import (
        assign_to_centroids_2level_blas,
        strided_centroids,
    )

    e = table(spark, sf, "embeddings")
    cents = strided_centroids(e)
    # probe-all = exact; _ivf_probe1_report stores the
    # assignment so the per-cell dgemm runs once, not per join side
    return _ivf_probe1_report(assign_to_centroids_2level_blas(e, cents))


@register(
    "x_curriculum_shards",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(lower(text), '[[:space:]]+'), x -> x <> '') AS t
      FROM documents),
    q AS (
      SELECT doc_id, len(t) AS n_tok,
             {_QUALITY_LOGIT_SQL} AS quality,
             ('0x' || substr(md5('curr:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8 AS shard
      FROM toks),
    agg AS (
      SELECT shard, count(*) AS n_docs, sum(n_tok) AS n_tokens,
             round(min(quality), 6) AS q_min, round(max(quality), 6) AS q_max
      FROM q GROUP BY shard),
    fr AS (SELECT shard, doc_id AS first_doc FROM (
             SELECT shard, doc_id, row_number() OVER (
               PARTITION BY shard ORDER BY quality ASC, doc_id ASC) AS rn
             FROM q) t WHERE rn = 1),
    la AS (SELECT shard, doc_id AS last_doc FROM (
             SELECT shard, doc_id, row_number() OVER (
               PARTITION BY shard ORDER BY quality DESC, doc_id DESC) AS rn
             FROM q) t WHERE rn = 1)
    SELECT CAST(a.shard AS INT) AS shard,
           CAST(a.n_docs AS BIGINT) AS n_docs,
           CAST(a.n_tokens AS BIGINT) AS n_tokens,
           CAST(fr.first_doc AS BIGINT) AS first_doc,
           CAST(la.last_doc AS BIGINT) AS last_doc,
           a.q_min, a.q_max
    FROM agg a JOIN fr USING (shard) JOIN la USING (shard)
    """,
)
def x_curriculum_shards(spark: SparkSession, sf: str) -> DataFrame:
    """Curriculum data ordering (operators.curation.curriculum_order):
    hashed shard assignment + within-shard ascending-quality rank — the
    distributed formulation of "order training data easy→hard" (a global
    score ntile would need a corpus-wide one-task sort; hashed shards
    make each shard an unbiased sample with its own n_shards-way
    parallel curriculum).  Reported per shard: doc/token counts, the
    first and last documents in curriculum order (min/max by
    (quality, doc_id) — the rows a training loop reads first/last), and
    the quality envelope.

    Scale: one keyed shuffle on shard + per-shard window; the report is
    a shard-keyed agg with min_by/max_by riding the same exchange.
    Quality is the raw libm-free logit (functions/text.py) — comparisons
    are bit-identical cross-engine, only the reported envelope rounds.
    """
    from ..functions.text import quality_logit, tokens
    from ..operators.curation import curriculum_order

    d = table(spark, sf, "documents")
    # token array materialized as an attribute FIRST — quality_logit's
    # filter lambdas would otherwise re-tokenize per element (the HOF
    # re-evaluation trap in the verify-skill gotcha list)
    toked = d.select("doc_id", "text", tokens("text").alias("__t"))
    scored = toked.select(
        "doc_id",
        F.size("__t").alias("n_tok"),
        quality_logit(F.col("__t"), F.col("text")).alias("quality"),
    )
    ordered = curriculum_order(scored, "quality", n_shards=8)
    return (
        ordered.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.expr("min_by(doc_id, struct(quality, doc_id))").alias("first_doc"),
            F.expr("max_by(doc_id, struct(quality, doc_id))").alias("last_doc"),
            F.round(F.min("quality"), 6).alias("q_min"),
            F.round(F.max("quality"), 6).alias("q_max"),
        )
        .select("shard", "n_docs", "n_tokens", "first_doc", "last_doc",
                "q_min", "q_max")
    )


# ---------------------------------------------------------------------------
# alternating large-star/small-star CC as an adjudicated key — the
# O(log n)-round long-diameter scale path under the same label contract
# ---------------------------------------------------------------------------


@register(
    "x_dedup_cluster_star",
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
    pairs AS (SELECT id_a, id_b FROM inter
              JOIN sz za ON za.doc_id = id_a JOIN sz zb ON zb.doc_id = id_b
              WHERE n / (za.s + zb.s - n) >= 0.6),
    edges AS (SELECT id_a AS s, id_b AS d FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    walk(node, lbl) AS (
      SELECT doc_id, doc_id FROM corpus
      UNION
      SELECT e.d, w.lbl FROM walk w JOIN edges e ON e.s = w.node),
    lab AS (SELECT node AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY node)
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           CAST(doc_id = cluster_id AS INT) AS is_canonical
    FROM lab
    """,
)
def x_dedup_cluster_star(spark: SparkSession, sf: str) -> DataFrame:
    """x_dedup_cluster's long-diameter twin: the SAME cluster contract
    (per-doc component id = component min, cluster size, canonical flag)
    over the chain-planted corpus, but labels computed by the
    ALTERNATING large-star/small-star scheme
    (operators.dedup.connected_components_star — Kiveris et al.
    SoCC'14), the O(log n)-round path a general 100 TB graph needs where
    plain min-label propagation pays diameter-many rounds.  The oracle
    is algorithm-independent (the relational reachability closure), so
    the driver adjudicates that the star fixpoint lands on exactly the
    min-label components.  Edge derivation is the GUARDED production
    mode (``max_df=10`` rare-shingle inverted index, scores exact).

    Scale: one star round = 2 window shuffles over the (shrinking) edge
    list; convergence detection is the (count, bit_xor) signature
    aggregate with the exact symmetric-difference check only at the
    detected fixpoint (SCALE.md §7h); the chain fixture's planted
    2-hop groups converge in ≤ 3 rounds, the 64-chain probe in ~6.
    """
    corpus = _doc_corpus3(spark, sf)
    edges = ngram_jaccard_pairs(corpus, threshold=0.6, max_df=10).select(
        "id_a", "id_b"
    )
    labels = connected_components_star(edges, corpus.select("doc_id"))
    w = Window.partitionBy("cluster_id")
    return labels.select(
        "doc_id",
        "cluster_id",
        F.count("*").over(w).alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).cast("int").alias("is_canonical"),
    )
