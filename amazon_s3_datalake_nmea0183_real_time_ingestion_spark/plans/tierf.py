"""Tier F — round-5 training-data curation extensions: corpus novelty
scoring (first-occurrence n-gram fraction), hard-negative mining for
contrastive training, label-propagation community detection, exact
long-substring dedup (fixed-window formulation of suffix-array dedup),
and temperature-scaled domain mixture weights.

Every key follows the registry's cross-engine hash rules (registry.py
docstring).  Techniques are from the public literature: substring-level
training-data dedup (Lee et al., ACL'22 "Deduplicating Training Data
Makes Language Models Better"), synchronous label propagation (Raghavan
et al., 2007), temperature-based multilingual/domain sampling (the
p_s^alpha mixture rule popularized by multilingual pretraining), and
hard-negative mining as used in dense-retrieval training.

Scale notes (100 TB design point) are on each key's docstring — the
common theme carried over from Tiers C-E: candidate generation bucketed
or keyed (never all-pairs), dimension-sized sides broadcast, global
top-k via TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import md5_u32
from ..functions.text import tokens
from ..operators.dedup import shingle_set
from ..operators.similarity import _ranked_topk, pair_cosine, prep_vectors
from ..storage import stored
from .registry import register, table
from .tierc import _CORPUS_SQL, _SHINGLES_SQL, _TOKS_SQL, _doc_corpus
from .tierd import _basket_screen_sql

# ---------------------------------------------------------------------------
# corpus novelty — first-occurrence n-gram fraction
# ---------------------------------------------------------------------------


@register(
    "x_novelty",
    oracle=f"""
    WITH {_CORPUS_SQL},
    {_TOKS_SQL},
    {_SHINGLES_SQL},
    first AS (SELECT shingle, min(doc_id) AS first_doc
              FROM sh GROUP BY shingle)
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN s.doc_id = f.first_doc THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           round(sum(CASE WHEN s.doc_id = f.first_doc THEN 1 ELSE 0 END)
                 / count(*), 4) AS novelty
    FROM sh s JOIN first f ON f.shingle = s.shingle
    GROUP BY s.doc_id
    """,
)
def x_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-order novelty score: per document, the fraction of its
    distinct 3-gram shingles whose FIRST occurrence (min doc_id across
    the corpus) is this document.  A fresh document scores ~1; a late
    near-copy scores ~0 (the planted ``+1000000`` dups score ≈ 0 — only
    their suffix-boundary shingles are new); templated/boilerplate-heavy
    docs sit in between.  This is the dedup-adjacent CURATION signal:
    instead of dropping duplicates, weight or sort by how much each doc
    adds to what the corpus already contains (the greedy objective
    behind coverage-maximizing data selection).

    Scale: one shingle-keyed shuffle computes first occurrences (min agg,
    map-side combinable); the join back to (doc, shingle) rides the SAME
    shingle partitioning (ReuseExchange); the per-doc rollup is a second
    keyed agg — exactly the x_text_tfidf shuffle shape, linear in corpus
    size.  "First" is defined by doc_id (ingest order), so the score is
    deterministic and append-stable: adding new docs never changes an
    existing doc's novelty (min over a growing set can only be claimed
    by LOWER ids, which don't arrive later).
    """
    corpus = _doc_corpus(spark, sf)
    sh = shingle_set(corpus, k=3)
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    novel = (F.col("doc_id") == F.col("first_doc")).cast("long")
    return (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(novel).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_shingles"), 4).alias("novelty"),
        )
    )


# ---------------------------------------------------------------------------
# hard-negative mining — nearest neighbors OUTSIDE the query's class
# ---------------------------------------------------------------------------


@register(
    "x_hard_negatives",
    oracle="""
    SELECT query_id, neighbor_id, rank, sim FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
                        c.vec_id ASC) AS INT) AS rank,
             round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS sim
      FROM embeddings q JOIN embeddings c ON c.label <> q.label
      WHERE q.vec_id < 10
        AND list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]) > 0
        AND list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]) > 0) t
    WHERE rank <= 5
    """,
)
def x_hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training: for each
    query vector, the top-5 most cosine-similar corpus vectors with a
    DIFFERENT label — the "closest wrong answers" that make the best
    negatives (random negatives are trivially separable; hard negatives
    carry the gradient).  The label inequality is the only change vs
    x_sim_topk's plain ANN: same broadcast-query scoring, same rounded
    sims, same id tie-break.

    Scale: identical economics to cosine_topk — the corpus side stays
    partitioned and is scored in place against the broadcast query set
    (queries carry their label in the same broadcast row), the label
    filter is evaluated map-side BEFORE ranking, and per-query top-5
    resolves via per-partition window heaps.  For query sets too big to
    broadcast, mine within IVF cells (ivf_topk) or sign-random-projection
    LSH buckets (lsh_topk) — keyed joins, no broadcast query side — and
    accept approximate negatives, the standard production trade.
    """
    e = table(spark, sf, "embeddings")
    q = prep_vectors(
        e.filter(F.col("vec_id") < 10), "vec_id", "embedding",
        "query_id", "qd", "qn", extra=[F.col("label").alias("qlab")],
    )
    c = prep_vectors(
        e, "vec_id", "embedding", "neighbor_id", "cd", "cn",
        extra=[F.col("label").alias("nlab")],
    )
    scored = (
        # the query set: a fixed id range, estimated from the embeddings scan
        c.crossJoin(F.broadcast(q))
        .filter(F.col("nlab") != F.col("qlab"))
        .select("query_id", "neighbor_id", pair_cosine().alias("sim"))
    )
    out = _ranked_topk(scored, k=5)
    return out.withColumn("rank", F.col("rank").cast("int"))


# ---------------------------------------------------------------------------
# label propagation — community detection on the co-purchase graph
# ---------------------------------------------------------------------------


def _lpa_oracle(max_basket: int | None = None) -> str:
    """2-iteration LPA census oracle, generated from the same basket
    screen as the engine path so guard and oracle cannot drift."""
    return f"""
    WITH {_basket_screen_sql(max_basket)},
    und AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    edges AS (SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und),
    l1 AS (SELECT node, lbl FROM (
      SELECT e.u AS node, e.v AS lbl, count(*) AS c,
             row_number() OVER (PARTITION BY e.u
                                ORDER BY count(*) DESC, e.v ASC) AS rn
      FROM edges e GROUP BY e.u, e.v) t WHERE rn = 1),
    l2 AS (SELECT node, lbl FROM (
      SELECT e.u AS node, l1.lbl AS lbl, count(*) AS c,
             row_number() OVER (PARTITION BY e.u
                                ORDER BY count(*) DESC, l1.lbl ASC) AS rn
      FROM edges e JOIN l1 ON l1.node = e.v
      GROUP BY e.u, l1.lbl) t WHERE rn = 1)
    SELECT CAST(lbl AS BIGINT) AS community,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM l2 GROUP BY lbl
    ORDER BY n_nodes DESC, community ASC
    LIMIT 50
    """


@register("x_lpa", oracle=_lpa_oracle())
def x_lpa(spark: SparkSession, sf: str) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007), 2 unrolled
    iterations over the part co-purchase graph: every node starts as its
    own community, then repeatedly adopts its neighbors' most frequent
    label (ties → smallest label, making the sweep deterministic —
    classic LPA breaks ties randomly).  Output: the 50 largest
    communities by member count.  Community structure is the third graph
    signal next to x_pagerank (global influence) and q_triangle_count
    (local density); on a co-purchase graph communities ≈ product
    categories.

    Scale: per iteration, ONE join of the edge list against the k-row
    label frame (both keyed by node — the label side is node-sized, far
    smaller than edges) and one (node, label)-keyed count with a
    WindowGroupLimit-style rank-1 pick riding the same shuffle; the edge
    list is stored once and reused across both iterations and the
    node-derivation.
    Iterations are a fixed unroll (2), not driver-side convergence
    polling; the final community census is one keyed count + global
    top-50 via TakeOrderedAndProject.
    """
    from ..operators.graph import copurchase_pairs

    li = table(spark, sf, "lineitem")
    return lpa_top50(copurchase_pairs(li))


def lpa_top50(und: DataFrame) -> DataFrame:
    """2-iteration synchronous LPA community census body over an
    undirected (u, v) edge list (algorithm notes on x_lpa) — shared by
    the exhaustive key and the max_basket-guarded twin (tierh)."""
    # store BELOW the symmetrization (r14): storing the union would
    # execute the pair-derivation subtree in both branches on first use
    # and store 2× the bytes (see connected_components); the swap union
    # over stored pair blocks is two shuffle-free projections per use.
    und = stored(und)
    edges = und.unionAll(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # init: every node is its own community
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
    )
    for _ in range(2):
        # node-sized labels, grown with the graph; the shuffled-hash hint
        # stays on a measurement: without it the planner broadcasts the
        # labels and x_lpa took 7.67 s vs 5.40 s (medians of 2 alternating
        # pairs, sf0.1, 4 cores; r14: 6.8 s with sort-merge, 2.3 s with it)
        nbr = edges.join(
            labels.withColumnRenamed("node", "v").hint("shuffle_hash"), "v"
        ).select(F.col("u").alias("node"), "lbl")
        cnt = nbr.groupBy("node", "lbl").agg(F.count("*").alias("c"))
        w = Window.partitionBy("node").orderBy(F.col("c").desc(), F.col("lbl").asc())
        labels = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "lbl")
        )
    return (
        labels.groupBy("lbl")
        .agg(F.count("*").alias("n_nodes"))
        .select(F.col("lbl").cast("long").alias("community"), "n_nodes")
        .orderBy(F.col("n_nodes").desc(), F.col("community").asc())
        .limit(50)
    )


# ---------------------------------------------------------------------------
# exact long-substring dedup — fixed-window formulation
# ---------------------------------------------------------------------------


@register(
    "x_dedup_substring",
    oracle=f"""
    WITH {_CORPUS_SQL},
    {_TOKS_SQL},
    win AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest([array_to_string(t[i:i+19], ' ')
                       for i in range(1, greatest(len(t) - 19, 1) + 1)]) AS shingle
        FROM toks)),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
      FROM win a JOIN win b
        ON b.shingle = a.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT id_a, id_b, CAST(n AS BIGINT) AS n_shared_windows
    FROM pairs
    """,
)
def x_dedup_substring(spark: SparkSession, sf: str) -> DataFrame:
    """Exact long-substring dedup, fixed-window formulation (Lee et al.
    ACL'22): two documents sharing any identical 20-token window share a
    ≥20-token verbatim substring — the memorization-relevant overlap that
    document-level near-dup scores dilute (a 2000-token doc quoting 30
    tokens verbatim has Jaccard ≈ 0.015, invisible to every resemblance
    threshold).  A run of c consecutive matching 20-grams = one shared
    (c+19)-token substring, so ``n_shared_windows`` is a length proxy for
    the longest common run.  The suffix-array formulation finds ALL
    lengths ≥ threshold; fixing the window at the threshold length keeps
    the operator a pure set-intersection — the same inverted-index shape
    as every other dedup key — at the cost of not reporting overlaps
    SHORTER than 20 tokens (which substring dedup ignores anyway).

    Scale: identical economics to ngram_intersection_pairs at k=20 —
    one window-hash-keyed self-join; 20-grams are near-unique organically
    (collisions ≈ only true verbatim quotes), so buckets are tiny and the
    join output is duplication-sized, not corpus²; a boilerplate window
    shared by thousands of docs is exactly what the max_df guard screens
    (apply ``shingle df ≤ max_df`` upstream as in containment — at driver
    scale the exhaustive mode IS the oracle mode).  Production hashes the
    window (xxhash64) instead of shipping 20-token strings through the
    shuffle; md5 portability note in SCALE.md §8.
    """
    corpus = _doc_corpus(spark, sf)
    win = shingle_set(corpus, k=20)
    wa = win.select(F.col("doc_id").alias("id_a"), "shingle")
    wb = win.select(F.col("doc_id").alias("id_b"), "shingle")
    return (
        wa.join(wb, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared_windows"))
    )


@register(
    "x_dedup_substring_guarded",
    oracle=f"""
    WITH {_CORPUS_SQL},
    {_TOKS_SQL},
    win AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest([array_to_string(t[i:i+19], ' ')
                       for i in range(1, greatest(len(t) - 19, 1) + 1)]) AS shingle
        FROM toks)),
    rare AS (SELECT shingle FROM win GROUP BY shingle HAVING count(*) <= 10),
    rw AS (SELECT w.doc_id, w.shingle
           FROM win w JOIN rare r ON r.shingle = w.shingle),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
      FROM rw a JOIN rw b
        ON b.shingle = a.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT id_a, id_b, CAST(n AS BIGINT) AS n_shared_windows
    FROM pairs
    """,
)
def x_dedup_substring_guarded(spark: SparkSession, sf: str) -> DataFrame:
    """x_dedup_substring with the boilerplate guard ON (``max_df=10``) —
    the PRODUCTION substring-dedup configuration, completing the
    guarded-twin set (best/cluster/containment/semantic/substring).  A
    20-token window shared by MORE than max_df documents is license
    chrome, legal boilerplate, or a templated header — exactly the
    windows whose inverted-index bucket goes quadratic (df² pairs from a
    single string) and exactly the overlap substring dedup should NOT
    act on (dropping every doc that carries a common license header is a
    recall disaster in the other direction).  Windows over the df cap
    are excluded BEFORE the self-join, so ``n_shared_windows`` counts
    rare (distinctive) windows only — a pair whose every shared window
    is boilerplate disappears, which is the intended screen.  At driver
    scale no organic window exceeds df=10 (the planted suffix copies
    share df=2 windows), so the output is IDENTICAL to the exhaustive
    twin — the same losslessness demonstration as the containment pair.

    Scale: the df tag is one window over the shingle shuffle the
    self-join needs anyway (the ngram_intersection_pairs trick); the
    worst bucket is bounded at max_df² pairs.
    """
    corpus = _doc_corpus(spark, sf)
    win = shingle_set(corpus, k=20)
    w_sh = Window.partitionBy("shingle")
    rare = (
        win.withColumn("__df", F.count("*").over(w_sh))
        .filter(F.col("__df") <= 10)
        .drop("__df")
    )
    wa = rare.select(F.col("doc_id").alias("id_a"), "shingle")
    wb = rare.select(F.col("doc_id").alias("id_b"), "shingle")
    return (
        wa.join(wb, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared_windows"))
    )


# ---------------------------------------------------------------------------
# DSIR — hashed-feature importance weighting toward a target domain
# ---------------------------------------------------------------------------


@register(
    "x_dsir",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
             unnest(list_filter(string_split_regex(lower(text), '[[:space:]]+'),
                                x -> x <> '')) AS tok
      FROM documents),
    tb AS (SELECT doc_id,
                  (('0x' || substr(md5(tok), 1, 8))::BIGINT) % 256 AS bucket,
                  CASE WHEN source IN ('src0', 'src1', 'src2')
                       THEN 1 ELSE 0 END AS is_t
           FROM toks),
    bs AS (SELECT bucket,
                  CAST(sum(is_t) AS BIGINT) AS n_t,
                  CAST(count(*) AS BIGINT) AS n_r
           FROM tb GROUP BY bucket),
    tot AS (SELECT sum(n_t) AS t_t, sum(n_r) AS t_r FROM bs),
    lr AS (SELECT bucket,
                  ln(((n_t + 0.5) / (t_t + 128.0))
                     / ((n_r + 0.5) / (t_r + 128.0))) AS logratio
           FROM bs CROSS JOIN tot)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(l.logratio), 6) AS dsir_score
    FROM tb t JOIN lr l ON l.bucket = t.bucket
    GROUP BY t.doc_id
    """,
)
def x_dsir(spark: SparkSession, sf: str) -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al., NeurIPS'23),
    hashed-feature formulation: score every raw document by how much its
    token distribution looks like a TARGET domain (here: sources
    src0-src2 as the curated stand-in) versus the raw corpus — per-doc
    mean log(p_target(bucket)/p_raw(bucket)) over 256 hashed unigram
    buckets with +0.5 Laplace smoothing.  High scorers are what
    importance resampling keeps when curating pretraining data toward a
    quality domain; the hashing makes the "language model" a fixed-size
    count table instead of an open vocabulary.

    Scale: the feature "model" is BUCKET-sized (256 rows) no matter how
    big either corpus is — one explode + bucket-keyed count builds it,
    a 1-row broadcast adds the normalizers, and scoring is a broadcast
    join back to the token stream followed by a doc-keyed mean: two
    map-side-combinable aggs and zero corpus-sized shuffles beyond the
    doc rollup.  Raising the bucket count or moving to hashed bigrams
    (the paper uses 10k buckets) changes only the broadcast size.
    Deterministic: the md5 bucket hash is the engine-portable hashing
    used by every fingerprint key (functions/hashing.py).
    """
    d = table(spark, sf, "documents")
    tb = d.select(
        "doc_id",
        F.explode(tokens("text")).alias("tok"),
        F.col("source").isin("src0", "src1", "src2").cast("long").alias("is_t"),
    ).select(
        "doc_id", F.pmod(md5_u32(F.col("tok")), F.lit(256)).alias("bucket"), "is_t"
    )
    bs = tb.groupBy("bucket").agg(
        F.sum("is_t").alias("n_t"), F.count("*").alias("n_r")
    )
    tot = bs.agg(F.sum("n_t").alias("t_t"), F.sum("n_r").alias("t_r"))
    logratio = F.log(
        ((F.col("n_t") + 0.5) / (F.col("t_t") + 128.0))
        / ((F.col("n_r") + 0.5) / (F.col("t_r") + 128.0))
    )
    lr = bs.crossJoin(tot).select("bucket", logratio.alias("logratio"))
    return (
        # 256 buckets; estimated from the exploded token stream
        tb.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("logratio"), 6).alias("dsir_score"),
        )
    )


# ---------------------------------------------------------------------------
# label-noise detection — kNN majority vote against the assigned label
# ---------------------------------------------------------------------------


@register(
    "x_label_noise",
    oracle="""
    WITH ncorpus AS (
      SELECT vec_id, embedding,
             CASE WHEN vec_id < 10 THEN (label + 1) % 10 ELSE label END AS label
      FROM embeddings),
    knn AS (
      SELECT query_id, nlab FROM (
        SELECT q.vec_id AS query_id, c.label AS nlab,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
                          c.vec_id ASC) AS rank
        FROM ncorpus q JOIN ncorpus c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 100
          AND list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]) > 0
          AND list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]) > 0) t
      WHERE rank <= 5),
    maj AS (
      SELECT query_id, nlab, cnt FROM (
        SELECT query_id, nlab, count(*) AS cnt,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY count(*) DESC, nlab ASC) AS rn
        FROM knn GROUP BY query_id, nlab) t
      WHERE rn = 1)
    SELECT n.vec_id, n.label AS own_label, m.nlab AS knn_label,
           CAST(m.cnt AS INT) AS n_votes,
           CASE WHEN m.nlab <> n.label THEN 1 ELSE 0 END AS mislabeled
    FROM ncorpus n JOIN maj m ON m.query_id = n.vec_id
    """,
)
def x_label_noise(spark: SparkSession, sf: str) -> DataFrame:
    """kNN label-noise detection (the classic Wilson-editing / confident-
    learning screen): every vector's 5 nearest neighbors vote; a row
    whose majority neighbor label disagrees with its ASSIGNED label is
    flagged as probable annotation noise.  The fixture plants 10
    mislabeled rows (vec_id < 10 get label+1 mod 10) — their neighbors
    still carry the true cluster label, so the vote flags them while
    correctly-labeled rows stay quiet.  This is the labeled-data QA
    operator next to the unlabeled-data screens (dedup, quality,
    outliers): fine-tuning and classifier corpora die from label noise,
    not duplication.

    The key audits ONE SLICE (vec_id < 100 — the newly-annotated batch)
    against the full labeled corpus, which is the production cadence:
    screening every row every run is the corpus × corpus product, and
    the first registration did exactly that — 29 s at sf0.1 through the
    per-pair fold, quadratic beyond.  Batch-vs-corpus keeps the query
    side broadcast-sized; a full-corpus sweep, too big to broadcast,
    votes within IVF cells (ivf_topk) or LSH buckets (lsh_topk) for
    approximate screening — the identical trade documented on
    x_hard_negatives.  The vote
    itself is one (query, label) count plus a rank-1 window riding the
    same shuffle; the planted-label CASE is map-side.
    """
    e = table(spark, sf, "embeddings")
    nc = e.select(
        "vec_id",
        "embedding",
        F.when(F.col("vec_id") < 10, (F.col("label") + 1) % 10)
        .otherwise(F.col("label"))
        .alias("label"),
    )
    q = prep_vectors(
        nc.filter(F.col("vec_id") < 100), "vec_id", "embedding",
        "query_id", "qd", "qn",
    )
    c = prep_vectors(
        nc, "vec_id", "embedding", "neighbor_id", "cd", "cn",
        extra=[F.col("label").alias("nlab")],
    )
    scored = (
        # the query set: a fixed id range, estimated from the embeddings scan
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "nlab", pair_cosine().alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    knn = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "nlab")
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cnt").desc(), F.col("nlab").asc()
    )
    maj = (
        knn.groupBy("query_id", "nlab")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
    )
    return (
        nc.select("vec_id", F.col("label").alias("own_label"))
        .join(maj, F.col("vec_id") == F.col("query_id"))
        .select(
            "vec_id",
            "own_label",
            F.col("nlab").alias("knn_label"),
            F.col("cnt").cast("int").alias("n_votes"),
            (F.col("nlab") != F.col("own_label")).cast("int").alias("mislabeled"),
        )
    )


# ---------------------------------------------------------------------------
# temperature-scaled domain mixture
# ---------------------------------------------------------------------------


@register(
    "x_data_temperature",
    oracle="""
    WITH cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
                 FROM documents GROUP BY source),
    z AS (SELECT sum(pow(n_docs, 0.7)) AS z FROM cnt)
    SELECT source, n_docs,
           round(pow(n_docs, 0.7) / z, 6) AS weight,
           round(1000 * pow(n_docs, 0.7) / z, 2) AS expected_1k
    FROM cnt CROSS JOIN z
    """,
)
def x_data_temperature(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-scaled domain mixture (the p_s ∝ n_s^α rule, α = 0.7,
    from multilingual-pretraining sampling): per source, the sampling
    weight n^α / Σ n^α and the expected document count in a 1000-doc
    budget.  α < 1 flattens the head (big domains are down-weighted
    sub-linearly) while preserving ordering — the standard fix for
    web-crawl domination over small high-value sources.  Complements the
    C7 family: x_data_mix applies FIXED per-domain rates, x_domain_quota
    applies FIXED per-domain counts; this key COMPUTES the rates from
    the observed counts, closing the loop (its output is exactly the
    rate table a mix_downsample run would consume).

    Scale: one source-keyed count (map-side combinable), then the
    normalizer is a 1-row broadcast crossJoin — domain-cardinality-sized
    work at any corpus size; the heavy input scan prunes to the single
    ``source`` column.
    """
    d = table(spark, sf, "documents")
    cnt = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    z = cnt.agg(F.sum(F.pow(F.col("n_docs"), F.lit(0.7))).alias("z"))
    w = F.pow(F.col("n_docs"), F.lit(0.7)) / F.col("z")
    return cnt.crossJoin(z).select(
        "source",
        "n_docs",
        F.round(w, 6).alias("weight"),
        F.round(F.lit(1000) * w, 2).alias("expected_1k"),
    )
