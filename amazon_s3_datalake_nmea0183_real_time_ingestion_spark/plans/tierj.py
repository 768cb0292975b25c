"""Tier J — round-7 second wave: k-core decomposition (the graph-family
completion next to CC / PageRank / LPA / triangles), an EXACT
set-similarity join via prefix filtering (the lossless counterpart of
MinHash-LSH), mergeable HyperLogLog sketch monitoring (the distributed
distinct-count primitive 100 TB dashboards are built on), and the
deterministic per-epoch training shuffle (oracle adjudication for
operators/curation.py::global_shuffle).

Every key follows the registry's cross-engine hash rules (registry.py
docstring): float64 end-to-end, round(·, N) before any rank/compare,
deterministic tie-breaks the oracle replays verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.window import Window

from ..operators.dedup import jaccard_prefix_pairs, jaccard_verify, shingle_set
from ..operators.curation import SHUFFLE_SHARDS
from ..operators.graph import copurchase_pairs, kcore
from .registry import register, table
from .tierc import _CORPUS_SQL, _SHINGLES_SQL, _TOKS_SQL, _doc_corpus

# ---------------------------------------------------------------------------
# k-core decomposition — iterative peel, fixed unrolled rounds
# ---------------------------------------------------------------------------

_KCORE_K = 80
_KCORE_ROUNDS = 8


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled DuckDB replay of ``rounds`` peel rounds at threshold ``k``
    over the part co-purchase graph — per round, survivors are the nodes
    with ≥ k neighbors inside the previous survivor set."""
    parts = ["""
    WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                FROM lineitem),
    e AS (SELECT a.pk AS u, b.pk AS v
          FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
          GROUP BY 1, 2),
    sym AS MATERIALIZED (SELECT u AS node, v AS nbr FROM e
                         UNION ALL SELECT v AS node, u AS nbr FROM e),
    act0 AS (SELECT DISTINCT node FROM sym)"""]
    for r in range(1, rounds + 1):
        parts.append(f"""
    act{r} AS MATERIALIZED (
      SELECT s.node FROM sym s
      JOIN act{r - 1} x ON x.node = s.node
      JOIN act{r - 1} y ON y.node = s.nbr
      GROUP BY s.node HAVING count(*) >= {k})""")
    return ",".join(parts) + f"""
    SELECT CAST(s.node AS BIGINT) AS node,
           CAST(count(*) AS BIGINT) AS core_deg
    FROM sym s
    JOIN act{rounds} x ON x.node = s.node
    JOIN act{rounds} y ON y.node = s.nbr
    GROUP BY s.node
    """


@register("x_kcore", oracle=_kcore_oracle(_KCORE_K, _KCORE_ROUNDS))
def x_kcore(spark: SparkSession, sf: str) -> DataFrame:
    """k-core decomposition of the part co-purchase graph (Seidman '83)
    at k = 80: iterative peeling — drop every node whose degree within
    the surviving subgraph is < k, 8 unrolled rounds — returning the
    surviving dense core and each survivor's in-core degree.  Curation
    reading: the k-core of a similarity / co-occurrence graph is its
    template-farm heart; the peel round at which a node falls out is its
    "organic periphery" depth.  Completes the graph family next to CC
    ("same group"), PageRank ("matters"), LPA ("communities") and
    triangles ("locally dense").

    k = 80 sits inside the measured peel cascade of this graph (median
    degree 115): 6 peel rounds to fixpoint at BOTH tested SFs
    (2000 → 1857 survivors at sf0.01, 20000 → 18863 at sf0.1), so the
    8-round budget returns the true k-core with two idempotent rounds of
    margin — a pytest pins fixpoint-at-8-rounds on the registered corpus.

    Scale: see operators/graph.py::kcore (incremental degree-delta
    peeling over a stored, stationary edge list).  Pair derivation is
    the shared hub-guardable
    copurchase_pairs (exhaustive here — TPC-H baskets are bounded at 7;
    the guarded twins establish the max_basket pattern).
    """
    li = table(spark, sf, "lineitem")
    edges = copurchase_pairs(li)
    out = kcore(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS)
    return out.select(F.col("node").cast("bigint").alias("node"), "core_deg")


# ---------------------------------------------------------------------------
# exact set-similarity join via prefix filtering
# ---------------------------------------------------------------------------


@register(
    "x_jaccard_prefix",
    oracle=f"""
    WITH {_CORPUS_SQL}, {_TOKS_SQL}, {_SHINGLES_SQL},
    sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)
    SELECT id_a, id_b, round(n / (za.s + zb.s - n), 4) AS jaccard
    FROM inter
    JOIN sz za ON za.doc_id = id_a
    JOIN sz zb ON zb.doc_id = id_b
    WHERE n / (za.s + zb.s - n) >= 0.6
    """,
)
def x_jaccard_prefix(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT Jaccard ≥ 0.6 set-similarity self-join over 3-shingle sets
    via PREFIX FILTERING + the PPJoin length/positional screens
    (Chaudhuri et al. ICDE'06; Bayardo et al. WWW'07 All-Pairs; Xiao et
    al. WWW'08): candidates are pairs sharing a shingle among each
    document's |x| − ceil(0.6·|x|) + 1 RAREST shingles (global
    df-ascending order), surviving the lossless length and positional
    bounds, then exact verification — provably the same pairs as the
    full inverted-index join (x_dedup_ngram, whose oracle this key
    shares): measured 169× fewer candidates at sf0.01 (83 candidates
    for 81 true pairs), 16.6× at sf0.1, identical verified output (also
    pinned by pytest equivalence against ngram_jaccard_pairs).

    The third point of the exact/approximate/lossy triangle: MinHash-LSH
    trades recall for speed probabilistically, the max_df screen drops
    boilerplate by contract — prefix filtering is LOSSLESS and exact.

    Scale (operators/dedup.py::jaccard_prefix_pairs): no dense global
    rank — the (df, shingle) tuple is the total order, so no single-task
    bottleneck; df and set-size tags ride windows over the exchanges the
    candidate and verify joins need anyway; prefixes hold each doc's
    RAREST shingles, so candidate-join buckets are rare-shingle-sized and
    boilerplate lands in prefix tails instead of exploding a hot bucket.

    DOCUMENTED BOUNDARY (measured, SCALE.md §7j): every prefix-family
    filter keys off df DISPERSION.  The sf1 perf corpus saturates its
    shingle universe (50k docs over ≤31³ ≈ 30k possible shingles, median
    df 95), and candidates degrade toward all-pairs: 39.6M prefix-only,
    10.5M after the PPJoin screens, for 2,499 true pairs.  A corpus
    whose set-element universe saturates is MinHash-LSH / df-screen
    territory (x_dedup_near / x_dedup_ngram(max_df)); exact prefix joins
    are for the heavy-tailed-df regime the oracle corpora exhibit.
    """
    return jaccard_prefix_pairs(_doc_corpus(spark, sf))


# ---------------------------------------------------------------------------
# mergeable HLL sketch monitoring — union-of-parts vs direct, vs exact
# ---------------------------------------------------------------------------


@register(
    "x_hll_union",
    oracle="""
    WITH tl AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '[[:space:]]+'),
                         x -> x <> '') AS t
      FROM documents),
    shs AS (
      SELECT DISTINCT doc_id, source, shingle FROM (
        SELECT doc_id, source,
               unnest([array_to_string(t[i:i+2], ' ')
                       for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS shingle
        FROM tl))
    SELECT source AS scope,
           CAST(count(DISTINCT shingle) AS BIGINT) AS exact_n,
           1 AS direct_ok, 1 AS merged_ok
    FROM shs GROUP BY source
    UNION ALL
    SELECT 'ALL' AS scope,
           CAST(count(DISTINCT shingle) AS BIGINT) AS exact_n,
           1 AS direct_ok, 1 AS merged_ok
    FROM shs
    """,
)
def x_hll_union(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable HyperLogLog sketch monitoring (Flajolet et al. '07;
    Apache DataSketches via Spark's native hll_sketch_agg /
    hll_union_agg): per source AND globally, the distinct-shingle count
    three ways — exact, direct sketch estimate, and the UNION of
    partial sketches built on disjoint halves of the data — each
    estimate adjudicated against exact within ±5 % (lgConfigK = 12 ⇒
    ~1.6 % stderr; worst observed 2.6 % across both SFs).  The verdict
    pattern is q_agg_approx's: the oracle replays the exact counts and
    the within-tolerance verdicts, which a broken sketch pipeline flips.

    Mergeability is THE 100 TB monitoring primitive: per-partition /
    per-day sketches are tiny (2^12 registers), persist next to the
    data, and roll up by union WITHOUT rescanning — the global row here
    is exactly that rollup (union of per-(source, half) sketches), priced
    against a direct full-scan sketch.  DataSketches union is not
    register-exact vs direct build (coupon promotion differs), so the
    contract is tolerance, not equality — both paths must land within
    ±5 % of exact.

    Scale: sketch aggregation is map-side combinable (partial state =
    one 4 KB sketch per group per partition); the rollup shuffles
    sketch-sized rows only; count_distinct appears ONLY as the
    adjudication side of this key — production reads the estimate.
    """
    d = table(spark, sf, "documents")
    sh = shingle_set(d, 3).join(
        d.select("doc_id", "source"), "doc_id"
    )
    halves = sh.withColumn("h", (F.col("doc_id") % 2).cast("int"))
    part_sketches = halves.groupBy("source", "h").agg(
        F.hll_sketch_agg("shingle", F.lit(12)).alias("sk")
    )
    merged = part_sketches.groupBy("source").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_m")
    )
    direct = sh.groupBy("source").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("shingle", F.lit(12))).alias("est_d"),
        F.count_distinct("shingle").alias("exact_n"),
    )

    def _verdicts(df: DataFrame, scope_col) -> DataFrame:
        tol = 0.05
        ok = lambda est: (  # noqa: E731
            F.abs(est - F.col("exact_n")) / F.col("exact_n") <= tol
        ).cast("int")
        return df.select(
            scope_col.alias("scope"),
            F.col("exact_n").cast("bigint").alias("exact_n"),
            ok(F.col("est_d")).alias("direct_ok"),
            ok(F.col("est_m")).alias("merged_ok"),
        )

    per_source = _verdicts(direct.join(merged, "source"), F.col("source"))
    g_direct = sh.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("shingle", F.lit(12))).alias("est_d"),
        F.count_distinct("shingle").alias("exact_n"),
    )
    g_merged = part_sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_m")
    )
    g = _verdicts(g_direct.crossJoin(g_merged), F.lit("ALL"))
    return per_source.unionByName(g)


# ---------------------------------------------------------------------------
# deterministic per-epoch training shuffle — global_shuffle adjudication
# ---------------------------------------------------------------------------

_EPOCHS = 2


@register(
    "x_shuffle_epoch",
    oracle=f"""
    WITH eps AS (SELECT unnest(range(0, {_EPOCHS})) AS epoch),
    fp AS (
      SELECT epoch, doc_id,
             md5('ep' || CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR))
               AS fp
      FROM documents CROSS JOIN eps),
    shq AS (
      SELECT epoch, doc_id, fp,
             CAST(('0x' || substr(fp, 1, 8))::BIGINT % {SHUFFLE_SHARDS} AS INT) AS shard
      FROM fp),
    posn AS (
      SELECT epoch, shard, doc_id,
             row_number() OVER (PARTITION BY epoch, shard ORDER BY fp) AS pos
      FROM shq)
    SELECT CAST(epoch AS INT) AS epoch, shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(CASE WHEN pos = 1 THEN doc_id END) AS first_doc_id,
           CAST(sum(pos * doc_id) AS BIGINT) AS order_sig
    FROM posn GROUP BY epoch, shard
    """,
)
def x_shuffle_epoch(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic per-epoch training shuffle: each epoch salts
    operators/curation.py::global_shuffle differently ('ep0', 'ep1'), so
    every epoch reads the corpus in a fresh but fully reproducible order
    — same salt → same order on any engine, any partitioning, any run
    (the property distributed training loaders need for resumable,
    bitwise-replayable epochs).  Adjudicated per (epoch, shard): row
    count (shard balance), the first document in loader order, and an
    ORDER-SENSITIVE signature Σ pos·doc_id — any transposition of two
    docs in any shard changes it, so the oracle pins the entire
    permutation, not just membership.

    Scale (global_shuffle): deliberately NOT a global row_number — the
    rank window partitions by shard, so each of SHUFFLE_SHARDS sorts
    runs independently (size it to O(cluster cores) at scale); the md5
    shuffle key is computed map-side; one shard-keyed exchange per epoch
    total.
    Epochs are independent plans — at 100 TB you materialize each
    epoch's manifest separately, exactly as done here.
    """
    from ..operators.curation import global_shuffle

    d = table(spark, sf, "documents").select("doc_id")
    parts = []
    for ep in range(_EPOCHS):
        s = global_shuffle(d, salt=f"ep{ep}")
        parts.append(s.withColumn("epoch", F.lit(ep).cast("int")))
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return (
        u.groupBy("epoch", "shard")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min(F.when(F.col("pos") == 1, F.col("doc_id"))).alias(
                "first_doc_id"
            ),
            F.sum(F.col("pos").cast("bigint") * F.col("doc_id"))
            .cast("bigint")
            .alias("order_sig"),
        )
    )


# ---------------------------------------------------------------------------
# sorted-neighborhood blocking — sort-based candidate generation
# ---------------------------------------------------------------------------

_SNM_WINDOW = 2


@register(
    "x_block_sorted",
    oracle=f"""
    WITH {_CORPUS_SQL}, {_TOKS_SQL}, {_SHINGLES_SQL},
    ranked AS (
      SELECT doc_id,
             array_to_string((list_filter(string_split_regex(lower(text),
                 '[[:space:]]+'), x -> x <> ''))[1:3], ' ') AS blk,
             lower(text) AS sort_key
      FROM corpus),
    rn AS (
      SELECT doc_id, blk,
             row_number() OVER (PARTITION BY blk ORDER BY sort_key, doc_id)
               AS rn
      FROM ranked),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM rn a JOIN rn b
        ON a.blk = b.blk AND b.rn - a.rn BETWEEN 1 AND {_SNM_WINDOW}),
    cset AS (SELECT DISTINCT least(id_a, id_b) AS id_a,
                    greatest(id_a, id_b) AS id_b FROM cand),
    sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS n
      FROM cset c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      GROUP BY c.id_a, c.id_b)
    SELECT i.id_a, i.id_b, round(i.n / (za.s + zb.s - i.n), 4) AS jaccard
    FROM inter i
    JOIN sz za ON za.doc_id = i.id_a
    JOIN sz zb ON zb.doc_id = i.id_b
    WHERE i.n / (za.s + zb.s - i.n) >= 0.6
    """,
)
def x_block_sorted(spark: SparkSession, sf: str) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo SIGMOD'95, the
    classic entity-resolution candidate generator): documents sort by
    normalized text within a BLOCK (their first-3-token prefix), and only
    rows within rank distance ≤ 2 of each other become candidates, then
    exact 3-shingle Jaccard ≥ 0.6 verification.  The sort-based third
    member of the candidate-generation family: LSH is probabilistic,
    prefix filtering is lossless-but-joins-rare-tokens, SNM is the
    cheapest of all — one keyed sort, window-bounded candidates, linear
    output — at the price of DOCUMENTED recall limits: it only sees
    pairs that agree on the block key and land within the window, the
    right tool when near-dups share prefixes (suffix-appended templates,
    version-stamped boilerplate — exactly the planted corpus shape).

    Scale: NO global sort — the rank window partitions by block key (the
    textbook SNM multi-pass answer to skew is more/different block keys,
    same plan shape); the window self-join keys on (block, rank-band),
    both plain keyed shuffles; candidates are ≤ w per row by
    construction, so verification is corpus-linear.  The same
    least/greatest canonicalization as the dedup family keeps pairs
    unordered-unique.
    """
    d = _doc_corpus(spark, sf)
    from ..functions.text import tokens as _tokens

    ranked = d.select(
        "doc_id",
        F.array_join(F.slice(_tokens("text"), 1, 3), " ").alias("blk"),
        F.lower(F.col("text")).alias("sort_key"),
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("blk").orderBy("sort_key", "doc_id")
        ),
    )
    a = ranked.select(
        F.col("doc_id").alias("id_a"), F.col("blk"), F.col("rn").alias("rn_a")
    )
    b = ranked.select(
        F.col("doc_id").alias("id_b"), F.col("blk"), F.col("rn").alias("rn_b")
    )
    cand = (
        a.join(b, "blk")
        .filter(
            (F.col("rn_b") - F.col("rn_a") >= 1)
            & (F.col("rn_b") - F.col("rn_a") <= _SNM_WINDOW)
        )
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
    )
    return jaccard_verify(shingle_set(d), cand, 0.6)


# ---------------------------------------------------------------------------
# mutual-information feature ranking — quality-classifier diagnostics
# ---------------------------------------------------------------------------

_MI_FEATURES_SQL = """
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS f_long,
             CASE WHEN regexp_matches(text, '[0-9]') THEN 1 ELSE 0 END
               AS f_digit,
             CASE WHEN len(list_filter(string_split_regex(lower(text),
                 '[[:space:]]+'), x -> x <> '')) > 60 THEN 1 ELSE 0 END
               AS f_many_tokens,
             CASE WHEN contains(lower(text), ' the ') THEN 1 ELSE 0 END
               AS f_the
      FROM documents
"""


@register(
    "x_feature_mi",
    oracle=f"""
    WITH feat AS ({_MI_FEATURES_SQL}),
    melted AS (
      SELECT y, 'f_long' AS feature, f_long AS f FROM feat
      UNION ALL SELECT y, 'f_digit', f_digit FROM feat
      UNION ALL SELECT y, 'f_many_tokens', f_many_tokens FROM feat
      UNION ALL SELECT y, 'f_the', f_the FROM feat),
    cells AS (
      SELECT feature, y, f, CAST(count(*) AS DOUBLE) AS c
      FROM melted GROUP BY feature, y, f),
    tot AS (SELECT feature, sum(c) AS n FROM cells GROUP BY feature),
    marg_y AS (SELECT feature, y, sum(c) AS cy FROM cells GROUP BY feature, y),
    marg_f AS (SELECT feature, f, sum(c) AS cf FROM cells GROUP BY feature, f)
    SELECT c.feature,
           round(sum((c.c / t.n) * ln((c.c * t.n) / (my.cy * mf.cf))), 8)
             AS mi_nats
    FROM cells c
    JOIN tot t ON t.feature = c.feature
    JOIN marg_y my ON my.feature = c.feature AND my.y = c.y
    JOIN marg_f mf ON mf.feature = c.feature AND mf.f = c.f
    GROUP BY c.feature
    """,
)
def x_feature_mi(spark: SparkSession, sf: str) -> DataFrame:
    """Mutual-information feature ranking for quality-classifier
    engineering: MI(feature; is-English) in nats for four binary text
    features (length > 300 chars, contains digit, > 60 tokens, contains
    ' the ') — the feature-selection diagnostic run before fitting
    models like x_quality_model / x_linreg_gd, and the drift monitor for
    feature-label coupling (an MI collapse means the feature stopped
    predicting the label).  Absent cells contribute 0 by the 0·ln 0
    convention — they simply never appear in the aggregation.

    Scale: one corpus scan projects the features map-side; the melt is a
    4-way union of column selections (no data blowup — Spark pushes the
    projection into each branch); everything after operates on ≤ 4·4
    cell counts — control-plane-sized aggregates, broadcast joins.  ln
    is ≤ 1 ulp on both engines; round(, 8) absorbs it (the
    x_sample_weighted convention).
    """
    d = table(spark, sf, "documents")
    from ..functions.text import token_count

    feat = d.select(
        (F.col("lang") == "en").cast("int").alias("y"),
        (F.col("n_chars") > 300).cast("int").alias("f_long"),
        F.col("text").rlike("[0-9]").cast("int").alias("f_digit"),
        (token_count("text") > 60).cast("int").alias("f_many_tokens"),
        F.lower(F.col("text")).contains(" the ").cast("int").alias("f_the"),
    )
    melted = None
    for fname in ("f_long", "f_digit", "f_many_tokens", "f_the"):
        part = feat.select(
            "y", F.lit(fname).alias("feature"), F.col(fname).alias("f")
        )
        melted = part if melted is None else melted.unionByName(part)
    cells = melted.groupBy("feature", "y", "f").agg(
        F.count("*").cast("double").alias("c")
    )
    tot = cells.groupBy("feature").agg(F.sum("c").alias("n"))
    marg_y = cells.groupBy("feature", "y").agg(F.sum("c").alias("cy"))
    marg_f = cells.groupBy("feature", "f").agg(F.sum("c").alias("cf"))
    return (
        cells.join(tot, "feature")
        .join(marg_y, ["feature", "y"])
        .join(marg_f, ["feature", "f"])
        .groupBy("feature")
        .agg(
            F.round(
                F.sum(
                    (F.col("c") / F.col("n"))
                    * F.log((F.col("c") * F.col("n")) / (F.col("cy") * F.col("cf")))
                ),
                8,
            ).alias("mi_nats")
        )
    )


# ---------------------------------------------------------------------------
# scorer agreement — Spearman rank correlation per source
# ---------------------------------------------------------------------------


@register(
    "x_scorer_spearman",
    oracle="""
    WITH scored AS (
      SELECT doc_id, source,
             n_chars AS s1,
             len(list_filter(string_split_regex(lower(text), '[[:space:]]+'),
                 x -> x <> '')) AS s2
      FROM documents),
    ranked AS (
      SELECT source,
             row_number() OVER (PARTITION BY source ORDER BY s1, doc_id)
               AS r1,
             row_number() OVER (PARTITION BY source ORDER BY s2, doc_id)
               AS r2
      FROM scored)
    SELECT source, CAST(count(*) AS BIGINT) AS n,
           round(1.0 - 6.0 * sum(CAST((r1 - r2) * (r1 - r2) AS DOUBLE))
                 / (count(*) * (CAST(count(*) AS DOUBLE) * count(*) - 1)), 8)
             AS rho
    FROM ranked GROUP BY source
    """,
)
def x_scorer_spearman(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source Spearman rank correlation between two quality scorers
    (character length vs token count): ρ = 1 − 6·Σd²/(n(n²−1)) — the
    scorer-agreement audit run when swapping a cheap heuristic scorer
    for an expensive model one (high ρ ⇒ the cheap scorer preserves the
    training-mix ordering; a per-source ρ collapse localizes where they
    disagree).  Ties are broken by doc_id on BOTH rankings, making each
    rank a total order both engines replay bit-identically (the
    deterministic-permutation variant of Spearman; with the tie-break
    stated, the statistic is exact, not approximated).

    Scale: two rank windows per source — both partitioned by source (no
    global sort), riding the SAME source-keyed exchange; d² sums are
    map-side-combinable integers; output is one row per source.  Pure
    +/×/− arithmetic (no libm), so round(, 8) is cosmetic.
    """
    from ..functions.text import token_count

    d = table(spark, sf, "documents")
    scored = d.select(
        "doc_id",
        "source",
        F.col("n_chars").alias("s1"),
        token_count("text").alias("s2"),
    )
    ranked = scored.select(
        "source",
        F.row_number()
        .over(Window.partitionBy("source").orderBy("s1", "doc_id"))
        .alias("r1"),
        F.row_number()
        .over(Window.partitionBy("source").orderBy("s2", "doc_id"))
        .alias("r2"),
    )
    n = F.count("*")
    # rank differences square in BIGINT (the oracle's row_number type):
    # int32 (r1-r2)^2 overflows ANSI-fatally once |r1-r2| >= 46341 — a
    # single source with ~50k docs and one long-unbroken-token outlier
    # (top rank on chars, bottom on tokens) hits it
    dd = F.col("r1").cast("bigint") - F.col("r2").cast("bigint")
    d2 = F.sum((dd * dd).cast("double"))
    return ranked.groupBy("source").agg(
        n.cast("bigint").alias("n"),
        F.round(
            F.lit(1.0) - F.lit(6.0) * d2 / (n * (n.cast("double") * n - F.lit(1.0))),
            8,
        ).alias("rho"),
    )


# ---------------------------------------------------------------------------
# join-cardinality estimation — CMS inner product (cost-based planning)
# ---------------------------------------------------------------------------

_JC_GRID_SQL = """
    cnt_all AS (SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS n
                FROM lineitem GROUP BY l_partkey),
    cnt_ret AS (SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS n
                FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_partkey),
    grid_all AS (
      SELECT j,
             ('0x' || substr(md5('cms' || j || ':' || CAST(k AS VARCHAR)), 1, 8))::BIGINT
               % 1024 AS bucket,
             CAST(sum(n) AS BIGINT) AS cell
      FROM cnt_all CROSS JOIN unnest(range(0, 4)) u(j)
      GROUP BY 1, 2),
    grid_ret AS (
      SELECT j,
             ('0x' || substr(md5('cms' || j || ':' || CAST(k AS VARCHAR)), 1, 8))::BIGINT
               % 1024 AS bucket,
             CAST(sum(n) AS BIGINT) AS cell
      FROM cnt_ret CROSS JOIN unnest(range(0, 4)) u(j)
      GROUP BY 1, 2),
    est_self AS (
      SELECT min(dot) AS est FROM (
        SELECT j, sum(cell * cell) AS dot FROM grid_all GROUP BY j)),
    est_ab AS (
      SELECT min(dot) AS est FROM (
        SELECT a.j, sum(a.cell * b.cell) AS dot
        FROM grid_all a JOIN grid_ret b ON b.j = a.j AND b.bucket = a.bucket
        GROUP BY a.j)),
    exact_self AS (SELECT CAST(sum(n * n) AS BIGINT) AS x FROM cnt_all),
    exact_ab AS (
      SELECT CAST(sum(a.n * b.n) AS BIGINT) AS x
      FROM cnt_all a JOIN cnt_ret b ON b.k = a.k)
"""


@register(
    "x_join_card",
    oracle=f"""
    WITH {_JC_GRID_SQL}
    SELECT 'self_join_partkey' AS scope, x.x AS exact_rows,
           CAST(e.est AS BIGINT) AS est,
           CAST(e.est - x.x AS BIGINT) AS overcount,
           CAST(e.est >= x.x AS INT) AS is_overestimate
    FROM exact_self x, est_self e
    UNION ALL
    SELECT 'returned_join_partkey', x.x, CAST(e.est AS BIGINT),
           CAST(e.est - x.x AS BIGINT), CAST(e.est >= x.x AS INT)
    FROM exact_ab x, est_ab e
    """,
)
def x_join_card(spark: SparkSession, sf: str) -> DataFrame:
    """Join-cardinality estimation from count-min sketches (Cormode &
    Muthukrishnan '05 §4.2 — the CMS form of the AMS inner-product /
    self-join-size estimator, the primitive cost-based planners use to
    price a join WITHOUT running it): |A ⋈ B on k| = Σ_k fA(k)·fB(k),
    estimated as min over grid rows of the bucket-wise cell dot product.
    Two adjudicated scopes on the l_partkey frequency vectors — the
    lineitem SELF-join size (Σ c², the F2 moment: the quantity that
    prices every pair-generating dedup/graph derivation in this repo)
    and lineitem ⋈ returned-lineitem — each with exact recount,
    overcount, and the never-underestimates invariant as a checked
    column (collisions only add non-negative cross terms per row).
    Cross-engine md5 buckets make the oracle replay both grids and both
    estimates bit-identically: real numbers, not tolerance verdicts
    (the x_heavy_hitters convention).

    Scale (operators/sketches.py::cms_inner_product): the grids build
    map-side-combinably (≤ depth·width partial counters per partition —
    sketch-sized shuffles at any relation size) and could be persisted
    per-partition and rolled up by cell-sum (CMS is mergeable); the
    estimate itself is a ≤4,096-row join — control-plane.  The exact
    sides exist only as this key's audit, exactly like x_heavy_hitters'
    recount.

    ACCURACY CAVEAT (measured, pytest-pinned): the CMS guarantee is
    ADDITIVE — est ≤ exact + ε·|A|·|B| with ε = e/width — so relative
    error is small only when the inner product is dominated by heavy
    hitters (Zipfian keys, the x_heavy_hitters domain).  TPC-H partkey
    frequencies are FLAT (~30 occurrences each, 2k–20k keys over 1,024
    buckets), so the collision term dominates: est ≈ 20× exact at
    sf0.1, comfortably inside the ε bound (overcount 3.5e8 vs bound
    9.6e8) but useless as a point estimate.  The planner reading: a
    within-ε-bound answer from KB-sized state — width must grow with
    distinct-key count for tight flat-distribution estimates, or use
    the exact count table when keys are vocabulary-sized anyway.
    """
    from ..operators.sketches import cms_from_counts, cms_inner_product

    li = table(spark, sf, "lineitem")
    cnt_all = li.groupBy(F.col("l_partkey").alias("k")).agg(
        F.count("*").alias("n")
    )
    cnt_ret = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy(F.col("l_partkey").alias("k"))
        .agg(F.count("*").alias("n"))
    )
    grid_all = cms_from_counts(cnt_all, "k", "n")
    grid_ret = cms_from_counts(cnt_ret, "k", "n")

    def scoped(scope: str, exact_df: DataFrame, est_df: DataFrame) -> DataFrame:
        return (
            exact_df.crossJoin(est_df)
            .select(
                F.lit(scope).alias("scope"),
                F.col("x").cast("bigint").alias("exact_rows"),
                F.col("est").cast("bigint").alias("est"),
                (F.col("est") - F.col("x")).cast("bigint").alias("overcount"),
                (F.col("est") >= F.col("x")).cast("int").alias("is_overestimate"),
            )
        )

    exact_self = cnt_all.agg(F.sum(F.col("n") * F.col("n")).alias("x"))
    exact_ab = (
        cnt_all.alias("a")
        .join(cnt_ret.alias("b"), "k")
        .agg(F.sum(F.col("a.n") * F.col("b.n")).alias("x"))
    )
    return scoped("self_join_partkey", exact_self, cms_inner_product(grid_all, grid_all)).unionByName(
        scoped("returned_join_partkey", exact_ab, cms_inner_product(grid_all, grid_ret))
    )


# ---------------------------------------------------------------------------
# unbiased F2 — Count-Sketch companion to x_join_card's CMS bound
# ---------------------------------------------------------------------------


@register(
    "x_f2_countsketch",
    oracle="""
    WITH cnt AS (SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS n
                 FROM lineitem GROUP BY l_partkey),
    cells AS (
      SELECT j,
             ('0x' || substr(md5('csb' || j || ':' || CAST(k AS VARCHAR)), 1, 8))::BIGINT
               % 1024 AS bucket,
             CAST(sum(((('0x' || substr(md5('cs' || j || ':' || CAST(k AS VARCHAR)), 1, 8))::BIGINT
                        % 2) * 2 - 1) * n) AS BIGINT) AS cell
      FROM cnt CROSS JOIN unnest(range(0, 4)) u(j)
      GROUP BY 1, 2),
    rows_est AS (
      SELECT j, CAST(sum(cell * cell) AS BIGINT) AS est
      FROM cells GROUP BY j),
    exact AS (SELECT CAST(sum(n * n) AS BIGINT) AS x FROM cnt)
    SELECT CAST(r.j AS INT) AS row_j, r.est,
           e.x AS exact_f2,
           round(CAST(r.est - e.x AS DOUBLE) / e.x, 6) AS rel_err
    FROM rows_est r CROSS JOIN exact e
    UNION ALL
    SELECT -1 AS row_j, CAST(avg(r.est) AS BIGINT) AS est,
           any_value(e.x) AS exact_f2,
           round((avg(r.est) - any_value(e.x)) / any_value(e.x), 6) AS rel_err
    FROM rows_est r CROSS JOIN exact e
    """,
)
def x_f2_countsketch(spark: SparkSession, sf: str) -> DataFrame:
    """UNBIASED self-join-size / second-frequency-moment estimation via
    Count-Sketch (Charikar et al. ICALP'02; the bucketized AMS'96 sign
    estimator) on the l_partkey frequency vector: per grid row j the
    estimate Σ_bucket cell² (random signs cancel collision cross terms
    in expectation — E[est_j] = Σ c² exactly), plus the 4-row average as
    row_j = −1, each with the exact recount and signed relative error.
    The designed companion to x_join_card: CMS's all-positive collisions
    overshoot flat distributions by the additive ε·(Σf)² term (measured
    ~20×), while Count-Sketch's relative error is ~sqrt(2/width) ≈ 4.4 %
    per row regardless of how flat the frequencies are — measured
    single-digit-percent on the same corpus where CMS was 20× over.
    Per-row estimates are exposed precisely so the variance story is
    visible, not averaged away.

    Scale (operators/sketches.py::countsketch_from_counts/_f2): identical
    economics to the CMS keys — sign·count cells build with one
    map-side-combinable sketch-sized shuffle, merge by cell-sum, and the
    estimate reads ≤ depth·width rows.  Signs and buckets come from
    INDEPENDENT md5 hashes ('cs' / 'csb' salts), so the oracle replays
    the grid and every estimate bit-identically — real numbers, not
    tolerance verdicts.
    """
    from ..operators.sketches import countsketch_f2, countsketch_from_counts

    li = table(spark, sf, "lineitem")
    cnt = li.groupBy(F.col("l_partkey").alias("k")).agg(
        F.count("*").alias("n")
    )
    grid = countsketch_from_counts(cnt, "k", "n")
    rows_est = countsketch_f2(grid)
    exact = cnt.agg(F.sum(F.col("n") * F.col("n")).alias("x"))
    per_row = rows_est.crossJoin(exact).select(
        F.col("j").cast("int").alias("row_j"),
        F.col("est").cast("bigint").alias("est"),
        F.col("x").cast("bigint").alias("exact_f2"),
        F.round((F.col("est") - F.col("x")).cast("double") / F.col("x"), 6).alias(
            "rel_err"
        ),
    )
    mean_row = (
        rows_est.agg(F.avg("est").alias("__m"))
        .crossJoin(exact)
        .select(
            F.lit(-1).cast("int").alias("row_j"),
            F.col("__m").cast("bigint").alias("est"),
            F.col("x").cast("bigint").alias("exact_f2"),
            F.round((F.col("__m") - F.col("x")) / F.col("x"), 6).alias("rel_err"),
        )
    )
    return per_row.unionByName(mean_row)
