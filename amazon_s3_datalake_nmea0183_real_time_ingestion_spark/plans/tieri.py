"""Tier I — round-7 wave: product quantization for the vector store
(codes + reconstruction audit, ADC search recall), a heavy-hitters
sketch with exact-recount adjudication, and BPE vocabulary learning —
the remaining storage/monitoring/tokenizer workloads of the 100 TB
training-data pipeline (VERDICT r6 "Next round" #3-5).

Every key follows the registry's cross-engine hash rules (registry.py
docstring): float64 end-to-end, round(·, 6) before any rank/compare,
deterministic tie-breaks the oracle replays verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..operators.bpe import BPE_ROUNDS
from ..operators.pq import pq_encode_blas, pq_report, pq_train
from ..operators.regression import GD_LR, GD_ROUNDS
from ..operators.similarity import (
    _ranked_topk,
    cosine_topk,
    pair_cosine,
    prep_vectors,
)
from ..operators.sketches import cms_estimate, cms_from_counts
from .registry import register, table

# ---------------------------------------------------------------------------
# product quantization — m=8 subspace codebooks over the 64-dim store
# ---------------------------------------------------------------------------

# Shared PQ derivation (dim 64, m=8 subspaces of 8, ksub=16 codewords,
# deterministic lowest-id seeding + ONE Lloyd round — operators/pq.py):
# sub-vectors -> seed assignment -> per-(subspace, code, pos) means ->
# final assignment + reconstruction.  Both PQ oracles build on it.
_PQ_SQL = """
    sub AS (
      SELECT vec_id, s, (embedding::DOUBLE[])[s*8+1 : s*8+8] AS sv
      FROM embeddings CROSS JOIN unnest(range(0, 8)) u(s)),
    seed AS (SELECT s, CAST(vec_id AS INT) AS code_id, sv AS cw
             FROM sub WHERE vec_id < 16),
    a0 AS (
      SELECT vec_id, s, sv, code_id FROM (
        SELECT b.vec_id, b.s, b.sv, d.code_id,
               row_number() OVER (PARTITION BY b.vec_id, b.s
                 ORDER BY round(list_sum([ (b.sv[i] - d.cw[i]) * (b.sv[i] - d.cw[i])
                                           for i in range(1, 9) ]), 6) ASC,
                          d.code_id ASC) AS rn
        FROM sub b JOIN seed d ON d.s = b.s) t
      WHERE rn = 1),
    cb1 AS (
      SELECT s, code_id, p, round(avg(sv[p]), 6) AS mval
      FROM a0 CROSS JOIN unnest(range(1, 9)) u(p)
      GROUP BY s, code_id, p),
    cbv AS (SELECT s, code_id, list(mval ORDER BY p) AS cw
            FROM cb1 GROUP BY s, code_id),
    a1 AS (
      SELECT vec_id, s, code_id FROM (
        SELECT b.vec_id, b.s, c.code_id,
               row_number() OVER (PARTITION BY b.vec_id, b.s
                 ORDER BY round(list_sum([ (b.sv[i] - c.cw[i]) * (b.sv[i] - c.cw[i])
                                           for i in range(1, 9) ]), 6) ASC,
                          c.code_id ASC) AS rn
        FROM sub b JOIN cbv c ON c.s = b.s) t
      WHERE rn = 1),
    recon AS (
      SELECT a1.vec_id,
             array_to_string(list(a1.code_id ORDER BY a1.s), '-') AS codes,
             flatten(list(c.cw ORDER BY a1.s)) AS xq
      FROM a1 JOIN cbv c ON c.s = a1.s AND c.code_id = a1.code_id
      GROUP BY a1.vec_id)
"""


@register(
    "x_embed_pq",
    oracle=f"""
    WITH {_PQ_SQL},
    xv AS (SELECT vec_id, embedding::DOUBLE[] AS xv FROM embeddings)
    SELECT r.vec_id, r.codes,
           round(list_sum([ (x.xv[i] - r.xq[i]) * (x.xv[i] - r.xq[i])
                            for i in range(1, 65) ]) / 64, 9) AS mse,
           round(list_max([ abs(x.xv[i] - r.xq[i])
                            for i in range(1, 65) ]), 6) AS max_abs_err,
           CASE WHEN list_sum([v * v for v in x.xv]) = 0
                  OR list_sum([v * v for v in r.xq]) = 0 THEN NULL
                ELSE round(list_cosine_similarity(x.xv, r.xq), 6)
           END AS cos_fidelity
    FROM recon r JOIN xv x ON x.vec_id = r.vec_id
    """,
)
def x_embed_pq(spark: SparkSession, sf: str) -> DataFrame:
    """Product quantization of the embedding store (Jégou et al.
    TPAMI'11) + per-vector audit: 8 subspace codebooks of 16 codewords
    learned by per-subspace k-means (deterministic lowest-id seeding,
    one Lloyd round, squared-L2 round-6 assignment, ties → lowest code),
    every vector stored as 8 four-bit codes = 4 bytes — 64× smaller than
    float32, vs scalar quantization's 4× (x_embed_quantize) — with the code
    string, reconstruction MSE, worst component error, and cosine
    fidelity per vector.  Companion x_sim_pq prices the fidelity loss in
    END-TO-END search recall; SCALE.md's compression-vs-recall table
    puts both layouts side by side.

    Scale (operators/pq.py): training is one corpus shuffle per Lloyd
    round (the per-(subspace, code, position) mean agg, map-side
    combinable, m·ksub·dim/m rows out); assignment/encode/decode run
    through the sanctioned Arrow-batched BLAS kernel (pq_encode_blas —
    m matmul/argmin passes per batch; the declarative HOF twin is the
    semantic contract, pinned equivalent by pytest, but Spark HOFs are
    CodegenFallback and measured ~10 ms/row).  The collected codebook is
    m·ksub·(dim/m) doubles — constant in corpus size, control-plane.
    """
    e = table(spark, sf, "embeddings")
    cb = pq_train(e, dim=64)
    return pq_report(e, cb, dim=64)


@register(
    "x_sim_pq",
    oracle=f"""
    WITH {_PQ_SQL},
    approx AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM embeddings q JOIN recon c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 10
        AND list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]) > 0
        AND list_sum([x * x for x in c.xq]) > 0
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id
        ORDER BY CASE WHEN list_sum([x * x for x in c.xq]) = 0
                        OR list_sum([x * x for x in q.embedding::DOUBLE[]]) = 0
                      THEN NULL
                      ELSE round(list_cosine_similarity(q.embedding::DOUBLE[], c.xq), 6)
                 END DESC NULLS LAST,
                 c.vec_id ASC) <= 3),
    exact AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 10
        AND list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]) > 0
        AND list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]) > 0
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id
        ORDER BY CASE WHEN list_sum([x * x for x in c.embedding::DOUBLE[]]) = 0
                        OR list_sum([x * x for x in q.embedding::DOUBLE[]]) = 0
                      THEN NULL
                      ELSE round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6)
                 END DESC NULLS LAST,
                 c.vec_id ASC) <= 3)
    SELECT e.query_id AS query_id, CAST(count(a.neighbor_id) AS INT) AS n_hits,
           round(count(a.neighbor_id) / 3.0, 4) AS recall_at_3
    FROM exact e LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """,
)
def x_sim_pq(spark: SparkSession, sf: str) -> DataFrame:
    """ADC search recall over the PQ-coded store: top-3 cosine where the
    CORPUS side is the 4-byte PQ reconstruction while queries stay
    full-precision, scored as recall@3 against the exact float ground
    truth per query — the x_sim_quantized measurement at 64× compression
    instead of 4×.  The classic LUT acceleration (per query precompute
    the m × ksub partial-score table, score each vector with m lookups)
    computes the SAME numbers — the declarative decode-then-score form
    here is the semantic contract any LUT kernel must match.

    Scale: identical economics to x_sim_quantized/x_ann_recall — the
    query set broadcasts, corpus shards are scored in place (decode =
    the Arrow-batched pq_encode_blas kernel over the same scan), the
    recall join is |queries| × k rows.  At 100 TB the coded corpus
    reads 64× less; the codebook is m·ksub·8 doubles, constant-size.
    """
    e = table(spark, sf, "embeddings")
    cb = pq_train(e, dim=64)
    q = e.filter(F.col("vec_id") < 10)
    qs = prep_vectors(q, "vec_id", "embedding", "query_id", "qd", "qn")
    cs = prep_vectors(
        pq_encode_blas(e, cb, dim=64).select("vec_id", "pq_recon"),
        "vec_id", "pq_recon", "neighbor_id", "cd", "cn",
    )
    scored = (
        # the query set: a fixed id range, estimated from the embeddings scan
        cs.crossJoin(F.broadcast(qs))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", pair_cosine().alias("sim"))
    )
    approx = _ranked_topk(scored, k=3).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    exact = cosine_topk(e, q, k=3).select("query_id", "neighbor_id")
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
# heavy hitters — count-min sketch with exact-recount adjudication
# ---------------------------------------------------------------------------


@register(
    "x_heavy_hitters",
    oracle="""
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '[[:space:]]+'),
                                x -> x <> '')) AS tok
      FROM documents),
    cnt AS (SELECT tok, count(*) AS exact_n FROM toks GROUP BY tok),
    cells AS (
      SELECT j,
             ('0x' || substr(md5('cms' || j || ':' || tok), 1, 8))::BIGINT % 1024
               AS bucket,
             CAST(sum(exact_n) AS BIGINT) AS cell
      FROM cnt CROSS JOIN unnest(range(0, 4)) u(j)
      GROUP BY 1, 2),
    topk AS (SELECT tok, exact_n FROM cnt
             ORDER BY exact_n DESC, tok ASC LIMIT 20),
    probes AS (
      SELECT t.tok, t.exact_n, j,
             ('0x' || substr(md5('cms' || j || ':' || t.tok), 1, 8))::BIGINT % 1024
               AS bucket
      FROM topk t CROSS JOIN unnest(range(0, 4)) u(j)),
    est AS (
      SELECT p.tok, p.exact_n, min(c.cell) AS est
      FROM probes p JOIN cells c ON c.j = p.j AND c.bucket = p.bucket
      GROUP BY p.tok, p.exact_n)
    SELECT tok AS token, exact_n, est,
           est - exact_n AS overcount,
           CAST(est >= exact_n AS INT) AS is_overestimate
    FROM est
    """,
)
def x_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Heavy-hitters monitoring: a 4 × 1024 count-min sketch (Cormode &
    Muthukrishnan '05) over corpus tokens, adjudicated by exact recount —
    per top-20 token (exact count desc, token asc): the sketch estimate,
    the overcount it actually incurred, and the CMS never-underestimates
    invariant as a checked column.  The q_agg_approx pattern upgraded:
    because the hashes are the repo's cross-engine md5 scheme, the oracle
    replays the ENTIRE grid bit-identically and the driver hashes the real
    estimates, not a tolerance verdict.

    Scale (operators/sketches.py): the production path is
    cms_from_stream — explode → count with map-side combine capping
    partial state at depth·width counters per partition, so the shuffle
    is sketch-sized at any corpus size; the finished 4,096-row grid
    broadcasts into point queries.  This adjudication key derives the
    identical grid from the exact wordcount it needs anyway (cells equal
    by associativity; cms_from_stream ≡ cms_from_counts is pinned by a
    pytest equivalence on real corpus data).
    """
    d = table(spark, sf, "documents")
    tok = d.select(F.explode(tokens("text")).alias("token"))
    cnt = tok.groupBy("token").agg(F.count("*").alias("exact_n"))
    sketch = cms_from_counts(cnt, "token", "exact_n")
    topk = cnt.orderBy(F.col("exact_n").desc(), F.col("token").asc()).limit(20)
    return cms_estimate(topk, sketch, "token").select(
        "token",
        "exact_n",
        "est",
        (F.col("est") - F.col("exact_n")).alias("overcount"),
        (F.col("est") >= F.col("exact_n")).cast("int").alias("is_overestimate"),
    )


# ---------------------------------------------------------------------------
# BPE vocabulary learning — N unrolled merge rounds, oracle-replayed
# ---------------------------------------------------------------------------

def _bpe_oracle(rounds: int, final: str | None = None) -> str:
    """Unrolled DuckDB replay of ``rounds`` BPE merge rounds.  Per round:
    weighted adjacent-pair count + deterministic argmax (best_r), then the
    greedy one-pass rewrite — matches of (lhs, rhs) overlap only as runs
    of consecutive positions (requires lhs = rhs), and the greedy pass
    keeps the odd-offset positions of each run (gaps-and-islands on
    ``i - row_number()``), consuming position i+1 of every kept match.

    ``final`` overrides the closing SELECT (default: the merge table) —
    x_bpe_tokenize closes over the final representations instead, via
    the ``dtoks`` (doc_id, tok) and ``word_map`` (word_id, word) CTEs."""
    parts = [
        """
    WITH dtoks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '[[:space:]]+'),
                                x -> x <> '')) AS tok
      FROM documents),
    w AS (SELECT tok AS word, CAST(count(*) AS BIGINT) AS wn
          FROM dtoks GROUP BY tok),
    word_map AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY word) AS word_id, word FROM w),
    rep0 AS MATERIALIZED (
      SELECT wm.word_id, w.wn,
             [w.word[i] for i in range(1, length(w.word) + 1)] AS syms
      FROM w JOIN word_map wm ON wm.word = w.word)"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(f"""
    best{r} AS MATERIALIZED (
      SELECT lhs, rhs, pair_n FROM (
        SELECT syms[i] AS lhs, syms[i + 1] AS rhs,
               CAST(sum(wn) AS BIGINT) AS pair_n
        FROM rep{p} CROSS JOIN unnest(range(1, len(syms))) u(i)
        GROUP BY 1, 2)
      ORDER BY pair_n DESC, lhs ASC, rhs ASC LIMIT 1),
    pos{r} AS MATERIALIZED (
      SELECT word_id, wn, i, syms[i] AS s, b.lhs AS bl, b.rhs AS br,
             CASE WHEN syms[i] = b.lhs AND syms[i + 1] = b.rhs
                  THEN 1 ELSE 0 END AS m
      FROM rep{p} CROSS JOIN unnest(range(1, len(syms) + 1)) u(i)
           CROSS JOIN best{r} b),
    keep{r} AS MATERIALIZED (
      SELECT word_id, i FROM (
        SELECT word_id, i,
               row_number() OVER (PARTITION BY word_id, i - rn ORDER BY i) AS k
        FROM (SELECT word_id, i,
                     row_number() OVER (PARTITION BY word_id ORDER BY i) AS rn
              FROM pos{r} WHERE m = 1) t1) t2
      WHERE k % 2 = 1),
    rep{r} AS MATERIALIZED (
      SELECT word_id, any_value(wn) AS wn,
             list(CASE WHEN im THEN bl || br ELSE s END ORDER BY i) AS syms
      FROM (SELECT p.word_id, p.wn, p.i, p.s, p.bl, p.br,
                   k.i IS NOT NULL AS im, kp.i IS NOT NULL AS consumed
            FROM pos{r} p
            LEFT JOIN keep{r} k ON k.word_id = p.word_id AND k.i = p.i
            LEFT JOIN keep{r} kp ON kp.word_id = p.word_id AND kp.i = p.i - 1) t
      WHERE NOT consumed
      GROUP BY word_id)""")
    if final is None:
        selects = [
            f"SELECT CAST({r} AS INT) AS round, lhs, rhs, lhs || rhs AS merged,"
            f" pair_n FROM best{r}"
            for r in range(1, rounds + 1)
        ]
        final = "\n    UNION ALL ".join(selects)
    return ",".join(parts) + "\n    " + final


@register("x_vocab_bpe", oracle=_bpe_oracle(BPE_ROUNDS))
def x_vocab_bpe(spark: SparkSession, sf: str) -> DataFrame:
    """BPE vocabulary learning (Sennrich et al. ACL'16): 6 merge rounds
    of byte-pair statistics over the corpus wordcount — per round the
    winning adjacent symbol pair (count desc, symbols asc — the
    deterministic tie-break the oracle replays), its merged token and its
    weighted frequency.  Companions: x_pmi_collocations (association
    stats), x_vocab_topk (exact n-gram census).

    Scale (operators/bpe.py): statistics live on the distinct-word table
    (vocabulary-sized, Heaps' law), the corpus is scanned once for the
    wordcount; each round is one map-side-combinable pair-count shuffle
    + a 1-row control-plane collect broadcast into a codegen rewrite
    fold; a stored frame per round keeps lineage linear in rounds.
    """
    from ..operators.bpe import bpe_learn

    d = table(spark, sf, "documents")
    tok = d.select(F.explode(tokens("text")).alias("tok"))
    words = tok.groupBy(F.col("tok").alias("word")).agg(F.count("*").alias("wn"))
    merges, _rep = bpe_learn(spark, words)
    return merges


# ---------------------------------------------------------------------------
# zero-norm guard adjudication — planted degenerate vectors, both roles
# ---------------------------------------------------------------------------


@register(
    "x_sim_zero_norm",
    oracle="""
    WITH planted AS (
      SELECT vec_id, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id < 10
      UNION ALL
      SELECT -1 AS vec_id, [0.0 for i in range(1, 65)] AS v),
    corpus AS (SELECT * FROM planted
               WHERE list_dot_product(v, v) > 0),
    queries AS (SELECT * FROM planted
                WHERE vec_id < 5 AND list_dot_product(v, v) > 0)
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CAST(row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC,
                      c.vec_id ASC) AS INT) AS rank,
           round(list_cosine_similarity(q.v, c.v), 6) AS sim
    FROM queries q JOIN corpus c ON c.vec_id <> q.vec_id
    QUALIFY rank <= 9
    """,
)
def x_sim_zero_norm(spark: SparkSession, sf: str) -> DataFrame:
    """Zero-norm guard adjudication: a zero vector is PLANTED into a
    10-row corpus slice in BOTH roles (it passes the vec_id < 5 query
    filter too), k = 9 makes every surviving candidate rank — so if
    either side's screen is missing, the planted row enters a top-k
    (Spark NULL-cosine vs DuckDB NaN/-1.0, the registry.py boundary) and
    the hash/row-count check fails.  With the guard (prep_vectors'
    default screen ≡ the oracle's list_dot_product(v, v) > 0), both
    engines search the identical 10-query-free, 10-corpus row set and the
    boundary is unreachable — the documented-but-undefended divergence
    (VERDICT r6 #7) replaced by an adjudicated contract.

    Scale: the screen is a map-side filter fused into the same projection
    that computes the norm the kernel needs anyway — zero added shuffles
    at any corpus size.
    """
    e = (
        table(spark, sf, "embeddings")
        .filter(F.col("vec_id") < 10)
        .select("vec_id", "embedding")
    )
    zero = spark.range(1).select(
        F.lit(-1).cast("long").alias("vec_id"),
        F.array(*([F.lit(0.0)] * 64)).cast("array<float>").alias("embedding"),
    )
    planted = e.unionByName(zero)
    out = cosine_topk(planted, planted.filter(F.col("vec_id") < 5), k=9)
    return out.withColumn("rank", F.col("rank").cast("int"))


_BPE_TOKENIZE_FINAL = f"""
    SELECT d.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(len(r.syms)) AS BIGINT) AS n_bpe_tokens,
           round(CAST(sum(len(r.syms)) AS DOUBLE) / count(*), 4)
             AS avg_word_tokens
    FROM dtoks d
    JOIN word_map wm ON wm.word = d.tok
    JOIN rep{BPE_ROUNDS} r ON r.word_id = wm.word_id
    GROUP BY d.doc_id
"""


@register("x_bpe_tokenize", oracle=_bpe_oracle(BPE_ROUNDS, _BPE_TOKENIZE_FINAL))
def x_bpe_tokenize(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus tokenization under the learned BPE vocab: per document, the
    whitespace word count and the subword token count after all 6 merge
    rounds (avg tokens/word = the fertility statistic tokenizer teams
    track — it prices a vocab against a corpus and flags domain drift:
    rising fertility means the merges no longer fit the text).  Companion
    to x_vocab_bpe (the learner); x_text_tokens counts pre-BPE proxies.

    Scale (operators/bpe.py): training is vocab-sized (Heaps' law);
    tokenization re-reads the corpus ONCE as (doc_id, word) pairs and
    joins the word → final-symbol-count table — vocabulary-sized, so AQE
    broadcasts it — then one doc-keyed count.  No per-document BPE
    re-application: every occurrence of a word shares its representation,
    the whole point of learning on the distinct-word table.
    """
    from ..operators.bpe import bpe_learn

    d = table(spark, sf, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    words = (
        tok.groupBy(F.col("tok").alias("word")).agg(F.count("*").alias("wn"))
    )
    _merges, rep = bpe_learn(spark, words)
    wl = rep.select("word", F.size("syms").alias("__wl"))
    return (
        tok.join(wl, tok["tok"] == wl["word"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("__wl").cast("bigint").alias("n_bpe_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_bpe_tokens",
            F.round(
                F.col("n_bpe_tokens").cast("double") / F.col("n_words"), 4
            ).alias("avg_word_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# IVFADC — coarse IVF cells over PQ-coded residents (the composed index)
# ---------------------------------------------------------------------------


@register(
    "x_sim_ivfpq",
    oracle=f"""
    WITH {_PQ_SQL},
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
        FROM embeddings e CROSS JOIN centv c
        WHERE list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) > 0) t
      WHERE rn = 1),
    approx AS (
      SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id
      FROM assign q
      JOIN assign a ON a.cluster = q.cluster AND a.vec_id <> q.vec_id
      JOIN recon r ON r.vec_id = a.vec_id
      WHERE q.vec_id < 10
        AND list_sum([x * x for x in r.xq]) > 0
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id
        ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], r.xq), 6) DESC,
                 a.vec_id ASC) <= 3),
    exact AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 10
        AND list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]) > 0
        AND list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]) > 0
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id
        ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
                 c.vec_id ASC) <= 3)
    SELECT e.query_id AS query_id, CAST(count(a.neighbor_id) AS INT) AS n_hits,
           round(count(a.neighbor_id) / 3.0, 4) AS recall_at_3
    FROM exact e LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """,
)
def x_sim_ivfpq(spark: SparkSession, sf: str) -> DataFrame:
    """IVFADC — the composed production vector index (Jégou et al.
    TPAMI'11, the FAISS IVF+PQ layout): coarse IVF cells (label-mean
    centroids) hold 4-byte PQ codes; a query assigns to its cell
    (probe-1), decodes only that cell's residents, and ranks them by
    full-precision-query × reconstruction cosine (ADC).  Scored as
    recall@3 vs the exact float ground truth — alongside x_sim_ivf
    (IVF, float residents), x_sim_pq (PQ, full scan) and x_sim_quantized
    (int8, full scan), this completes the scan-fraction × compression
    grid SCALE.md tabulates.

    Scale: the cell assignment is the broadcast map-side argmax every
    IVF key uses; the PQ decode rides the same scan through the
    constant-size-codebook Arrow kernel; the candidate join keys on
    cluster — at 100 TB the read volume is (scan fraction 1/k) ×
    (compression 1/64) of the float corpus, the multiplicative win the
    composed layout exists for.
    """
    from ..operators.similarity import assign_to_centroids, label_centroids

    e = table(spark, sf, "embeddings")
    cents = label_centroids(e)
    asg = assign_to_centroids(e, cents)
    cb = pq_train(e, dim=64)
    recon = pq_encode_blas(e, cb, dim=64).select(
        "vec_id", "pq_recon"
    )
    cs = prep_vectors(
        recon, "vec_id", "pq_recon", "neighbor_id", "cd", "cn"
    ).join(
        asg.select(F.col("vec_id").alias("neighbor_id"), "cluster"),
        "neighbor_id",
    )
    qs = asg.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("vd").alias("qd"),
        F.col("vn").alias("qn"), "cluster",
    )
    scored = (
        cs.join(qs, "cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", pair_cosine().alias("sim"))
    )
    approx = _ranked_topk(scored, k=3).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    q = e.filter(F.col("vec_id") < 10)
    exact = cosine_topk(e, q, k=3).select("query_id", "neighbor_id")
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
# distributed GD model fit — tokens-per-byte cost model, trajectory oracle
# ---------------------------------------------------------------------------

def _linreg_oracle(rounds: int) -> str:
    """Unrolled DuckDB replay of the GD trajectory: per round, the same
    round-6 gradient averages, weight updates, and round-4 post-update
    mse the engine computes (operators/regression.py)."""
    parts = ["""
    WITH feat AS MATERIALIZED (
      SELECT length(text) / 1000.0 AS x,
             CAST(len(list_filter(string_split_regex(lower(text), '[[:space:]]+'),
                                  t -> t <> '')) AS DOUBLE) AS y
      FROM documents)"""]
    w0_expr, w1_expr = "0.0", "0.0"
    for r in range(1, rounds + 1):
        parts.append(f"""
    g{r} AS (SELECT round(avg(2 * ({w0_expr} + {w1_expr} * x - y)), 6) AS g0,
                    round(avg(2 * ({w0_expr} + {w1_expr} * x - y) * x), 6) AS g1
             FROM feat),
    w{r} AS MATERIALIZED (
      SELECT {w0_expr} - {GD_LR} * g0 AS w0,
             {w1_expr} - {GD_LR} * g1 AS w1
      FROM g{r}),
    m{r} AS (SELECT round(avg((w.w0 + w.w1 * x - y) * (w.w0 + w.w1 * x - y)), 4)
                      AS mse
             FROM feat, w{r} w)""")
        w0_expr = f"(SELECT w0 FROM w{r})"
        w1_expr = f"(SELECT w1 FROM w{r})"
    selects = [
        f"SELECT CAST({r} AS INT) AS round, w.w0, w.w1,"
        f" (SELECT mse FROM m{r}) AS mse FROM w{r} w"
        for r in range(1, rounds + 1)
    ]
    return ",".join(parts) + "\n    " + "\n    UNION ALL ".join(selects)


@register("x_linreg_gd", oracle=_linreg_oracle(GD_ROUNDS))
def x_linreg_gd(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed gradient-descent model fit: 3 full-batch GD rounds of
    ``token_count ≈ w0 + w1 · (chars/1000)`` — the tokens-per-byte cost
    model used to budget token counts from raw byte sizes at ingest —
    with the per-round (w0, w1, post-update mse) trajectory as the
    adjudicated output.  The supervised-model-fitting workload class
    next to x_kmeans_iter's unsupervised one; squared loss keeps the
    gradient pure +/* (libm-free, the quality_logit lesson), so the
    oracle replays the trajectory exactly.

    Scale (operators/regression.py): R rounds = R corpus aggregates
    (d+1 partial sums, map-side combinable — the data-parallel GD epoch
    shape: tree-reduced gradients, driver update, weight-vector
    broadcast); weights are control-plane scalars.
    """
    from ..functions.text import token_count
    from ..operators.regression import linreg_gd

    d = table(spark, sf, "documents")
    feats = d.select(
        (F.length("text") / 1000.0).alias("x"),
        token_count("text").cast("double").alias("y"),
    )
    return linreg_gd(spark, feats, "x", "y")
