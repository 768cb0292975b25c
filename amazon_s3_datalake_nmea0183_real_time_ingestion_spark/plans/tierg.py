"""Tier G — round-5 second wave: quantized embedding storage + search
(scalar-quantization codebook, reconstruction gate, ADC recall), lexical
statistics for tokenizer/vocab work (token entropy, PMI collocations,
bigram-LM scoring), and the MinHash estimator-calibration audit.

Techniques are from the public literature: scalar/product quantization
for ANN (Jégou, Douze & Schmid TPAMI'11 — SQ is the one-subspace
degenerate case), Shannon entropy / type-token ratio as text-diversity
screens, PMI collocation extraction (Church & Hanks, CL'90), Laplace-
smoothed bigram LM scoring (the KenLM-perplexity stand-in one step up
from x_surprisal's unigram), and the MinHash unbiased-estimator property
(Broder '97) audited against exact Jaccard.

Every key follows the registry's cross-engine hash rules (registry.py
docstring); scale notes on each docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import md5_u32
from ..functions.text import tokens
from ..operators.curation import hash_split
from ..operators.dedup import (
    candidate_jaccard_parts,
    connected_components,
    lsh_bands,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingle_set,
)
from ..operators.quantization import dim_codebook, quantization_error, quantize
from ..operators.similarity import (
    _ranked_topk,
    cosine_topk,
    pair_cosine,
    prep_vectors,
)
from ..operators.stats import smoothed_kl
from ..storage import stored
from .registry import register, table
from .tierc import _CORPUS_SQL, _TOKS_SQL, _SHINGLES_SQL, _doc_corpus

# Shared quantization scaffold for the two x_*_quantize* oracles: per-dim
# min/max codebook + dequantized vector list, replaying
# operators/quantization.py exactly (floor(t + 0.5) — not round() — so
# binary .5 ties cannot diverge across engines; see module docstring).
_QUANT_SQL = """
    el AS (
      SELECT e.vec_id, i AS dim, e.embedding[i]::DOUBLE AS x
      FROM embeddings e, unnest(range(1, len(e.embedding) + 1)) u(i)),
    cb AS (SELECT dim, min(x) AS lo, max(x) AS hi FROM el GROUP BY dim),
    qd AS (SELECT el.vec_id, el.dim, el.x,
                  CASE WHEN hi = lo THEN lo
                       ELSE lo + floor((el.x - lo) * 255.0 / (hi - lo) + 0.5)
                            * (hi - lo) / 255.0
                  END AS xq
           FROM el JOIN cb ON cb.dim = el.dim),
    qv AS (SELECT vec_id,
                  list(x ORDER BY dim) AS xv,
                  list(xq ORDER BY dim) AS xq
           FROM qd GROUP BY vec_id)
"""


@register(
    "x_embed_quantize",
    oracle=f"""
    WITH {_QUANT_SQL}
    SELECT vec_id,
           round(list_sum([ (xv[i] - xq[i]) * (xv[i] - xq[i])
                            for i in range(1, len(xv) + 1) ]) / len(xv),
                 9) AS mse,
           round(list_max([ abs(xv[i] - xq[i])
                            for i in range(1, len(xv) + 1) ]), 6) AS max_abs_err,
           CASE WHEN list_sum([x * x for x in xv]) = 0
                  OR list_sum([x * x for x in xq]) = 0 THEN NULL
                ELSE round(list_cosine_similarity(xv, xq), 6)
           END AS cos_fidelity
    FROM qv
    """,
)
def x_embed_quantize(spark: SparkSession, sf: str) -> DataFrame:
    """Int8-style scalar quantization of the embedding corpus + per-vector
    reconstruction report (MSE, worst component error, cosine fidelity) —
    the gate before committing a 100 TB vector store to a 4x-smaller
    quantized layout.  Companion key x_sim_quantized measures what the
    lost precision costs END-TO-END (search recall); this key measures it
    geometrically.

    Scale: the codebook is one dim-keyed min/max agg (64 rows, map-side
    combinable) broadcast back as a 1-row frame; quantize + error stats
    are pure map-side zip_with folds inside codegen — zero extra
    shuffles, no Python (operators/quantization.py).

    Zero-norm vectors: the engine's try_divide yields NULL fidelity and
    the oracle CASEs the same rows to NULL explicitly (DuckDB's
    list_cosine_similarity would emit NaN/-1 there — the cross-engine
    boundary ADVICE r4 #3 flagged on semantic dedup, aligned here from
    the start).
    """
    e = table(spark, sf, "embeddings")
    return quantization_error(e, dim_codebook(e))


@register(
    "x_sim_quantized",
    oracle=f"""
    WITH {_QUANT_SQL},
    approx AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM embeddings q JOIN qv c ON c.vec_id <> q.vec_id
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
def x_sim_quantized(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric-distance (ADC) search recall: top-3 cosine search where
    the CORPUS side is dequantized int8 while queries stay full-precision
    (the production memory layout — Jégou et al. TPAMI'11), scored as
    recall@3 against the exact float ground truth per query.  At sf0.01
    two of ten queries lose one neighbor to quantization noise — a real
    measurement, not a tautology.

    Scale: identical economics to x_ann_recall — both searches broadcast
    the query set and score corpus shards in place (the quantized frame
    adds only map-side zip_with work above the same scan); the recall
    join is |queries| x k rows.  At 100 TB the quantized path reads a 4x
    smaller corpus — the whole point — and the codebook broadcast is two
    64-double arrays.
    """
    e = table(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    # ADC: queries full-precision, corpus dequantized (mixed vec cols, so
    # the two sides are prepped separately instead of via cosine_topk).
    qs = prep_vectors(q, "vec_id", "embedding", "query_id", "qd", "qn")
    cs = prep_vectors(
        quantize(e, dim_codebook(e)).select("vec_id", "xq"),
        "vec_id", "xq", "neighbor_id", "cd", "cn",
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


@register(
    "x_token_entropy",
    oracle=f"""
    WITH {_CORPUS_SQL}, {_TOKS_SQL},
    ex AS (SELECT doc_id, unnest(t) AS tok FROM toks),
    tc AS (SELECT doc_id, tok, count(*) AS c FROM ex GROUP BY doc_id, tok)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy,
           round(count(*) / sum(c), 6) AS ttr
    FROM tc GROUP BY doc_id
    """,
)
def x_token_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document token-distribution diversity: Shannon entropy of the
    unigram frequencies (stable form H = ln n - (1/n)·Σ c·ln c) plus
    type-token ratio.  Low entropy = keyword stuffing, generated spam, or
    template chrome (a doc repeating one token has H = 0); TTR is the
    classic lexical-diversity twin.  Complements x_text_repetition (which
    screens VERBATIM n-gram runs) — entropy catches diffuse repetition no
    single n-gram exposes.

    Scale: one (doc, token)-keyed count then one doc-keyed rollup — both
    map-side combinable, the exact x_surprisal shuffle shape minus its
    vocabulary join.  All arithmetic JVM-side; round(,6) absorbs ln/sum
    order ulps per the registry contract.
    """
    d = _doc_corpus(spark, sf)
    tc = (
        d.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    n = F.sum("c")
    return tc.groupBy("doc_id").agg(
        n.cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_types"),
        F.round(F.log(n) - F.sum(F.col("c") * F.log("c")) / n, 6).alias("entropy"),
        F.round(F.count("*") / n, 6).alias("ttr"),
    )


# Bigram scaffold shared by PMI and the bigram LM: adjacent token pairs
# built by 1-based list indexing on BOTH engines (DuckDB comprehension /
# Spark transform-over-sequence), so pair order and count are identical.
_BIGRAMS_SQL = """
    bp AS (
      SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
        SELECT doc_id, unnest([struct_pack(w1 := t[i], w2 := t[i+1])
                               for i in range(1, greatest(len(t), 1))]) AS b
        FROM toks WHERE len(t) >= 2)),
    uc AS (SELECT tok, count(*) AS c
           FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok)
"""


def _doc_bigrams(corpus: DataFrame) -> DataFrame:
    """(doc_id, w1, w2) adjacent-pair stream — explode of a map-side
    transform over the token array (no per-doc window/sort shuffle).

    The token array is materialized as a COLUMN in its own select before
    the transform references it: a non-attribute expression inside a HOF
    lambda is re-evaluated PER ELEMENT (tokenize inside the bigram
    transform = O(n²)/doc — measured 17 s → 1.5 s on x_lm_bigram at
    sf0.1 when this was inlined)."""
    toks = corpus.select("doc_id", tokens("text").alias("t")).filter(
        F.size("t") >= 2
    )
    t = F.col("t")
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(t) - 1),
        lambda i: F.struct(
            F.element_at(t, i).alias("w1"), F.element_at(t, i + 1).alias("w2")
        ),
    )
    return toks.select("doc_id", F.explode(pairs).alias("b")).select(
        "doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )


@register(
    "x_pmi_collocations",
    oracle=f"""
    WITH {_CORPUS_SQL}, {_TOKS_SQL}, {_BIGRAMS_SQL},
    bc AS (SELECT w1, w2, count(*) AS c_ab FROM bp GROUP BY w1, w2),
    tot AS (SELECT (SELECT sum(c_ab) FROM bc) AS n_bi,
                   (SELECT sum(c) FROM uc) AS n_uni)
    SELECT w1, w2, CAST(c_ab AS BIGINT) AS n_pair,
           round(ln((c_ab / n_bi) / ((ua.c / n_uni) * (ub.c / n_uni))), 6) AS pmi
    FROM bc JOIN uc ua ON ua.tok = w1
            JOIN uc ub ON ub.tok = w2
            CROSS JOIN tot
    WHERE c_ab >= 5
    ORDER BY pmi DESC, w1 ASC, w2 ASC
    LIMIT 50
    """,
)
def x_pmi_collocations(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-level collocation mining (Church & Hanks, CL'90): the top-50
    adjacent bigrams by pointwise mutual information ln(p(ab)/(p(a)p(b))),
    minimum pair count 5.  High-PMI pairs are the multi-word units a
    tokenizer/vocab build should keep whole; the planted ' zz9 qq8'
    suffix tops the table by construction (always adjacent, never apart)
    — a built-in determinism check.

    Scale: one bigram-keyed count + one token-keyed count (both map-side
    combinable); unigram counts join onto the bigram table (vocabulary-
    sized, AQE broadcasts when it fits — at web scale it shuffles on the
    word key, still linear); normalizers are a 1-row broadcast; the
    global top-50 is TakeOrderedAndProject.  PMI is ordered on its
    ROUNDED value (both engines) so libm ln() ulps can't flip the cut.
    """
    corpus = _doc_corpus(spark, sf)
    bp = _doc_bigrams(corpus)
    bc = bp.groupBy("w1", "w2").agg(F.count("*").alias("c_ab"))
    uc = (
        corpus.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    tot_bi = bc.agg(F.sum("c_ab").cast("double").alias("n_bi"))
    tot_uni = uc.agg(F.sum("c").cast("double").alias("n_uni"))
    pmi = F.log(
        (F.col("c_ab") / F.col("n_bi"))
        / ((F.col("ca") / F.col("n_uni")) * (F.col("cb") / F.col("n_uni")))
    )
    return (
        bc.filter(F.col("c_ab") >= 5)
        .join(uc.select(F.col("tok").alias("w1"), F.col("c").alias("ca")), "w1")
        .join(uc.select(F.col("tok").alias("w2"), F.col("c").alias("cb")), "w2")
        .crossJoin(tot_bi)
        .crossJoin(tot_uni)
        .select(
            "w1", "w2",
            F.col("c_ab").cast("bigint").alias("n_pair"),
            F.round(pmi, 6).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(50)
    )


@register(
    "x_lm_bigram",
    oracle=f"""
    WITH {_CORPUS_SQL}, {_TOKS_SQL}, {_BIGRAMS_SQL},
    bc AS (SELECT w1, w2, count(*) AS c_ab FROM bp GROUP BY w1, w2),
    v AS (SELECT count(*) AS vocab FROM uc)
    SELECT bp.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(ln((bc.c_ab + 1.0) / (uc.c + vocab))), 6) AS bigram_logprob
    FROM bp
    JOIN bc ON bc.w1 = bp.w1 AND bc.w2 = bp.w2
    JOIN uc ON uc.tok = bp.w1
    CROSS JOIN v
    GROUP BY bp.doc_id
    """,
)
def x_lm_bigram(spark: SparkSession, sf: str) -> DataFrame:
    """Bigram-LM quality signal: per-document mean ln P(w2|w1) under the
    corpus's own add-one-smoothed bigram model, P = (c(w1,w2)+1)/(c(w1)+V)
    — the conditional one step up from x_surprisal's unigram (CCNet-style
    LM filtering scores documents by how predictable their word SEQUENCE
    is, not just their word CHOICE; word salad with a normal vocabulary
    passes the unigram screen and fails this one).  Docs with <2 tokens
    have no bigrams and drop out on both engines.

    Scale: bigram and unigram count tables are two map-side-combinable
    aggs; scoring joins the bigram stream to both (AQE broadcasts when
    they fit, shuffles on the word key when they don't — linear either
    way); the vocab normalizer is a 1-row broadcast; per-doc mean
    shuffles on doc_id.  The model tables persist and amortize across
    ingest batches in production.
    """
    corpus = _doc_corpus(spark, sf)
    bp = _doc_bigrams(corpus)
    bc = bp.groupBy("w1", "w2").agg(F.count("*").alias("c_ab"))
    uc = (
        corpus.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    v = uc.agg(F.count("*").cast("double").alias("vocab"))
    lp = F.log((F.col("c_ab") + 1.0) / (F.col("c") + F.col("vocab")))
    return (
        bp.join(bc, ["w1", "w2"])
        .join(uc.select(F.col("tok").alias("w1"), "c"), "w1")
        .crossJoin(v)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(lp), 6).alias("bigram_logprob"),
        )
    )


@register(
    "x_minhash_calibration",
    oracle=f"""
    WITH {_CORPUS_SQL}, {_TOKS_SQL}, {_SHINGLES_SQL},
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
    est AS (SELECT c.id_a, c.id_b,
                   sum(CASE WHEN ma.mn = mb.mn THEN 1 ELSE 0 END) AS n_eq
            FROM cand c
            JOIN mh ma ON ma.doc_id = c.id_a
            JOIN mh mb ON mb.doc_id = c.id_b AND mb.i = ma.i
            GROUP BY c.id_a, c.id_b),
    sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id),
    inter AS (SELECT c.id_a, c.id_b, count(*) AS n
              FROM cand c
              JOIN sh a ON a.doc_id = c.id_a
              JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
              GROUP BY c.id_a, c.id_b)
    SELECT e.id_a, e.id_b,
           round(e.n_eq / 16.0, 4) AS est_jaccard,
           round(i.n / (za.s + zb.s - i.n), 4) AS exact_jaccard,
           round(abs(e.n_eq / 16.0 - i.n / (za.s + zb.s - i.n)), 4) AS abs_err
    FROM est e
    JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
    JOIN sz za ON za.doc_id = e.id_a
    JOIN sz zb ON zb.doc_id = e.id_b
    """,
)
def x_minhash_calibration(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash estimator-calibration audit: for every LSH candidate pair,
    the signature-agreement estimate (matching permutation minima / 16 —
    Broder '97's unbiased resemblance estimator) NEXT TO the exact
    shingle Jaccard and their absolute error.  This is the dedup
    analog of x_ann_recall: before trusting a 16-permutation signature
    to gate deletions on 100 TB, measure its error distribution on real
    candidates (at sf0.01 the worst pair is off by ~0.12 — exactly the
    16-perm variance the n_perm knob trades against signature width).

    Scale: candidates come from the banded LSH join (never all-pairs);
    the estimate join carries 16 ints per side keyed by doc id
    (signature-width rows per candidate); exact verification reuses the
    shingle inverted index restricted to candidates — the identical
    shape minhash_near_dup already pays, plus one signature re-join.
    """
    corpus = _doc_corpus(spark, sf)
    sh = shingle_set(corpus, k=3)
    sigs = minhash_signatures(sh, n_perm=16)
    cand = lsh_candidate_pairs(lsh_bands(sigs, 16))
    n_eq = sum(
        (F.col(f"a.mh{i}") == F.col(f"b.mh{i}")).cast("int") for i in range(16)
    )
    est = (
        cand.join(sigs.alias("a"), F.col("id_a") == F.col("a.doc_id"))
        .join(sigs.alias("b"), F.col("id_b") == F.col("b.doc_id"))
        .select("id_a", "id_b", n_eq.alias("n_eq"))
    )
    # exact side: the shared verification scaffold (same code path as
    # jaccard_verify — review round-5 deduplicated it).
    parts = candidate_jaccard_parts(sh, cand)
    exact = F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
    estf = F.col("n_eq") / 16.0
    return (
        est.join(parts, ["id_a", "id_b"])
        .select(
            "id_a", "id_b",
            F.round(estf, 4).alias("est_jaccard"),
            F.round(exact, 4).alias("exact_jaccard"),
            F.round(F.abs(estf - exact), 4).alias("abs_err"),
        )
    )


# ---------------------------------------------------------------------------
# hybrid retrieval — reciprocal rank fusion of BM25 and tf-idf rankers
# ---------------------------------------------------------------------------

_RRF_K = 60  # the standard fusion constant (Cormack, Clarke & Buettcher '09)


@register(
    "x_rank_fusion",
    oracle=f"""
    WITH q(term) AS (VALUES ('spark'), ('data'), ('fast'), ('big')),
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
    bm AS (SELECT tf.doc_id,
                  sum(ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                      * tf.tf * 2.2
                      / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl)))
                    AS score
           FROM tf JOIN dfreq d ON d.term = tf.term
           JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats s
           GROUP BY tf.doc_id),
    bmr AS (SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY round(score, 6) DESC,
                                           doc_id) AS INT) AS r
            FROM bm QUALIFY r <= 50),
    ti AS (SELECT tf.doc_id, sum(tf.tf * ln(s.n_docs / d.df)) AS score
           FROM tf JOIN dfreq d ON d.term = tf.term CROSS JOIN stats s
           GROUP BY tf.doc_id),
    tir AS (SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY round(score, 6) DESC,
                                           doc_id) AS INT) AS r
            FROM ti QUALIFY r <= 50),
    fused AS (
      SELECT coalesce(b.doc_id, t2.doc_id) AS doc_id,
             b.r AS bm25_rank, t2.r AS tfidf_rank,
             coalesce(1.0 / ({_RRF_K} + b.r), 0)
               + coalesce(1.0 / ({_RRF_K} + t2.r), 0) AS rrf
      FROM bmr b FULL OUTER JOIN tir t2 ON t2.doc_id = b.doc_id)
    SELECT doc_id, bm25_rank, tfidf_rank, round(rrf, 6) AS rrf_score
    FROM fused
    ORDER BY round(rrf, 6) DESC, doc_id LIMIT 20
    """,
)
def x_rank_fusion(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval via reciprocal rank fusion (Cormack, Clarke &
    Buettcher, SIGIR'09): fuse the BM25 top-50 and the tf-idf top-50 for
    the same query with score = Σ 1/(60 + rank_i), keep the fused top-20.
    RRF is THE standard way to combine heterogeneous rankers (lexical +
    vector, or here two lexical weightings) because it needs no score
    normalization — only ranks — and a doc ranked well by either list
    surfaces.  Both input rankings and the fusion are fully rank-based,
    so the key is deterministic end to end (rounded scores + doc_id
    tie-breaks at every cut).

    Scale: the term-frequency table is built ONCE (explode restricted to
    query terms inside the HOF filter — non-query tokens never explode)
    and feeds both scorers; document frequencies (|q| rows) and corpus
    stats (1 row) broadcast; each ranker's top-50 is
    TakeOrderedAndProject; the fusion join touches ≤100 rows.  Swapping
    the second ranker for x_sim_topk's vector ranks gives lexical+vector
    hybrid search with the identical fusion plan.
    """
    d = table(spark, sf, "documents").select("doc_id", tokens("text").alias("t"))
    dl = d.select("doc_id", F.size("t").alias("dl"))
    stats = dl.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    terms = ["spark", "data", "fast", "big"]
    tf = (
        d.select("doc_id",
                 F.explode(F.filter(F.col("t"), lambda x: x.isin(*terms))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))

    def _top50(scored: DataFrame, rank_col: str) -> DataFrame:
        w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
        return (
            scored.orderBy(F.col("score").desc(), F.col("doc_id"))
            .limit(50)
            .withColumn(rank_col, F.row_number().over(w).cast("int"))
            .select("doc_id", rank_col)
        )

    k1, b = 1.2, 0.75
    bm_comp = (
        F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
        * F.col("tf") * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    )
    bm = (
        tf.join(dfreq, "term")
        .join(dl, "doc_id")
        .crossJoin(stats)
        .groupBy("doc_id")
        .agg(F.round(F.sum(bm_comp), 6).alias("score"))
    )
    ti = (
        tf.join(dfreq, "term")
        .crossJoin(stats)
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("tf") * F.log(F.col("n_docs") / F.col("df"))), 6)
             .alias("score"))
    )
    bmr = _top50(bm, "bm25_rank")
    tir = _top50(ti, "tfidf_rank")
    rrf = (
        F.when(F.col("bm25_rank").isNotNull(), 1.0 / (_RRF_K + F.col("bm25_rank")))
        .otherwise(0.0)
        + F.when(F.col("tfidf_rank").isNotNull(), 1.0 / (_RRF_K + F.col("tfidf_rank")))
        .otherwise(0.0)
    )
    return (
        bmr.join(tir, "doc_id", "full_outer")
        .select("doc_id", "bm25_rank", "tfidf_rank", F.round(rrf, 6).alias("rrf_score"))
        .orderBy(F.col("rrf_score").desc(), F.col("doc_id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# cross-domain score normalization — per-source percentile rank
# ---------------------------------------------------------------------------


@register(
    "x_percentile_norm",
    oracle="""
    SELECT doc_id, source, n_chars,
           round(percent_rank() OVER (PARTITION BY source ORDER BY n_chars),
                 6) AS pnorm
    FROM documents
    """,
)
def x_percentile_norm(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-domain score normalization: per-source percentile rank of a
    quality signal (here n_chars).  Raw quality scores are NOT comparable
    across domains — legal text scores long, chat scores short — so
    curation thresholds set on the pooled distribution over- or
    under-prune whole sources; normalizing to the within-source
    percentile makes one global threshold mean the same thing everywhere
    (the standard fix when mixing heterogeneous corpora).  Ties share a
    rank on both engines (competition rank over the value alone), so the
    output is deterministic without an id tie-break.

    Scale: ONE window over a source-keyed shuffle — no join, no second
    pass; at 100 TB a skewed giant source can be switched to the
    approx-percentile two-pass variant (percentile_approx per source,
    broadcast, map-side bucket lookup) at the cost of exactness.
    """
    d = table(spark, sf, "documents")
    w = Window.partitionBy("source").orderBy("n_chars")
    return d.select(
        "doc_id", "source", "n_chars",
        F.round(F.percent_rank().over(w), 6).alias("pnorm"),
    )


# ---------------------------------------------------------------------------
# dedup audit — cluster-size census of the near-dup components
# ---------------------------------------------------------------------------


@register(
    "x_dedup_census",
    oracle=f"""
    WITH RECURSIVE {_CORPUS_SQL}, {_TOKS_SQL}, {_SHINGLES_SQL},
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
    lab AS (SELECT node AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY node),
    cs AS (SELECT cluster_id, count(*) AS sz FROM lab GROUP BY cluster_id)
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sz * count(*) AS BIGINT) AS n_docs
    FROM cs GROUP BY sz
    """,
)
def x_dedup_census(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup audit: the cluster-SIZE histogram of the near-dup connected
    components (how many singletons, pairs, triples, ... the 0.6-Jaccard
    graph contains).  This is the monitoring row a production dedup run
    publishes every batch: a sudden mass at high sizes means boilerplate
    or a viral template entered the corpus (the guarded twins' max_df/
    max_bucket knobs exist for exactly that census shape), while the
    singleton fraction tracks how much of the corpus dedup leaves alone.
    The planted corpus yields a fixed census (singleton mass + the 50
    planted pairs + organic near-dup groups), making drift visible.

    Scale: everything up to components is the GUARDED x_dedup path —
    the registered configuration runs ``max_df=10`` (the production
    boilerplate guard; candidates from the rare-shingle inverted index,
    scores exact on full sets — measured 9.6× growth on 10× data in
    exhaustive mode vs bounded buckets guarded, SCALE.md §7e); CC runs
    on pair-sized edges; the census itself is two keyed counts over the
    LABEL table (corpus-row-sized, shrinking to ≤ distinct-sizes rows) —
    negligible next to the dedup it audits, so publishing it per batch
    is effectively free.
    """
    corpus = _doc_corpus(spark, sf)
    edges = ngram_jaccard_pairs(corpus, threshold=0.6, max_df=10).select(
        "id_a", "id_b"
    )
    labels = connected_components(edges, corpus.select("doc_id"))
    cs = labels.groupBy("cluster_id").agg(F.count("*").alias("sz"))
    return (
        cs.groupBy("sz")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            F.col("sz").alias("cluster_size"),
            "n_clusters",
            (F.col("sz") * F.col("n_clusters")).alias("n_docs"),
        )
    )


# ---------------------------------------------------------------------------
# split-leakage audit — near-dup pairs straddling train/val/test
# ---------------------------------------------------------------------------


@register(
    "x_split_leakage",
    oracle=f"""
    WITH {_CORPUS_SQL}, {_TOKS_SQL}, {_SHINGLES_SQL},
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
    pairs AS (SELECT id_a, id_b, round(n / (za.s + zb.s - n), 4) AS jaccard
              FROM inter
              JOIN sz za ON za.doc_id = id_a JOIN sz zb ON zb.doc_id = id_b
              WHERE n / (za.s + zb.s - n) >= 0.6),
    sp AS (SELECT doc_id,
                  CASE WHEN h % 100 < 90 THEN 'train'
                       WHEN h % 100 < 95 THEN 'val' ELSE 'test' END AS split
           FROM (SELECT doc_id,
                        ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
                 FROM corpus))
    SELECT p.id_a, p.id_b, p.jaccard, sa.split AS split_a, sb.split AS split_b
    FROM pairs p JOIN sp sa ON sa.doc_id = p.id_a
                 JOIN sp sb ON sb.doc_id = p.id_b
    WHERE sa.split <> sb.split
    """,
)
def x_split_leakage(spark: SparkSession, sf: str) -> DataFrame:
    """Split-leakage audit: near-dup pairs (0.6 n-gram Jaccard) whose two
    documents landed in DIFFERENT splits of the x_split_hash assignment —
    eval contamination from within the corpus itself.  Decontamination
    (x_decontaminate*) screens against EXTERNAL benchmarks; this screens
    the internal val/test splits, which leak the same way when a
    document and its near-copy straddle the split boundary (the planted
    +1000000 copies hash independently of their originals, so ~10% land
    across; the fixture surfaces 14 leaking pairs at sf0.01).  The fix
    is group-aware splitting — assign by dedup CLUSTER id, not doc id —
    and this key is the gate proving whether that's needed.

    Scale: the pair list is the GUARDED dedup output (``max_df=10`` —
    rare-shingle inverted index, exact scores on full sets; the
    exhaustive mode measured 7.5× on 10× data, the guard bounds the
    worst bucket at max_df²); split assignment is a pure per-row hash
    projection joined onto pair endpoints (pair-sized join,
    AQE-broadcast at driver scale) — the audit costs one projection +
    two id-keyed lookups on top of dedup the pipeline already runs.
    """
    corpus = _doc_corpus(spark, sf)
    pairs = ngram_jaccard_pairs(corpus, threshold=0.6, max_df=10)
    sp = hash_split(corpus, "doc_id").select("doc_id", "split")
    return (
        pairs.join(sp.select(F.col("doc_id").alias("id_a"),
                             F.col("split").alias("split_a")), "id_a")
        .join(sp.select(F.col("doc_id").alias("id_b"),
                        F.col("split").alias("split_b")), "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "jaccard", "split_a", "split_b")
    )


# ---------------------------------------------------------------------------
# cluster-aware splitting — the FIX x_split_leakage's audit calls for
# ---------------------------------------------------------------------------


@register(
    "x_split_cluster_safe",
    oracle=f"""
    WITH RECURSIVE {_CORPUS_SQL}, {_TOKS_SQL}, {_SHINGLES_SQL},
    sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id),
    rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 10),
    csh AS (SELECT s.doc_id, s.shingle
            FROM sh s JOIN rare r ON r.shingle = s.shingle),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM csh a JOIN csh b
               ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
    inter AS (SELECT c.id_a, c.id_b, count(*) AS n
              FROM cand c JOIN sh a ON a.doc_id = c.id_a
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
    lab AS (SELECT node AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY node),
    sp AS (SELECT doc_id, cluster_id,
                  CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
                       ELSE 'test' END AS split
           FROM (SELECT doc_id, cluster_id,
                        ('0x' || substr(md5('split:' || CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
                 FROM lab)),
    leaks AS (SELECT count(*) AS n_leaking_pairs
              FROM pairs p JOIN sp sa ON sa.doc_id = p.id_a
                           JOIN sp sb ON sb.doc_id = p.id_b
              WHERE sa.split <> sb.split)
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
           CAST(l.n_leaking_pairs AS BIGINT) AS n_leaking_pairs
    FROM sp CROSS JOIN leaks l
    GROUP BY split, l.n_leaking_pairs
    """,
)
def x_split_cluster_safe(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster-aware train/val/test splitting — the FIX for what
    x_split_leakage measures: hash-split by the near-dup CLUSTER id
    (connected-component canonical) instead of the document id, so a
    document and all its near-copies land in the SAME split by
    construction.  Output is the per-split census (docs, clusters) with
    the cross-split near-dup pair count carried on every row — zero, by
    construction, and driver-adjudicated as such (the doc-id split
    leaks 14 pairs on the same corpus).  This is the standard leakage
    remedy (group-aware splitting; GroupKFold in the sklearn idiom),
    expressed on the dedup components the pipeline already computes.

    Scale: dedup + CC is the guarded x_dedup_cluster path (max_df=10);
    the split itself is one md5 projection on the cluster id and the
    leak count is a pair-sized join — both free next to the dedup.
    Stability caveat (docstring'd on purpose): unlike doc-id hashing,
    cluster ids can MERGE as new documents connect two old clusters, so
    a cluster's split can change across corpus versions — production
    freezes the split at release cut, which is when this census runs.
    """
    corpus = _doc_corpus(spark, sf)
    # the guarded inverted-index join feeds BOTH the component labeling
    # and the leak-count verification — store it once.  Measured
    # 13.2 s → 9.3 s at sf0.1 when the pair subtree stopped recomputing.
    pairs = stored(
        ngram_jaccard_pairs(corpus, threshold=0.6, max_df=10)
        .select("id_a", "id_b")
    )
    labels = connected_components(pairs, corpus.select("doc_id"))
    sp = hash_split(labels, "cluster_id").select("doc_id", "cluster_id", "split")
    leaks = (
        pairs.join(sp.select(F.col("doc_id").alias("id_a"),
                             F.col("split").alias("sa")), "id_a")
        .join(sp.select(F.col("doc_id").alias("id_b"),
                        F.col("split").alias("sb")), "id_b")
        .filter(F.col("sa") != F.col("sb"))
        .agg(F.count("*").alias("n_leaking_pairs"))
    )
    return (
        sp.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("cluster_id").alias("n_clusters"),
        )
        .crossJoin(leaks)
        .select("split", "n_docs", "n_clusters", "n_leaking_pairs")
    )


# ---------------------------------------------------------------------------
# per-document keyword extraction — tf-idf top-3
# ---------------------------------------------------------------------------


@register(
    "x_keywords_tfidf",
    oracle=f"""
    WITH {_CORPUS_SQL}, {_TOKS_SQL},
    ex AS (SELECT doc_id, unnest(t) AS term FROM toks),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    nd AS (SELECT count(*) AS n_docs FROM toks)
    SELECT doc_id, term, CAST(rank AS INT) AS rank, tfidf FROM (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln(nd.n_docs / dfreq.df), 6) AS tfidf,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY round(tf.tf * ln(nd.n_docs / dfreq.df), 6) DESC,
                        tf.term ASC) AS rank
      FROM tf JOIN dfreq ON dfreq.term = tf.term CROSS JOIN nd) z
    WHERE rank <= 3
    """,
)
def x_keywords_tfidf(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document keyword extraction: each document's top-3 terms by
    tf·idf (idf = ln(N/df)) — the tagging/metadata op next to the
    corpus-level x_pmi_collocations (multi-word units) and the retrieval
    x_text_tfidf (query-term scoring).  Keywords are what a curation UI
    or topic-routing rule consumes per document.

    Scale: the same two map-side-combinable counts as every tf-idf key
    (doc×term, then term df); the per-doc top-3 is a WindowGroupLimit
    rank over the doc-keyed shuffle the tf count already made —
    no global sort, no second corpus pass.  Ordered on the ROUNDED
    score so libm ln ulps can't flip rank boundaries.
    """
    corpus = _doc_corpus(spark, sf)
    ex = corpus.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = ex.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    nd = corpus.select("doc_id").agg(F.count("*").alias("n_docs"))
    tfidf = F.round(
        F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        tf.join(dfreq, "term")
        .crossJoin(nd)
        .select("doc_id", "term", tfidf.alias("tfidf"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "rank", "tfidf")
    )


# ---------------------------------------------------------------------------
# metadata QA — declared-vs-detected language confusion census
# ---------------------------------------------------------------------------


@register(
    "x_lang_mismatch",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(lower(text), '[[:space:]]+'), x -> x <> '') AS t
      FROM documents),
    scored AS (
      SELECT doc_id, lang,
             len(list_filter(t, x -> list_contains(['the','a','of','and','to'], x))) AS s_en,
             len(list_filter(t, x -> list_contains(['der','die','und','ist','das'], x))) AS s_de,
             len(list_filter(t, x -> list_contains(['le','la','et','les','des'], x))) AS s_fr,
             len(list_filter(t, x -> list_contains(['el','que','y','los','una'], x))) AS s_es
      FROM toks),
    pred AS (
      SELECT doc_id, lang,
             CASE WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'und'
                  WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                  WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                  WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS pred_lang
      FROM scored)
    SELECT lang AS declared, pred_lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN pred_lang <> lang AND pred_lang <> 'und'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hard_mismatch
    FROM pred GROUP BY lang, pred_lang
    """,
)
def x_lang_mismatch(spark: SparkSession, sf: str) -> DataFrame:
    """Metadata-QA confusion census: the declared ``lang`` column against
    the engine's own detector (x_text_langid's stopword argmax),
    aggregated to a (declared, predicted) matrix with a hard-mismatch
    count (predicted a DIFFERENT language with evidence — 'und' rows are
    soft, no evidence either way).  Declared language labels in crawled
    corpora are routinely wrong (inherited HTTP headers, site-level
    defaults); multilingual sampling weights (x_data_temperature) built
    on bad labels misallocate the whole budget, so this census is the
    gate between ingestion and mixture planning.

    Scale: the detector is a map-side HOF projection (zero joins); the
    census is ONE (declared, predicted)-keyed count — languages² rows
    out.  Cheapest audit in the family.
    """
    # the SAME detector expression x_text_langid registers (tierc
    # lang_pred) — one definition, so detector tuning can never make the
    # langid key and this census silently disagree.
    from .tierc import lang_pred

    d = table(spark, sf, "documents")
    hard = (F.col("pred_lang") != F.col("declared")) & (F.col("pred_lang") != "und")
    return (
        d.select(F.col("lang").alias("declared"),
                 lang_pred().alias("pred_lang"))
        .groupBy("declared", "pred_lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(hard.cast("long")).alias("n_hard_mismatch"),
        )
    )


# ---------------------------------------------------------------------------
# embedding-store QA — per-label norm envelope + shape consistency
# ---------------------------------------------------------------------------


@register(
    "x_embed_norms",
    oracle="""
    WITH n AS (
      SELECT vec_id, label,
             len(embedding) AS n_dims,
             sqrt(list_sum([x * x for x in embedding::DOUBLE[]])) AS nrm
      FROM embeddings)
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(min(n_dims) AS INT) AS dims_min,
           CAST(max(n_dims) AS INT) AS dims_max,
           round(min(nrm), 6) AS min_norm,
           round(max(nrm), 6) AS max_norm,
           round(avg(nrm), 6) AS mean_norm,
           CAST(sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
    FROM n GROUP BY label
    """,
)
def x_embed_norms(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-store QA envelope: per label, vector count, dimension
    min/max (catches ragged arrays from a bad writer), L2-norm envelope
    (catches un-normalized batches mixed into a unit-norm store — cosine
    vs dot-product search silently disagree then), and the zero-norm
    count (the degenerate vectors every cosine operator here guards with
    try_divide).  Run before index builds (x_sim_*), quantization
    (x_embed_quantize), and SemDeDup — all assume a sane norm envelope.

    Scale: one map-side projection (norm + size per row) and one
    label-keyed agg, all map-side combinable — the cheapest pass over a
    vector corpus; at 100 TB this is the scan you piggyback on ingest.
    """
    from ..functions.vectors import l2_norm

    e = table(spark, sf, "embeddings")
    n = e.select(
        "label", F.size("embedding").alias("n_dims"),
        l2_norm(F.col("embedding")).alias("nrm"),
    )
    return n.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.min("n_dims").cast("int").alias("dims_min"),
        F.max("n_dims").cast("int").alias("dims_max"),
        F.round(F.min("nrm"), 6).alias("min_norm"),
        F.round(F.max("nrm"), 6).alias("max_norm"),
        F.round(F.avg("nrm"), 6).alias("mean_norm"),
        F.sum((F.col("nrm") == 0).cast("long")).alias("n_zero"),
    )


# ---------------------------------------------------------------------------
# corpus-version diff — snapshot-to-snapshot change audit
# ---------------------------------------------------------------------------


@register(
    "x_dataset_diff",
    oracle="""
    WITH v1 AS (SELECT doc_id, md5(text) AS fp FROM documents),
    v2 AS (
      SELECT doc_id, md5(concat(text, ' rev2')) AS fp
      FROM documents WHERE doc_id < 25
      UNION ALL
      SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id >= 50
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id,
             md5(concat('new doc ', CAST(doc_id AS VARCHAR))) AS fp
      FROM documents WHERE doc_id < 3)
    SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
           CASE WHEN a.doc_id IS NULL THEN 'added'
                WHEN b.doc_id IS NULL THEN 'removed'
                ELSE 'modified' END AS change
    FROM v1 a FULL OUTER JOIN v2 b ON b.doc_id = a.doc_id
    WHERE a.doc_id IS NULL OR b.doc_id IS NULL OR a.fp <> b.fp
    """,
)
def x_dataset_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-version diff: fingerprint-level added / removed / modified
    rows between two dataset snapshots — the release audit a training-
    data pipeline publishes with every corpus version (what changed
    since the release the last model trained on; unchanged rows are
    suppressed because at 100 TB they're ~everything).  The fixture
    derives v2 deterministically from v1 (25 edited, 25 dropped, 3
    added) so both engines diff the identical snapshot pair; in
    production the two sides are two dated parquet roots.

    Scale: two md5 projections + ONE doc_id-keyed full-outer join — no
    text shipped through the shuffle (fingerprints only, the
    x_dedup_exact trick); the change census is a follow-up keyed count.
    Sort-merge on the id key; at 100 TB both sides bucket by doc_id at
    rest and the join is co-partitioned.
    """
    d = table(spark, sf, "documents")
    v1 = d.select("doc_id", F.md5("text").alias("fp"))
    v2 = (
        d.filter(F.col("doc_id") < 25)
        .select("doc_id", F.md5(F.concat(F.col("text"), F.lit(" rev2"))).alias("fp"))
        .unionByName(
            d.filter(F.col("doc_id") >= 50).select("doc_id", F.md5("text").alias("fp"))
        )
        .unionByName(
            d.filter(F.col("doc_id") < 3).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.md5(F.concat(F.lit("new doc "), F.col("doc_id").cast("string"))).alias("fp"),
            )
        )
    )
    a, b = v1.alias("a"), v2.alias("b")
    change = (
        F.when(F.col("a.doc_id").isNull(), F.lit("added"))
        .when(F.col("b.doc_id").isNull(), F.lit("removed"))
        .otherwise(F.lit("modified"))
    )
    return (
        a.join(b, F.col("a.doc_id") == F.col("b.doc_id"), "full_outer")
        .filter(
            F.col("a.doc_id").isNull()
            | F.col("b.doc_id").isNull()
            | (F.col("a.fp") != F.col("b.fp"))
        )
        .select(
            F.coalesce(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id"),
            change.alias("change"),
        )
    )


# ---------------------------------------------------------------------------
# per-source domain divergence — KL(source || corpus) over hashed buckets
# ---------------------------------------------------------------------------


@register(
    "x_source_kl",
    oracle="""
    WITH tb AS (
      SELECT source,
             (('0x' || substr(md5(tok), 1, 8))::BIGINT) % 256 AS bucket
      FROM (SELECT source,
                   unnest(list_filter(string_split_regex(lower(text), '[[:space:]]+'),
                                      x -> x <> '')) AS tok
            FROM documents)),
    sb AS (SELECT source, bucket, count(*) AS c FROM tb GROUP BY source, bucket),
    allb AS (SELECT s.source, r.range AS bucket
             FROM (SELECT DISTINCT source FROM tb) s CROSS JOIN range(256) r),
    f AS (SELECT a.source, a.bucket, coalesce(sb.c, 0) + 0.5 AS cs
          FROM allb a LEFT JOIN sb ON sb.source = a.source AND sb.bucket = a.bucket),
    cb AS (SELECT bucket, sum(cs) AS cc FROM f GROUP BY bucket),
    tot AS (SELECT source, sum(cs) AS ts FROM f GROUP BY source),
    ct AS (SELECT sum(cc) AS tc FROM cb)
    SELECT f.source,
           round(sum((f.cs / t.ts) * ln((f.cs / t.ts) / (cb.cc / ct.tc))), 6)
             AS kl_nats
    FROM f JOIN tot t ON t.source = f.source
    JOIN cb ON cb.bucket = f.bucket CROSS JOIN ct
    GROUP BY f.source
    """,
)
def x_source_kl(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source domain divergence: KL(p_source ‖ p_corpus) in nats over
    256 hashed unigram buckets with +0.5 Laplace smoothing (the smoothed
    count table INCLUDES empty buckets, so KL is finite by construction).
    High-KL sources are lexically distinctive domains — the signal that
    decides which sources deserve their own mixture cell
    (x_data_temperature) or their own DSIR target (x_dsir); near-zero
    KL sources are interchangeable with the pool.  Same hashed-feature
    trick as x_dsir: the "language model" is bucket-count-sized no
    matter the corpus.

    Scale: one explode + (source, bucket) count (map-side combinable) —
    the only corpus-sized pass; densification joins a sources×256
    scaffold (domain-cardinality-sized) and every aggregate after it is
    bucket-table-sized; normalizers are 1-row/bucket-sized broadcasts.
    """
    d = table(spark, sf, "documents")
    tb = d.select("source", F.explode(tokens("text")).alias("tok")).select(
        "source", F.pmod(md5_u32(F.col("tok")), F.lit(256)).alias("bucket")
    )
    sb = tb.groupBy("source", "bucket").agg(F.count("*").alias("c"))
    allb = (
        tb.select("source")
        .distinct()
        .crossJoin(spark.range(256).select(F.col("id").cast("bigint").alias("bucket")))
    )
    f = (
        allb.join(sb, ["source", "bucket"], "left")
        .select("source", "bucket",
                (F.coalesce(F.col("c"), F.lit(0)) + 0.5).alias("cs"))
    )
    cb = f.groupBy("bucket").agg(F.sum("cs").alias("cc"))
    # every count is a half-integer, so the per-source normaliser
    # Σ cc is the exact corpus total on every engine
    kl = smoothed_kl(
        # cb: 256 buckets, estimated from the exploded token stream
        # (15 MB at sf0.01)
        f.join(F.broadcast(cb), "bucket"), ["source"], "cs", "cc"
    )
    return kl.select("source", F.round("kl", 6).alias("kl_nats"))
