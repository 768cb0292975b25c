"""Tier C — LLM-training-data pipeline operators (SURVEY.md §2 Tier C;
BASELINE.json north star): dedup family, similarity search, text analysis,
multimodal columns, sessionization.

Near-dup keys plant ground-truth duplicates by unioning the documents /
embeddings tables with perturbed copies of ids < 50 (deterministic in both
engines), so candidate generation provably finds them.  All hashing is the
portable md5-based scheme (functions.hashing), making the DuckDB oracles
exact replicas, not approximations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import md5_u32
from ..functions.text import (
    STOPWORDS,
    char_ngrams_from_lower,
    doc_fingerprint,
    quality_score,
    shingles_from_tokens,
    token_count,
    tokens,
)
from ..functions.vectors import dot_double, l2_norm
from ..operators.dedup import (
    connected_components,
    exact_dedup,
    minhash_near_dup,
    ngram_jaccard_pairs,
    simhash_pairs,
    simhash_pairs_collapsed,
    simhash_signatures,
)
from ..operators.multimodal import (
    build_codec_assets,
    decode_codec_features,
    extract_features,
    pack_assets,
)
from ..operators.sessionize import gap_sessions
from ..operators.similarity import (
    lsh_topk,
    rademacher_planes,
    cosine_topk,
    ivf_topk,
    label_centroids,
    prep_vectors,
)
from .registry import register, table

# ---------------------------------------------------------------------------
# planted-duplicate corpora (identical construction on both engines)
# ---------------------------------------------------------------------------


def _doc_corpus(spark: SparkSession, sf: str) -> DataFrame:
    d = table(spark, sf, "documents").select("doc_id", "text")
    dups = (
        d.filter(F.col("doc_id") < 50)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zz9 qq8")).alias("text"),
        )
    )
    return d.unionByName(dups)


_CORPUS_SQL = """
    corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, concat(text, ' zz9 qq8') AS text
      FROM documents WHERE doc_id < 50
    )
"""

_TOKS_SQL = r"""
    toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[[:space:]]+'), x -> x <> '') AS t
      FROM corpus
    )
"""

_SHINGLES_SQL = """
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest([array_to_string(t[i:i+2], ' ')
                       for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS shingle
        FROM toks)
    )
"""


def _emb_corpus(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "embeddings")
    dups = e.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding", "label"
    )
    return e.select("vec_id", "embedding", "label").unionByName(dups)


_EMB_CORPUS_SQL = """
    ecorpus AS (
      SELECT vec_id, embedding, label FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id, embedding, label
      FROM embeddings WHERE vec_id < 50
    )
"""


# ---------------------------------------------------------------------------
# C1 — exact dedup
# ---------------------------------------------------------------------------


@register(
    "x_dedup_exact",
    oracle="""
    SELECT event_id, user_id, event_type FROM (
      SELECT event_id, user_id, event_type,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY event_id) AS rn
      FROM events) t
    WHERE rn = 1
    """,
)
def x_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """C1: deterministic exact dedup (keep first by event_id) — the
    'retried satellite downlink' case keyed like (deviceid, packetid)."""
    ev = table(spark, sf, "events")
    return exact_dedup(ev, ["user_id", "event_type"], [F.col("event_id")]).select(
        "event_id", "user_id", "event_type"
    )


# ---------------------------------------------------------------------------
# C2 — MinHash-LSH near-dup (+ SimHash + exact n-gram Jaccard)
# ---------------------------------------------------------------------------


@register(
    "x_dedup_near",
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
    sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id),
    inter AS (SELECT c.id_a, c.id_b, count(*) AS n
              FROM cand c
              JOIN sh a ON a.doc_id = c.id_a
              JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
              GROUP BY c.id_a, c.id_b)
    SELECT id_a, id_b, round(n / (za.s + zb.s - n), 4) AS jaccard
    FROM inter
    JOIN sz za ON za.doc_id = id_a
    JOIN sz zb ON zb.doc_id = id_b
    WHERE n / (za.s + zb.s - n) >= 0.8
    """,
)
def x_dedup_near(spark: SparkSession, sf: str) -> DataFrame:
    """C2: MinHash(16 perms)-LSH(4 bands) near-dup with exact-Jaccard
    verification of candidates."""
    return minhash_near_dup(_doc_corpus(spark, sf), threshold=0.8)


@register(
    "x_dedup_simhash",
    oracle=f"""
    WITH {_CORPUS_SQL}, {_TOKS_SQL},
    tok AS (SELECT DISTINCT doc_id, tok FROM (SELECT doc_id, unnest(t) AS tok FROM toks)),
    h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hh FROM tok),
    bits AS (SELECT doc_id, b,
                    sum(CASE WHEN (hh >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
             FROM h CROSS JOIN unnest(range(60)) u(b) GROUP BY doc_id, b),
    sig AS (SELECT doc_id,
                   CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
            FROM bits GROUP BY doc_id),
    banded AS (SELECT doc_id, simhash, b AS band_id,
                      (simhash >> (b * 15)) & 32767 AS band_val
               FROM sig CROSS JOIN unnest(range(4)) u(b))
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM banded a JOIN banded b USING (band_id, band_val)
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.simhash, b.simhash)) <= 8
    """,
)
def x_dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash(60-bit) near-dup: 15-bit band candidate join + Hamming≤8.

    Clique guard (round-10, clearing the r9 VERDICT `weak`): the output
    is the RAW pair list, quadratic in duplicate-clique size — SimHash
    signatures are UNIGRAM-SET functions, so any corpus with large
    exact-duplicate (or token-permuted) groups turns each group into a
    Hamming-0 clique (the .scratch/sf1 perf corpus manufactures exactly
    that: its token SHUFFLE defeats 3-gram shingles but preserves
    unigram sets, so every 10-copy family is one clique, and the direct
    band self-join measured uncollectable, SCALE.md §7o).  The plan now
    runs ``simhash_pairs_collapsed``: identical signatures collapse to
    one representative BEFORE the band join (state bounded by
    distinct-signature density) and the exact raw pair list is
    recovered as streamed implied pairs — SAME rows, columns and
    first-collision-band semantics as the direct join on any corpus,
    O(clique) shuffle state instead of O(clique²).  For clique-collapsed
    OUTPUT (the production readout at scale) see x_dedup_simhash_rep.
    """
    sigs = simhash_signatures(_doc_corpus(spark, sf))
    return simhash_pairs_collapsed(sigs)


@register(
    "x_dedup_simhash_rep",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, concat(text, ' zz9 qq8') AS text
      FROM documents WHERE doc_id < 50),
    toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[[:space:]]+'), x -> x <> '') AS t
      FROM corpus),
    tok AS (SELECT DISTINCT doc_id, tok FROM (SELECT doc_id, unnest(t) AS tok FROM toks)),
    h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hh FROM tok),
    bits AS (SELECT doc_id, b,
                    sum(CASE WHEN (hh >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
             FROM h CROSS JOIN unnest(range(60)) u(b) GROUP BY doc_id, b),
    sig AS (SELECT doc_id,
                   CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
            FROM bits GROUP BY doc_id),
    cl AS (SELECT simhash, min(doc_id) AS rep_id, count(*) AS n_members
           FROM sig GROUP BY simhash),
    rbanded AS (SELECT rep_id, simhash, b AS band_id,
                       (simhash >> (b * 15)) & 32767 AS band_val
                FROM cl CROSS JOIN unnest(range(4)) u(b)),
    prs AS (SELECT DISTINCT a.rep_id AS id_a, b.rep_id AS id_b,
                   bit_count(xor(a.simhash, b.simhash)) AS hamming
            FROM rbanded a JOIN rbanded b USING (band_id, band_val)
            WHERE a.rep_id < b.rep_id
              AND bit_count(xor(a.simhash, b.simhash)) <= 8),
    nb AS (SELECT rep_id, count(*) AS n_near_nbrs, min(hamming) AS min_hamming
           FROM (SELECT id_a AS rep_id, hamming FROM prs
                 UNION ALL SELECT id_b AS rep_id, hamming FROM prs)
           GROUP BY rep_id)
    SELECT CAST(cl.rep_id AS BIGINT) AS rep_id,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(n_members * (n_members - 1) // 2 AS BIGINT) AS exact_pairs,
           CAST(coalesce(n_near_nbrs, 0) AS BIGINT) AS n_near_nbrs,
           CAST(min_hamming AS INT) AS min_hamming
    FROM cl LEFT JOIN nb ON nb.rep_id = cl.rep_id
    """,
)
def x_dedup_simhash_rep(spark: SparkSession, sf: str) -> DataFrame:
    """Representative-collapsed SimHash dedup — the PRODUCTION shape of
    x_dedup_simhash, born from its measured sf1 clique boundary (round
    9): identical signatures (exact or token-permuted duplicates —
    SimHash is a unigram-set function) collapse FIRST into one
    representative per signature with a member count, and the 15-bit
    band candidate join + Hamming ≤ 8 verify runs over REPRESENTATIVES
    ONLY.  A k-copy duplicate family then costs ONE cluster row and
    k − 1 implied pairs (reported as exact_pairs = C(n_members, 2))
    instead of C(k, 2) materialized rows — O(clique) state, never
    O(clique²).  Per representative: member count, implied exact-dup
    pair count, near-duplicate neighbor count among representatives,
    and the closest neighbor's Hamming distance.

    Cross-engine: signatures are the repo's deterministic md5 SimHash
    (bit-identical on both engines — the packed-lane Spark build vs the
    60-sum DuckDB replay is already pinned by x_dedup_simhash); every
    output is integer arithmetic (n(n−1) DIV 2 is exact), min_hamming
    is NULL for isolated representatives on both engines.

    Scale: the collapse is one map-side-combinable groupBy(simhash);
    the band join's bucket width is bounded by DISTINCT-signature
    density, which duplicate mass can no longer inflate — the sf1
    corpus that made the raw-pair key uncollectable (10-copy Hamming-0
    cliques) runs here at |distinct signatures| ≈ corpus/10 rows.
    """
    sigs = simhash_signatures(_doc_corpus(spark, sf))
    clusters = sigs.groupBy("simhash").agg(
        F.min("doc_id").alias("doc_id"), F.count("*").alias("n_members")
    )
    pairs = simhash_pairs(
        clusters.select("doc_id", "simhash"), n_bands=4
    )
    nbrs = (
        pairs.select(F.col("id_a").alias("doc_id"), "hamming")
        .unionByName(pairs.select(F.col("id_b").alias("doc_id"), "hamming"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_near_nbrs"),
            F.min("hamming").alias("min_hamming"),
        )
    )
    return clusters.join(nbrs, "doc_id", "left").select(
        F.col("doc_id").cast("bigint").alias("rep_id"),
        F.col("n_members").cast("bigint").alias("n_members"),
        F.expr("CAST(n_members * (n_members - 1) DIV 2 AS BIGINT)").alias(
            "exact_pairs"
        ),
        F.coalesce(F.col("n_near_nbrs"), F.lit(0))
        .cast("bigint")
        .alias("n_near_nbrs"),
        F.col("min_hamming").cast("int").alias("min_hamming"),
    )


_SIMHASH_SIG_SQL = """
    tok AS (SELECT DISTINCT doc_id, tok
            FROM (SELECT doc_id, unnest(t) AS tok FROM toks)),
    h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hh FROM tok),
    bits AS (SELECT doc_id, b,
                    sum(CASE WHEN (hh >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
             FROM h CROSS JOIN unnest(range(60)) u(b) GROUP BY doc_id, b),
    sig AS (SELECT doc_id,
                   CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
            FROM bits GROUP BY doc_id),
    banded AS (SELECT doc_id, simhash, b AS band_id,
                      (simhash >> (b * 15)) & 32767 AS band_val
               FROM sig CROSS JOIN unnest(range(4)) u(b))
"""


@register(
    "x_dedup_ledger_near",
    oracle=f"""
    WITH {_CORPUS_SQL}, {_TOKS_SQL}, {_SIMHASH_SIG_SQL},
    pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM banded a JOIN banded b USING (band_id, band_val)
              WHERE a.doc_id < b.doc_id
                AND bit_count(xor(a.simhash, b.simhash)) <= 8),
    evens AS (SELECT s.doc_id, s.simhash FROM sig s
              WHERE s.doc_id % 2 = 0
                AND NOT EXISTS (SELECT 1 FROM pairs p
                                WHERE p.id_b = s.doc_id AND p.id_a % 2 = 0))
    SELECT s.doc_id, s.simhash FROM sig s
    WHERE s.doc_id % 2 = 1
      AND NOT EXISTS (SELECT 1 FROM pairs p
                      WHERE p.id_b = s.doc_id AND p.id_a % 2 = 1)
      AND NOT EXISTS (SELECT 1
                      FROM banded a
                      JOIN banded e USING (band_id, band_val)
                      JOIN evens ea ON ea.doc_id = e.doc_id
                      WHERE a.doc_id = s.doc_id
                        AND bit_count(xor(a.simhash, e.simhash)) <= 8)
    """,
)
def x_dedup_ledger_near(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-batch NEAR-dup admission against a persistent SimHash ledger
    (operators/dedup_ledger.py): batch 1 (even doc_ids) builds the ledger,
    batch 2 (odd doc_ids) is admitted only where no band collision within
    Hamming≤8 exists against batch 1's ADMITTED signatures, after the
    in-batch keep-min rule.  Exercises the real on-disk ledger write/read
    (per-batch-id dynamic-overwrite partitions) inside a query the oracle
    reproduces purely relationally."""
    import shutil

    from ..operators.dedup_ledger import _read_near_ledger, admit_near_new_documents

    ledger = "/tmp/spark_graft_sinks/near_ledger"
    shutil.rmtree(ledger, ignore_errors=True)
    corpus = _doc_corpus(spark, sf)
    admit_near_new_documents(
        spark, corpus.filter(F.col("doc_id") % 2 == 0), ledger, batch_id=1
    )
    admit_near_new_documents(
        spark, corpus.filter(F.col("doc_id") % 2 == 1), ledger, batch_id=2
    )
    # r14 optimization (guide §1.2 "don't compute things you throw
    # away"): the batch-2 ledger partition written just above IS the
    # admitted (doc_id, simhash) set — the old form re-derived the
    # admitted docs through a second full admission replan and then
    # recomputed their signatures from text a third time.  Reading the
    # partition back (pruned to batch_id=2) returns the identical rows;
    # the ledger is wiped at the top of this function, so every
    # invocation still computes both batches from the parquet inputs.
    return (
        _read_near_ledger(spark, ledger)
        .filter(F.col("batch_id") == 2)
        .select("doc_id", "simhash")
    )


@register(
    "x_dedup_ngram",
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
def x_dedup_ngram(spark: SparkSession, sf: str) -> DataFrame:
    """Exact n-gram (3-word shingle) Jaccard dedup via inverted-index join —
    the exact method MinHash approximates."""
    return ngram_jaccard_pairs(_doc_corpus(spark, sf), threshold=0.6)


@register(
    "x_dedup_embed",
    oracle=f"""
    WITH {_EMB_CORPUS_SQL}
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos_sim
    FROM ecorpus a JOIN ecorpus b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.99
      AND list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]) > 0
      AND list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0
    """,
)
def x_dedup_embed(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup within label blocks (blocking keeps the
    pair space linear per block — at scale, LSH buckets replace labels).
    Each side casts/norms its vectors once below the join (prep_vectors);
    the per-pair kernel is a bare dot product."""
    e = _emb_corpus(spark, sf)
    a = prep_vectors(e, "vec_id", "embedding", "id_a", "qd", "qn", extra=["label"])
    b = prep_vectors(e, "vec_id", "embedding", "id_b", "cd", "cn", extra=["label"])
    raw = F.try_divide(
        dot_double(F.col("qd"), F.col("cd")), F.col("qn") * F.col("cn")
    )
    return (
        a.join(b, "label")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(raw >= 0.99)
        .select("id_a", "id_b", F.round(raw, 4).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# C3 — similarity search
# ---------------------------------------------------------------------------


@register(
    "x_sim_topk",
    oracle="""
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CAST(row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
                      c.vec_id ASC) AS INT) AS rank,
           round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS sim
    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < 10
      AND list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]) > 0
      AND list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]) > 0
    QUALIFY rank <= 5
    """,
)
def x_sim_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-5 for 10 query vectors — broadcast queries,
    score corpus shards in place, per-query heap."""
    e = table(spark, sf, "embeddings")
    out = cosine_topk(e, e.filter(F.col("vec_id") < 10), k=5)
    return out.withColumn("rank", F.col("rank").cast("int"))


@register(
    "x_sim_ivf",
    oracle="""
    WITH cent AS (
      SELECT label AS centroid_id, p, round(avg(embedding[p]::DOUBLE), 6) AS m
      FROM embeddings CROSS JOIN unnest(range(1, 65)) u(p)
      GROUP BY label, p),
    centv AS (SELECT centroid_id, list(m ORDER BY p) AS centroid FROM cent GROUP BY centroid_id),
    assign AS (
      SELECT vec_id, embedding, centroid_id AS cluster FROM (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], c.centroid), 6) DESC,
                          c.centroid_id ASC) AS rn
        FROM embeddings e CROSS JOIN centv c
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
def x_sim_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF probe-1 ANN: coarse centroids (label-seeded means, rounded to
    engine-independent doubles), map-side assignment, search only the
    query's cluster."""
    e = table(spark, sf, "embeddings")
    cents = label_centroids(e)
    out = ivf_topk(e, e.filter(F.col("vec_id") < 10), cents)
    return out.withColumn("rank", F.col("rank").cast("int"))


# ---------------------------------------------------------------------------
# C4 — text analysis
# ---------------------------------------------------------------------------


@register(
    "x_text_tf",
    oracle=r"""
    WITH toks AS (
      SELECT lang, unnest(list_filter(string_split_regex(lower(text), '[[:space:]]+'), x -> x <> '')) AS term
      FROM documents),
    cnt AS (SELECT lang, term, count(*) AS n FROM toks GROUP BY lang, term)
    SELECT lang, term, n,
           CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, term ASC) AS INT) AS rnk
    FROM cnt QUALIFY rnk <= 10
    """,
)
def x_text_tf(spark: SparkSession, sf: str) -> DataFrame:
    """Term frequency: top-10 terms per language (tokenize → explode →
    count → windowed top-k)."""
    d = table(spark, sf, "documents")
    cnt = (
        d.select("lang", F.explode(tokens("text")).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("term").asc())
    return (
        cnt.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 10)
    )


_LANG_SETS = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "und", "ist", "das"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "que", "y", "los", "una"],
}


def lang_pred():
    """The detector expression behind x_text_langid AND the
    x_lang_mismatch audit (tierg) — ONE definition so tuning the
    priority order or the stopword sets can never make the langid key
    and the mismatch census silently disagree."""
    t = tokens("text")

    def _hits(words: list[str]):
        return F.size(F.filter(t, lambda x: x.isin(*words)))

    s_en, s_de, s_fr, s_es = (
        _hits(_LANG_SETS["en"]),
        _hits(_LANG_SETS["de"]),
        _hits(_LANG_SETS["fr"]),
        _hits(_LANG_SETS["es"]),
    )
    return (
        F.when((s_en == 0) & (s_de == 0) & (s_fr == 0) & (s_es == 0), F.lit("und"))
        .when((s_en >= s_de) & (s_en >= s_fr) & (s_en >= s_es), F.lit("en"))
        .when((s_de >= s_fr) & (s_de >= s_es), F.lit("de"))
        .when(s_fr >= s_es, F.lit("fr"))
        .otherwise(F.lit("es"))
    )


@register(
    "x_text_langid",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[[:space:]]+'), x -> x <> '') AS t
      FROM documents),
    scored AS (
      SELECT doc_id,
             len(list_filter(t, x -> list_contains(['the','a','of','and','to'], x))) AS s_en,
             len(list_filter(t, x -> list_contains(['der','die','und','ist','das'], x))) AS s_de,
             len(list_filter(t, x -> list_contains(['le','la','et','les','des'], x))) AS s_fr,
             len(list_filter(t, x -> list_contains(['el','que','y','los','una'], x))) AS s_es
      FROM toks)
    SELECT doc_id,
           CASE WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'und'
                WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                WHEN s_fr >= s_es THEN 'fr'
                ELSE 'es' END AS pred_lang
    FROM scored
    """,
)
def x_text_langid(spark: SparkSession, sf: str) -> DataFrame:
    """Heuristic language ID: stopword-set hit counts, fixed-priority
    argmax (en>de>fr>es), 'und' when no evidence."""
    d = table(spark, sf, "documents")
    return d.select("doc_id", lang_pred().alias("pred_lang"))


@register(
    "x_text_quality",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(lower(text), '[[:space:]]+'), x -> x <> '') AS t
      FROM documents),
    m AS (
      SELECT doc_id,
             len(t) AS n_tok,
             length(text) / greatest(len(t), 1) AS mean_wlen,
             len(list_filter(t, x -> list_contains(
               ['the','a','of','and','to','in','is','it','that','for'], x)))
               / greatest(len(t), 1) AS stop_ratio
      FROM toks)
    SELECT doc_id, CAST(n_tok AS INT) AS n_tok,
           round(((CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 1.0 ELSE 0.0 END) +
                  (CASE WHEN mean_wlen >= 3.0 AND mean_wlen <= 12.0 THEN 1.0 ELSE 0.0 END) +
                  (CASE WHEN stop_ratio > 0.05 THEN 1.0 ELSE 0.0 END)) / 3.0, 4) AS quality
    FROM m
    """,
)
def x_text_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Rule-based quality scoring (C4/Gopher-style): length, mean word
    length, stopword presence."""
    d = table(spark, sf, "documents")
    return d.select(
        "doc_id",
        token_count("text").cast("int").alias("n_tok"),
        quality_score("text").alias("quality"),
    )


@register(
    "x_text_tokens",
    oracle=r"""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(lower(text), '[[:space:]]+'), x -> x <> '')) AS INT) AS token_cnt,
           length(text) AS n_chars_actual,
           length(text) - length(replace(text, ' ', '')) AS n_spaces
    FROM documents
    """,
)
def x_text_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """Token counting + simple character statistics."""
    d = table(spark, sf, "documents")
    return d.select(
        "doc_id",
        token_count("text").cast("int").alias("token_cnt"),
        F.length("text").cast("bigint").alias("n_chars_actual"),
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))))
        .cast("bigint")
        .alias("n_spaces"),
    )


@register(
    "x_text_fingerprint",
    oracle=r"""
    WITH norm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '[[:space:]]+', ' ', 'g')) AS nt, lower(text) AS low
      FROM documents)
    SELECT doc_id, md5(nt) AS fingerprint,
           (SELECT min(('0x' || substr(md5(g), 1, 8))::BIGINT)
            FROM unnest([substr(low, i, 5)
                         for i in range(1, greatest(length(low) - 4, 1) + 1)]) u(g)) AS min_gram_hash
    FROM norm
    """,
)
def x_text_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Document fingerprinting: md5 of normalized text (exact-dedup key) +
    winnowing-style minimum 5-gram rolling hash."""
    d = table(spark, sf, "documents")
    # lower-cased text materialized as its own projection so the n-gram
    # transform lambda reads an attribute (inline lower() would re-run per
    # n-gram index — O(len²) per document).
    low = d.select(
        "doc_id", "text", F.lower(F.col("text")).alias("__low")
    )
    return low.select(
        "doc_id",
        doc_fingerprint("text").alias("fingerprint"),
        F.array_min(F.transform(char_ngrams_from_lower(F.col("__low")), md5_u32))
        .alias("min_gram_hash"),
    )


# ---------------------------------------------------------------------------
# C5 — multimodal
# ---------------------------------------------------------------------------


@register(
    "x_multimodal",
    oracle="""
    SELECT d.doc_id AS asset_id, 'text' AS modality, d.lang, d.source,
           d.n_chars, octet_length(encode(d.text)) AS n_bytes,
           round(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])), 6) AS vec_norm
    FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    """,
)
def x_multimodal(spark: SparkSession, sf: str) -> DataFrame:
    """C5: pack text+metadata+vector into a typed multimodal row (binary
    payload + meta struct + embedding), then project typed fields back."""
    packed = pack_assets(table(spark, sf, "documents"), table(spark, sf, "embeddings"))
    return packed.select(
        "asset_id",
        "modality",
        F.col("meta.lang").alias("lang"),
        F.col("meta.source").alias("source"),
        F.col("meta.n_chars").alias("n_chars"),
        F.length("payload").cast("int").alias("n_bytes"),
        F.round(l2_norm(F.col("vector")), 6).alias("vec_norm"),
    )


@register(
    "x_multimodal_binary",
    oracle="""
    WITH packed AS (
      SELECT d.doc_id, d.text FROM documents d
      JOIN embeddings e ON e.vec_id = d.doc_id),
    chars AS (
      SELECT doc_id, sum(unicode(c)) AS bsum
      FROM (SELECT doc_id, unnest([substr(text, i, 1)
                                   for i in range(1, length(text) + 1)]) AS c
            FROM packed) t
      GROUP BY doc_id)
    SELECT d.doc_id AS asset_id, 'text' AS modality,
           octet_length(encode(d.text)) AS n_bytes,
           CASE WHEN length(d.text) = 0 THEN -1
                ELSE unicode(substr(d.text, 1, 1)) END AS first_byte,
           CAST(coalesce(c.bsum, 0) % 997 AS BIGINT) AS byte_sum_mod
    FROM packed d LEFT JOIN chars c ON c.doc_id = d.doc_id
    """,
)
def x_multimodal_binary(spark: SparkSession, sf: str) -> DataFrame:
    """Arrow-batched binary feature extraction (mapInPandas) over opaque
    payload bytes — the decode/feature stage of an image/audio pipeline,
    with byte-level features standing in for codec output."""
    packed = pack_assets(table(spark, sf, "documents"), table(spark, sf, "embeddings"))
    feats = extract_features(packed)
    return feats.select(
        "asset_id",
        "modality",
        "n_bytes",
        "first_byte",
        "byte_sum_mod",
    )


@register(
    "x_multimodal_decode",
    oracle="""
    WITH base AS (
      SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
      FROM documents WHERE length(text) > 0),
    vals AS (
      SELECT doc_id,
             sum(unicode(c) % 256) AS vsum,
             CAST(min(unicode(c) % 256) AS INTEGER) AS vmin,
             CAST(max(unicode(c) % 256) AS INTEGER) AS vmax
      FROM (SELECT doc_id, unnest([substr(text, i, 1)
                                   for i in range(1, length(text) + 1)]) AS c
            FROM base) t
      GROUP BY doc_id)
    SELECT b.doc_id AS asset_id,
           CASE CAST(b.doc_id % 3 AS INTEGER)
                WHEN 0 THEN 'wav' WHEN 1 THEN 'bmp' ELSE 'ppm' END AS container,
           CASE WHEN b.doc_id % 3 = 0 THEN NULL ELSE 1 END AS width,
           CASE WHEN b.doc_id % 3 = 0 THEN NULL
                ELSE CAST(b.n AS INTEGER) END AS height,
           CASE WHEN b.doc_id % 3 = 0 THEN 16000 ELSE NULL END AS sample_rate,
           CASE WHEN b.doc_id % 3 = 0 THEN 1 ELSE NULL END AS n_channels,
           CASE CAST(b.doc_id % 3 AS INTEGER)
                WHEN 0 THEN 16 WHEN 1 THEN 24 ELSE 8 END AS bit_depth,
           b.n AS n_values,
           CAST(v.vsum % 997 AS BIGINT) AS value_sum_mod,
           v.vmin AS value_min, v.vmax AS value_max
    FROM base b JOIN vals v USING (doc_id)
    """,
)
def x_multimodal_decode(spark: SparkSession, sf: str) -> DataFrame:
    """C5 with REAL codecs: synthesize one standard container file per
    document (WAV PCM16 / 24-bit BMP / P6 PPM by ``doc_id % 3``, values =
    text code points mod 256), then DECODE it — RIFF chunk walk, DIB
    header + bottom-up rows, netpbm header — and emit header fields +
    value stats.  The oracle predicts every stat from the generating
    text without running a codec, so a header-parse or row-order bug
    (e.g. forgetting BMP's bottom-up raster) hash-fails.

    Reference parity: the reference treats payloads as opaque base64
    (hello.py:136-139) and never decodes; this is the training-pipeline
    extension (SURVEY.md §2 C5) with the decode stage made real."""
    d = (
        table(spark, sf, "documents")
        .filter(F.length("text") > 0)
        .select("doc_id", "text")
    )
    return decode_codec_features(build_codec_assets(d))


# ---------------------------------------------------------------------------
# C6 — sessionization
# ---------------------------------------------------------------------------


@register(
    "x_session",
    oracle="""
    WITH t AS (SELECT user_id, epoch_us(ts) AS us FROM events),
    f AS (SELECT user_id, us,
                 CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                        OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
                      THEN 1 ELSE 0 END AS flag
          FROM t),
    s AS (SELECT user_id, us,
                 CAST(sum(flag) OVER (PARTITION BY user_id ORDER BY us
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
          FROM f)
    SELECT user_id, session_id, count(*) AS n_events,
           CAST((max(us) - min(us)) // 1000000 AS BIGINT) AS duration_s
    FROM s GROUP BY user_id, session_id
    """,
)
def x_session(spark: SparkSession, sf: str) -> DataFrame:
    """C6: 30-minute-gap sessionization per user (batch analog of
    session_window; streaming variant lives in streaming/)."""
    ev = table(spark, sf, "events")
    return gap_sessions(ev)


# ---------------------------------------------------------------------------
# C4 (cont.) — TF-IDF scoring + Gopher-style repetition filters
# ---------------------------------------------------------------------------


@register(
    "x_text_tfidf",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '[[:space:]]+'), x -> x <> '')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf * (ln((n + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
      FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
      WHERE tf.doc_id < 100)
    SELECT doc_id, term, tfidf,
           CAST(row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term ASC) AS INT) AS rnk
    FROM scored QUALIFY rnk <= 5
    """,
)
def x_text_tfidf(spark: SparkSession, sf: str) -> DataFrame:
    """TF-IDF (smoothed idf: ln((N+1)/(df+1))+1): top-5 terms per doc.

    Scale shape: two wordcount-style aggregations + a term-keyed join;
    the tiny (1-row) corpus count broadcasts. df(term) is the only
    potentially skewed key (stopwords) — AQE splits it."""
    d = table(spark, sf, "documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = toks.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    n = d.agg(F.count("*").alias("n"))
    scored = (
        tf.filter(F.col("doc_id") < 100)
        .join(dfreq, "term")
        .crossJoin(n)
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * (F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 5)
    )


@register(
    "x_text_repetition",
    oracle=r"""
    WITH base AS (
      SELECT doc_id,
             string_split(text, chr(10)) AS lines,
             list_filter(string_split_regex(lower(text), '[[:space:]]+'), x -> x <> '') AS t
      FROM documents),
    bg AS (
      SELECT doc_id,
             [array_to_string(t[i:i+1], ' ')
              for i in range(1, greatest(len(t) - 1, 1) + 1)] AS bigrams,
             lines
      FROM base),
    top AS (
      SELECT doc_id, max(cnt) AS top_cnt FROM (
        SELECT doc_id, b, count(*) AS cnt
        FROM (SELECT doc_id, unnest(bigrams) AS b FROM bg)
        GROUP BY doc_id, b)
      GROUP BY doc_id)
    SELECT bg.doc_id,
           CAST(len(lines) AS INT) AS n_lines,
           round(1.0 - len(list_distinct(lines)) / len(lines), 6) AS dup_line_frac,
           round(top_cnt / len(bigrams), 6) AS top_bigram_frac,
           (1.0 - len(list_distinct(lines)) / len(lines)) <= 0.3
             AND (top_cnt / len(bigrams)) <= 0.2 AS keep
    FROM bg JOIN top ON top.doc_id = bg.doc_id
    """,
)
def x_text_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher/RefinedWeb-style repetition filters: duplicate-line fraction
    + most-frequent-bigram fraction, with a keep/drop verdict.

    All per-document: tokenized once in a projection (HOF-lambda rule).

    r14 optimization (guide §2.4 "remove shuffles outright"): the
    most-frequent-bigram count is a PER-DOCUMENT statistic, so the old
    explode → groupBy(doc_id, b) → groupBy(doc_id) → join-back shape
    shuffled every bigram of every document twice and re-tokenized the
    corpus on both join branches.  Computing it as the longest equal-run
    of the SORTED bigram array (one aggregate-HOF fold per row) makes the
    whole key a single zero-shuffle projection — same number (max
    multiplicity == longest sorted run), oracle-identical output, and at
    100 TB the bigram explosion never hits the wire at all.  Measured
    4.8 s → 0.7 s at sf0.1 (3 Exchanges → 0)."""
    d = table(spark, sf, "documents")
    base = d.select(
        "doc_id",
        F.split("text", "\n").alias("lines"),
        tokens("text").alias("t"),
    )
    bg = base.select(
        "doc_id",
        "lines",
        shingles_from_tokens(F.col("t"), 2).alias("bigrams"),
    )
    run_step = lambda acc, x: F.struct(  # noqa: E731
        x.alias("prev"),
        F.when(acc["prev"].isNull() | (acc["prev"] != x), F.lit(1))
        .otherwise(acc["run"] + 1)
        .alias("run"),
        F.greatest(
            acc["best"],
            F.when(acc["prev"].isNull() | (acc["prev"] != x), F.lit(1)).otherwise(
                acc["run"] + 1
            ),
        ).alias("best"),
    )
    top_cnt = F.aggregate(
        F.array_sort("bigrams"),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        run_step,
        lambda acc: acc["best"].cast("long"),
    )
    dup_frac = 1.0 - F.size(F.array_distinct("lines")) / F.size("lines")
    top_frac = F.col("top_cnt") / F.size("bigrams")
    return bg.withColumn("top_cnt", top_cnt).select(
        "doc_id",
        F.size("lines").cast("int").alias("n_lines"),
        F.round(dup_frac, 6).alias("dup_line_frac"),
        F.round(top_frac, 6).alias("top_bigram_frac"),
        ((dup_frac <= 0.3) & (top_frac <= 0.2)).alias("keep"),
    )


@register(
    "x_sim_ivf2",
    oracle="""
    WITH cent AS (
      SELECT label AS centroid_id, p, round(avg(embedding[p]::DOUBLE), 6) AS m
      FROM embeddings CROSS JOIN unnest(range(1, 65)) u(p)
      GROUP BY label, p),
    centv AS (SELECT centroid_id, list(m ORDER BY p) AS centroid FROM cent GROUP BY centroid_id),
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
    qassign AS (
      SELECT vec_id, embedding, centroid_id AS cluster FROM (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], c.centroid), 6) DESC,
                          c.centroid_id ASC) AS rn
        FROM embeddings e CROSS JOIN centv c
        WHERE e.vec_id < 10 AND list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) > 0) t
      WHERE rn <= 2)
    SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
           CAST(row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], a.embedding::DOUBLE[]), 6) DESC,
                      a.vec_id ASC) AS INT) AS rank,
           round(list_cosine_similarity(q.embedding::DOUBLE[], a.embedding::DOUBLE[]), 6) AS sim
    FROM qassign q JOIN assign a ON a.cluster = q.cluster AND a.vec_id <> q.vec_id
    QUALIFY rank <= 3
    """,
)
def x_sim_ivf2(spark: SparkSession, sf: str) -> DataFrame:
    """IVF probe-2 ANN: queries search their TWO nearest centroids'
    clusters — the recall knob over x_sim_ivf (2× candidates, same
    map-side assignment; at 100 TB n_probe trades compute for recall
    without touching the index layout)."""
    e = table(spark, sf, "embeddings")
    cents = label_centroids(e)
    out = ivf_topk(e, e.filter(F.col("vec_id") < 10), cents, n_probe=2)
    return out.withColumn("rank", F.col("rank").cast("int"))


@register(
    "x_text_line_dedup",
    oracle=r"""
    WITH lines AS (
      SELECT doc_id, u.i AS line_no, u.ln FROM (
        SELECT doc_id,
               unnest([{'i': i, 'ln': ls[i]} for i in range(1, len(ls) + 1)]) AS u
        FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents))),
    df AS (SELECT ln, count(DISTINCT doc_id) AS line_df
           FROM lines WHERE trim(ln) <> '' GROUP BY ln),
    kept AS (
      SELECT l.doc_id, l.line_no, l.ln
      FROM lines l LEFT JOIN df ON df.ln = l.ln
      WHERE coalesce(df.line_df, 1) <= 2)
    SELECT doc_id,
           CAST(count(*) AS INT) AS n_lines_kept,
           md5(string_agg(ln, chr(10) ORDER BY line_no)) AS kept_fp
    FROM kept GROUP BY doc_id
    """,
)
def x_text_line_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """RefinedWeb-style line-level dedup: drop lines appearing in >2
    distinct documents (boilerplate headers/footers), keep per-doc line
    order, fingerprint the surviving text.

    Scale shape: explode → line-df aggregate (wordcount) → broadcast-able
    join back (the line-df table only holds repeated lines' hashes at
    scale) → per-doc ordered reassembly via one groupBy.  Blank lines are
    never counted as boilerplate."""
    d = table(spark, sf, "documents")
    lines = d.select(
        "doc_id",
        F.posexplode(F.split("text", "\n")).alias("line_no", "ln"),
    )
    df_tbl = (
        lines.filter(F.trim("ln") != "")
        .groupBy("ln")
        .agg(F.count_distinct("doc_id").alias("line_df"))
    )
    kept = (
        lines.join(df_tbl, "ln", "left")
        .filter(F.coalesce(F.col("line_df"), F.lit(1)) <= 2)
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_lines_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("line_no", "ln"))),
                        lambda s: s["ln"],
                    ),
                    "\n",
                )
            ).alias("kept_fp"),
        )
    )


# ---------------------------------------------------------------------------
# C2+ — dedup clustering (pairs → connected components → canonical doc)
# ---------------------------------------------------------------------------

_CORPUS3_SQL = """
    corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, concat(text, ' zz9 qq8') AS text
      FROM documents WHERE doc_id < 50
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id,
             concat(text, ' zz9 qq8 vv7 kk6') AS text
      FROM documents WHERE doc_id < 50
    )
"""


def _doc_corpus3(spark: SparkSession, sf: str) -> DataFrame:
    """Chain-planted corpus: originals, first-generation copies (+1e6,
    2 extra tokens) and second-generation copies (+2e6, 4 extra tokens) —
    duplicate groups form multi-hop chains, so clustering must actually
    traverse the graph, not just read off pairs."""
    d = table(spark, sf, "documents").select("doc_id", "text")
    g1 = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz9 qq8")).alias("text"),
    )
    g2 = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz9 qq8 vv7 kk6")).alias("text"),
    )
    return d.unionByName(g1).unionByName(g2)


@register(
    "x_dedup_cluster",
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
    lab AS (SELECT node AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY node)
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           CAST(doc_id = cluster_id AS INT) AS is_canonical
    FROM lab
    """,
)
def x_dedup_cluster(spark: SparkSession, sf: str) -> DataFrame:
    """C2+: near-dup pairs → connected components → per-doc cluster id,
    cluster size, and canonical flag (min doc_id kept; the rest are the
    rows a dedup pass drops).  Edges are the exact n-gram Jaccard pairs at
    0.6 over the chain-planted corpus; the DuckDB oracle replays the label
    propagation as a recursive CTE reachability closure."""
    corpus = _doc_corpus3(spark, sf)
    edges = ngram_jaccard_pairs(corpus, threshold=0.6).select("id_a", "id_b")
    labels = connected_components(edges, corpus.select("doc_id"))
    w = Window.partitionBy("cluster_id")
    return labels.select(
        "doc_id",
        "cluster_id",
        F.count("*").over(w).alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).cast("int").alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# C3+ — sign-random-projection LSH ANN (bucketed scale path, vs IVF)
# ---------------------------------------------------------------------------

_LSH_PLANES = rademacher_planes(n_planes=16, dim=64)
_LSH_PLANES_VALUES = ", ".join(f"({j}, {p})" for j, p in enumerate(_LSH_PLANES))


@register(
    "x_sim_lsh",
    oracle=f"""
    WITH planes AS (SELECT * FROM (VALUES {_LSH_PLANES_VALUES}) t(j, s)),
    vq AS (SELECT vec_id,
                  list_transform(embedding::DOUBLE[],
                                 x -> CAST(floor(x * 1000) AS BIGINT)) AS v
           FROM embeddings),
    dots AS (SELECT vec_id, j,
                    list_sum(list_transform(range(1, 65), d -> v[d] * s[d])) AS dt
             FROM vq CROSS JOIN planes),
    bands AS (SELECT vec_id, j // 8 AS band_pos,
                     sum(CASE WHEN dt > 0 THEN (1 << (j % 8)) ELSE 0 END) AS band_val
              FROM dots GROUP BY vec_id, j // 8),
    cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
             FROM bands q
             JOIN bands c ON c.band_pos = q.band_pos AND c.band_val = q.band_val
             WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (
             PARTITION BY query_id
             ORDER BY round(list_cosine_similarity(qe.embedding::DOUBLE[], ce.embedding::DOUBLE[]), 6) DESC,
                      neighbor_id ASC) AS INT) AS rank,
           round(list_cosine_similarity(qe.embedding::DOUBLE[], ce.embedding::DOUBLE[]), 6) AS sim
    FROM cand
    JOIN embeddings qe ON qe.vec_id = query_id
    JOIN embeddings ce ON ce.vec_id = neighbor_id
    WHERE list_dot_product(qe.embedding::DOUBLE[], qe.embedding::DOUBLE[]) > 0
      AND list_dot_product(ce.embedding::DOUBLE[], ce.embedding::DOUBLE[]) > 0
    QUALIFY rank <= 3
    """,
)
def x_sim_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """C3 scale path #2: sign-random-projection LSH (16 Rademacher planes,
    two 8-bit bands), exact-cosine rerank to top-3.  Complements IVF: no
    training/centroids needed, candidates come from an equi-join on hash
    buckets.  Integer-quantized projections make the bit pattern
    engine-exact; the DuckDB oracle replays the identical planes from
    inlined literals."""
    e = table(spark, sf, "embeddings")
    out = lsh_topk(e, e.filter(F.col("vec_id") < 10), _LSH_PLANES)
    return out.withColumn("rank", F.col("rank").cast("int"))


# ---------------------------------------------------------------------------
# C4+ — end-to-end curation pipeline (filter chain + dedup verdict per doc)
# ---------------------------------------------------------------------------


@register(
    "x_text_curate",
    oracle=r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 3000000 AS doc_id, text FROM documents WHERE doc_id < 30),
    norm AS (
      SELECT doc_id, text,
             md5(trim(regexp_replace(lower(text), '[[:space:]]+', ' ', 'g'))) AS fp,
             list_filter(string_split_regex(lower(text), '[[:space:]]+'), x -> x <> '') AS t
      FROM corpus),
    m AS (
      SELECT doc_id, fp, len(t) AS n_tok,
             length(text) / greatest(len(t), 1) AS mean_wlen,
             len(list_filter(t, x -> list_contains(
               ['the','a','of','and','to','in','is','it','that','for'], x)))
               / greatest(len(t), 1) AS stop_ratio,
             len(list_filter(t, x -> list_contains(['the','a','of','and','to'], x))) AS s_en,
             len(list_filter(t, x -> list_contains(['der','die','und','ist','das'], x))) AS s_de,
             len(list_filter(t, x -> list_contains(['le','la','et','les','des'], x))) AS s_fr,
             len(list_filter(t, x -> list_contains(['el','que','y','los','una'], x))) AS s_es,
             row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM norm)
    SELECT doc_id,
           CASE WHEN rn > 1 THEN 'exact_dup'
                WHEN n_tok < 10 THEN 'too_short'
                WHEN mean_wlen < 3.0 OR mean_wlen > 12.0 THEN 'word_len'
                WHEN stop_ratio <= 0.05 THEN 'low_stopword'
                WHEN NOT (s_en > 0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es)
                  THEN 'non_english'
                ELSE 'kept' END AS verdict,
           CAST(n_tok AS INT) AS n_tok
    FROM m
    """,
)
def x_text_curate(spark: SparkSession, sf: str) -> DataFrame:
    """C4 composite: the end-to-end curation verdict a training-data
    pipeline computes per document — exact-dup (fingerprint, first doc_id
    wins), Gopher-style length/word-length/stopword gates, then English
    language gate; first failing rule is the drop reason.  One wide
    projection + one window over the fingerprint — the whole chain is a
    single shuffle, so it scales exactly like exact dedup."""
    d = table(spark, sf, "documents").select("doc_id", "text")
    planted = d.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 3000000).alias("doc_id"), "text"
    )
    corpus = d.unionByName(planted)
    base = corpus.select(
        "doc_id",
        "text",
        doc_fingerprint("text").alias("fp"),
        tokens("text").alias("__t"),
    )
    n_tok = F.size("__t")
    mean_wlen = F.length("text") / F.greatest(n_tok, F.lit(1))
    stop_ratio = F.size(
        F.filter(F.col("__t"), lambda x: x.isin(*STOPWORDS))
    ) / F.greatest(n_tok, F.lit(1))

    def _hits(words: list[str]):
        return F.size(F.filter(F.col("__t"), lambda x: x.isin(*words)))

    s_en, s_de, s_fr, s_es = (_hits(_LANG_SETS[k]) for k in ("en", "de", "fr", "es"))
    rn = F.row_number().over(Window.partitionBy("fp").orderBy("doc_id"))
    verdict = (
        F.when(F.col("__rn") > 1, F.lit("exact_dup"))
        .when(n_tok < 10, F.lit("too_short"))
        .when((mean_wlen < 3.0) | (mean_wlen > 12.0), F.lit("word_len"))
        .when(stop_ratio <= 0.05, F.lit("low_stopword"))
        .when(
            ~((s_en > 0) & (s_en >= s_de) & (s_en >= s_fr) & (s_en >= s_es)),
            F.lit("non_english"),
        )
        .otherwise(F.lit("kept"))
    )
    return (
        base.withColumn("__rn", rn)
        .select("doc_id", verdict.alias("verdict"), n_tok.cast("int").alias("n_tok"))
    )


# ---------------------------------------------------------------------------
# C7 — dataset curation: split / packing / decontamination / PII / quotas /
# vocabulary (operators/curation.py, functions/text.py PII helpers)
# ---------------------------------------------------------------------------


@register(
    "x_split_hash",
    oracle="""
    SELECT doc_id,
           CAST(h % 100 AS INT) AS bucket,
           CASE WHEN h % 100 < 90 THEN 'train'
                WHEN h % 100 < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id,
                 ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
          FROM documents)
    """,
)
def x_split_hash(spark: SparkSession, sf: str) -> DataFrame:
    """C7: deterministic hash-bucket train/val/test split — stable under
    reruns and incremental appends (salted md5, not random())."""
    from ..operators.curation import hash_split

    d = table(spark, sf, "documents")
    return hash_split(d, "doc_id").select("doc_id", "bucket", "split")


@register(
    "x_pack_sequences",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, source,
             len(list_filter(string_split_regex(lower(text), '[[:space:]]+'), x -> x <> '')) AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS st
      FROM t)
    SELECT doc_id, source, CAST(n_tokens AS INT) AS n_tokens,
           CAST(st // 512 AS INT) AS pack_id,
           CAST(st % 512 AS INT) AS pack_offset
    FROM c
    """,
)
def x_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """C7: context-window packing — documents laid end-to-end per source
    shard in doc_id order; window index + in-window offset per doc."""
    from ..operators.curation import pack_sequences

    d = table(spark, sf, "documents")
    with_tok = d.select(
        "doc_id", "source", token_count("text").cast("int").alias("n_tokens")
    )
    packed = pack_sequences(with_tok, 512)
    return packed.select("doc_id", "source", "n_tokens", "pack_id", "pack_offset")


@register(
    "x_decontaminate",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[[:space:]]+'), x -> x <> '') AS t
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest([array_to_string(t[i:i+2], ' ')
                       for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS shingle
        FROM toks)),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0)
    SELECT s.doc_id, count(*) AS n_overlap
    FROM sh s JOIN bench b USING (shingle)
    WHERE s.doc_id % 97 <> 0
    GROUP BY s.doc_id
    """,
)
def x_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """C7: benchmark decontamination — per corpus doc, distinct word
    3-grams shared with the eval benchmark (docs with doc_id % 97 == 0
    stand in for the held-out benchmark set)."""
    from ..operators.curation import decontaminate

    d = table(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(corpus, bench)


@register(
    "x_text_pii",
    oracle="""
    WITH pii AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or ring 555-0199 now' AS text
      FROM documents WHERE doc_id < 40
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-z0-9.]+@[a-z0-9]+[.][a-z]+')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(text, '555-[0-9][0-9][0-9][0-9]')) AS INT) AS n_phones,
           CAST(length(regexp_replace(regexp_replace(text,
                '[a-z0-9.]+@[a-z0-9]+[.][a-z]+', '<EMAIL>', 'g'),
                '555-[0-9][0-9][0-9][0-9]', '<PHONE>', 'g')) AS INT) AS n_chars_redacted
    FROM pii
    """,
)
def x_text_pii(spark: SparkSession, sf: str) -> DataFrame:
    """C7: PII detection + redaction accounting — email/phone match counts
    and post-redaction length, over a corpus with planted PII (ids < 40
    duplicated with an injected contact line, deterministic both engines).
    Patterns restricted to Java-regex/RE2-agreeing constructs."""
    from ..functions.text import email_count, phone_count, redact_pii

    d = table(spark, sf, "documents").select("doc_id", "text")
    planted = d.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or ring 555-0199 now"),
        ).alias("text"),
    )
    corpus = d.unionByName(planted)
    return corpus.select(
        "doc_id",
        email_count("text").alias("n_emails"),
        phone_count("text").alias("n_phones"),
        F.length(redact_pii("text")).cast("int").alias("n_chars_redacted"),
    )


@register(
    "x_domain_quota",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, source, text,
             list_filter(string_split_regex(lower(text), '[[:space:]]+'), x -> x <> '') AS t
      FROM documents),
    m AS (
      SELECT doc_id, source,
             len(t) AS n_tok,
             length(text) / greatest(len(t), 1) AS mean_wlen,
             len(list_filter(t, x -> list_contains(
               ['the','a','of','and','to','in','is','it','that','for'], x)))
               / greatest(len(t), 1) AS stop_ratio
      FROM toks),
    q AS (
      SELECT doc_id, source,
             round(((CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 1.0 ELSE 0.0 END) +
                    (CASE WHEN mean_wlen >= 3.0 AND mean_wlen <= 12.0 THEN 1.0 ELSE 0.0 END) +
                    (CASE WHEN stop_ratio > 0.05 THEN 1.0 ELSE 0.0 END)) / 3.0, 4) AS quality
      FROM m)
    SELECT doc_id, source, quality,
           CAST(row_number() OVER (PARTITION BY source
                                   ORDER BY quality DESC, doc_id ASC) AS INT) AS quota_rank
    FROM q QUALIFY quota_rank <= 25
    """,
)
def x_domain_quota(spark: SparkSession, sf: str) -> DataFrame:
    """C7: per-domain quality quota (data mixing) — top-25 docs per source
    by quality score (deterministic doc_id tiebreak); WindowGroupLimit
    keeps partial top-n per shuffle partition at scale."""
    from ..operators.curation import domain_quota

    d = table(spark, sf, "documents")
    scored = d.select("doc_id", "source", quality_score("text").alias("quality"))
    return domain_quota(
        scored, "source", [F.col("quality").desc(), F.col("doc_id").asc()], 25
    )


@register(
    "x_vocab_topk",
    oracle=r"""
    WITH toks AS (
      SELECT list_filter(string_split_regex(lower(text), '[[:space:]]+'), x -> x <> '') AS t
      FROM documents),
    bg AS (
      SELECT unnest([array_to_string(t[i:i+1], ' ')
                     for i in range(1, greatest(len(t) - 1, 1) + 1)]) AS bigram
      FROM toks),
    cnt AS (SELECT bigram, count(*) AS n FROM bg GROUP BY bigram)
    SELECT bigram, n FROM cnt ORDER BY n DESC, bigram ASC LIMIT 100
    """,
)
def x_vocab_topk(spark: SparkSession, sf: str) -> DataFrame:
    """C7: vocabulary building — top-100 word bigrams by corpus frequency
    (wordcount shape + TakeOrderedAndProject; total order made
    deterministic by the bigram tiebreak)."""
    d = table(spark, sf, "documents")
    toks = d.select(tokens("text").alias("__t"))
    bg = toks.select(F.explode(shingles_from_tokens(F.col("__t"), 2)).alias("bigram"))
    cnt = bg.groupBy("bigram").agg(F.count("*").alias("n"))
    return cnt.orderBy(F.col("n").desc(), F.col("bigram").asc()).limit(100)


# ---------------------------------------------------------------------------
# C3+ — embedding clustering (spherical k-means, operators/clustering.py)
# ---------------------------------------------------------------------------


@register(
    "x_kmeans_assign",
    oracle="""
    WITH centv AS (
      SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS centroid
      FROM embeddings
      WHERE vec_id < 8 AND list_dot_product(embeddings.embedding::DOUBLE[], embeddings.embedding::DOUBLE[]) > 0)
    SELECT vec_id, cluster FROM (
      SELECT e.vec_id, c.centroid_id AS cluster,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], c.centroid), 6) DESC,
                        c.centroid_id ASC) AS rn
      FROM embeddings e CROSS JOIN centv c
      WHERE list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) > 0) t
    WHERE rn = 1
    """,
)
def x_kmeans_assign(spark: SparkSession, sf: str) -> DataFrame:
    """C3+: spherical k-means assignment pass — nearest of 8 deterministic
    seed centroids by round(cosine, 6), centroid-id tiebreak; broadcast
    centroids, map-side assignment (corpus never shuffles)."""
    from ..operators.clustering import kmeans_assign, seed_centroids

    e = table(spark, sf, "embeddings")
    return kmeans_assign(e, seed_centroids(e, 8))


@register(
    "x_kmeans_iter",
    oracle="""
    WITH centv0 AS (
      SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS centroid
      FROM embeddings
      WHERE vec_id < 8 AND list_dot_product(embeddings.embedding::DOUBLE[], embeddings.embedding::DOUBLE[]) > 0),
    a1 AS (
      SELECT vec_id, embedding, cluster FROM (
        SELECT e.vec_id, e.embedding, c.centroid_id AS cluster,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], c.centroid), 6) DESC,
                          c.centroid_id ASC) AS rn
        FROM embeddings e CROSS JOIN centv0 c
        WHERE list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) > 0) t
      WHERE rn = 1),
    cent1 AS (
      SELECT cluster AS centroid_id, p, round(avg(embedding[p]::DOUBLE), 6) AS m
      FROM a1 CROSS JOIN unnest(range(1, 65)) u(p)
      GROUP BY cluster, p),
    centv1 AS (
      SELECT * FROM (SELECT centroid_id, list(m ORDER BY p) AS centroid
                     FROM cent1 GROUP BY centroid_id)
      WHERE list_dot_product(centroid, centroid) > 0)
    SELECT vec_id, cluster FROM (
      SELECT e.vec_id, c.centroid_id AS cluster,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], c.centroid), 6) DESC,
                        c.centroid_id ASC) AS rn
      FROM embeddings e CROSS JOIN centv1 c
      WHERE list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) > 0) t
    WHERE rn = 1
    """,
)
def x_kmeans_iter(spark: SparkSession, sf: str) -> DataFrame:
    """C3+: one full Lloyd iteration (assign → recompute means → reassign)
    of spherical k-means from 8 seed centroids — the iterative-refinement
    step behind IVF centroid training and cluster-based curation
    (SemDeDup-style).  Centroid means rounded to engine-independent
    doubles; every assignment pass is broadcast + map-side."""
    from ..operators.clustering import kmeans_assign, kmeans_update, seed_centroids

    e = table(spark, sf, "embeddings")
    c1 = kmeans_update(e, seed_centroids(e, 8))
    return kmeans_assign(e, c1)


@register(
    "x_data_mix",
    oracle="""
    WITH h AS (
      SELECT doc_id, source,
             ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
      FROM documents)
    SELECT doc_id, source FROM h
    WHERE bucket < CASE source WHEN 'src0' THEN 100 WHEN 'src1' THEN 50
                               WHEN 'src2' THEN 25 ELSE 10 END
    """,
)
def x_data_mix(spark: SparkSession, sf: str) -> DataFrame:
    """C7: deterministic per-domain down-sampling mix (src0 100%, src1
    50%, src2 25%, rest 10%) — hash-gated so membership is reproducible
    and append-stable; pure per-row filter, no shuffle."""
    from ..operators.curation import mix_downsample

    d = table(spark, sf, "documents").select("doc_id", "source")
    return mix_downsample(
        d, {"src0": 100, "src1": 50, "src2": 25}, default_pct=10
    )


@register(
    "x_data_upsample",
    oracle="""
    SELECT doc_id, source, CAST(e AS INT) AS epoch
    FROM documents
    CROSS JOIN unnest(range(4)) u(e)
    WHERE e < CASE source WHEN 'src1' THEN 3 WHEN 'src2' THEN 2 ELSE 1 END
    """,
)
def x_data_upsample(spark: SparkSession, sf: str) -> DataFrame:
    """C7: per-domain epoch up-sampling (src1 ×3, src2 ×2, rest ×1) with
    a 0-based epoch tag — explode(sequence(...)) map-side row generator,
    no shuffle."""
    from ..operators.curation import mix_upsample

    d = table(spark, sf, "documents").select("doc_id", "source")
    return mix_upsample(d, {"src1": 3, "src2": 2}).select(
        "doc_id", "source", F.col("epoch").cast("int").alias("epoch")
    )


# ---------------------------------------------------------------------------
# C4+ — model-based quality filtering (fixed-weight linear classifier),
# C3+ — random-projection dimensionality reduction, C7+ — URL parsing
# ---------------------------------------------------------------------------


@register(
    "x_quality_model",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(lower(text), '[[:space:]]+'), x -> x <> '') AS t
      FROM documents),
    m AS (
      SELECT doc_id,
             len(t) AS n_tok,
             greatest(len(t), 1) AS n_g,
             length(text) AS n_chars,
             len(list_filter(t, x -> list_contains(
               ['the','a','of','and','to','in','is','it','that','for'], x))) AS n_stop,
             len(list_filter(t, x -> x = 'fast'))  AS c_fast,
             len(list_filter(t, x -> x = 'slow'))  AS c_slow,
             len(list_filter(t, x -> x = 'spark')) AS c_spark,
             len(list_filter(t, x -> x = 'data'))  AS c_data,
             len(list_filter(t, x -> x = 'big'))   AS c_big
      FROM toks),
    l AS (
      SELECT doc_id, n_tok,
             -0.4::DOUBLE
               + 2.5::DOUBLE * (n_stop / n_g)
               + 0.15::DOUBLE * (n_chars / n_g)
               + (0.6::DOUBLE * c_fast + -0.7::DOUBLE * c_slow
                  + 0.4::DOUBLE * c_spark + 0.2::DOUBLE * c_data
                  + -0.1::DOUBLE * c_big) / n_g AS logit
      FROM m)
    SELECT doc_id, CAST(n_tok AS INT) AS n_tok,
           logit AS score,
           CAST(logit > 0 AS INT) AS keep
    FROM l
    """,
)
def x_quality_model(spark: SparkSession, sf: str) -> DataFrame:
    """C4+: model-based quality filtering — a fixed-weight linear
    classifier (fastText/CCNet-style) over engineered features: stopword
    ratio, mean word length, and a 5-word lexicon score.  Logit (not
    sigmoid) so arithmetic stays libm-free and engine-exact; downstream
    keeps rows with logit > 0.  Pure map-side projection, no shuffle."""
    from ..functions.text import quality_logit

    d = table(spark, sf, "documents")
    t = d.select("doc_id", "text", tokens("text").alias("t"))  # materialize tokens once
    logit = quality_logit(F.col("t"), F.col("text"))
    # raw double, NOT rounded: the logit is pure deterministic IEEE
    # arithmetic so both engines produce the identical bits, while
    # round() diverges on half-ties (e.g. a logit of exactly 0.5046875
    # rounds 0.504688 in Spark's BigDecimal HALF_UP vs 0.504687 off the
    # binary value in DuckDB)
    return t.select(
        "doc_id",
        F.size("t").cast("int").alias("n_tok"),
        logit.alias("score"),
        (logit > 0).cast("int").alias("keep"),
    )


_REDUCE_PLANES = rademacher_planes(n_planes=8, dim=64)
_REDUCE_PLANES_VALUES = ", ".join(f"({j}, {p})" for j, p in enumerate(_REDUCE_PLANES))
_REDUCE_PIVOT = ",\n           ".join(
    f"CAST(max(CASE WHEN j = {j} THEN dt END) AS BIGINT) AS r{j}" for j in range(8)
)


@register(
    "x_embed_reduce",
    oracle=f"""
    WITH planes AS (SELECT * FROM (VALUES {_REDUCE_PLANES_VALUES}) t(j, s)),
    vq AS (SELECT vec_id,
                  list_transform(embedding::DOUBLE[],
                                 x -> CAST(floor(x * 1000) AS BIGINT)) AS v
           FROM embeddings),
    dots AS (SELECT vec_id, j,
                    list_sum(list_transform(range(1, 65), d -> v[d] * s[d])) AS dt
             FROM vq CROSS JOIN planes)
    SELECT vec_id,
           {_REDUCE_PIVOT}
    FROM dots GROUP BY vec_id
    """,
)
def x_embed_reduce(spark: SparkSession, sf: str) -> DataFrame:
    """C3+: Johnson–Lindenstrauss random-projection reduction 64→8 dims
    (Achlioptas ±1 matrix, integer-quantized so components are exact
    BIGINTs both engines compute identically).  Map-side matmul in one
    nested-HOF pass; the 100 TB shape writes the 8-wide sketch table once
    and joins/clusters on it instead of re-reading 64-wide vectors."""
    from ..operators.embedding import project_embeddings

    e = table(spark, sf, "embeddings")
    return project_embeddings(e, _REDUCE_PLANES)


@register(
    "x_url_parse",
    oracle=r"""
    WITH u AS (
      SELECT doc_id,
             'https://' || lang || '.' || source || '.example.org/d/' ||
             CAST(doc_id % 7 AS VARCHAR) || '/item?id=' ||
             CAST(doc_id AS VARCHAR) || '&ref=rss' AS url
      FROM documents),
    p AS (
      SELECT doc_id, url,
             regexp_extract(url, 'https://([^/]+)', 1) AS host,
             regexp_extract(url, 'https://[^/]+([^?]*)', 1) AS path,
             regexp_extract(url, '[?&]id=([0-9]+)', 1)::BIGINT AS qid
      FROM u)
    SELECT doc_id, host,
           regexp_extract(host, '([a-z0-9-]+[.][a-z]+)$', 1) AS reg_domain,
           path, qid
    FROM p
    """,
)
def x_url_parse(spark: SparkSession, sf: str) -> DataFrame:
    """C7+: URL canonicalization for web-corpus curation — host / path /
    query-param extraction via JVM-side parse_url plus registered-domain
    reduction (the key per-domain quotas and canonical-URL dedup group
    on).  URLs are synthesized deterministically from doc fields on both
    engines (the corpus has no URL column), mirroring the x_text_pii
    synthesis pattern.  Map-side only, no shuffle."""
    from ..functions.urls import registered_domain, url_host, url_path, url_query_param

    d = table(spark, sf, "documents")
    u = d.select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("lang"), F.lit("."), F.col("source"),
            F.lit(".example.org/d/"), (F.col("doc_id") % 7).cast("string"),
            F.lit("/item?id="), F.col("doc_id").cast("string"), F.lit("&ref=rss"),
        ).alias("url"),
    )
    host = url_host("url")
    parsed = u.select(
        "doc_id",
        host.alias("host"),
        url_path("url").alias("path"),
        url_query_param("url", "id").cast("bigint").alias("qid"),
    )
    return parsed.select(
        "doc_id", "host",
        registered_domain("host").alias("reg_domain"),
        "path", "qid",
    )


@register(
    "x_dataset_card",
    oracle=r"""
    WITH t AS (
      SELECT source, lang,
             md5(trim(regexp_replace(lower(text), '[[:space:]]+', ' ', 'g'))) AS fp,
             len(list_filter(string_split_regex(lower(text), '[[:space:]]+'), x -> x <> '')) AS tok
      FROM documents)
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(count(DISTINCT fp) AS BIGINT) AS n_unique,
           count(*) - count(DISTINCT fp) AS dup_docs,
           CAST(sum(tok) AS DOUBLE) / count(*) AS mean_tokens,
           CAST(min(tok) AS INT) AS min_tokens,
           CAST(max(tok) AS INT) AS max_tokens
    FROM t GROUP BY source
    """,
)
def x_dataset_card(spark: SparkSession, sf: str) -> DataFrame:
    """C7+: dataset-card statistics — the per-source profile a corpus
    release documents (doc/token counts, language spread, exact-dup rate,
    token-length envelope).  One shuffle on source; the two DISTINCTs
    expand map-side and combine partially.  Integer sums are
    order-independent so every column is engine-exact (mean as explicit
    double-division of exact ints, not engine avg())."""
    d = table(spark, sf, "documents")
    t = d.select(
        "source", "lang",
        doc_fingerprint("text").alias("fp"),
        token_count("text").alias("tok"),
    )
    return t.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("tok").cast("bigint").alias("n_tokens"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("fp").cast("bigint").alias("n_unique"),
        (F.count("*") - F.countDistinct("fp")).alias("dup_docs"),
        (F.sum("tok").cast("double") / F.count("*")).alias("mean_tokens"),
        F.min("tok").cast("int").alias("min_tokens"),
        F.max("tok").cast("int").alias("max_tokens"),
    )


@register(
    "x_decontaminate_near",
    oracle=r"""
    WITH bench AS (
      SELECT doc_id + 5000000 AS doc_id, text FROM documents WHERE doc_id % 53 = 0),
    tc AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[[:space:]]+'), x -> x <> '') AS t
      FROM documents),
    tb AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[[:space:]]+'), x -> x <> '') AS t
      FROM bench),
    shc AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest([array_to_string(t[i:i+2], ' ')
                       for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS shingle
        FROM tc)),
    shb AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest([array_to_string(t[i:i+2], ' ')
                       for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS shingle
        FROM tb)),
    hc AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2147483647 AS hh FROM shc),
    hb AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2147483647 AS hh FROM shb),
    perms AS (SELECT i,
                     (1103515245 * (i + 1) + 12345) % 2147483647 AS a,
                     (1103515245 * (i + 1000003) + 12345) % 2147483647 AS b
              FROM unnest(range(16)) u(i)),
    mhc AS (SELECT doc_id, i, min((a * hh + b) % 2147483647) AS mn
            FROM hc CROSS JOIN perms GROUP BY doc_id, i),
    mhb AS (SELECT doc_id, i, min((a * hh + b) % 2147483647) AS mn
            FROM hb CROSS JOIN perms GROUP BY doc_id, i),
    bandc AS (SELECT doc_id, i // 4 AS band_id,
                     md5(string_agg(CAST(mn AS VARCHAR), ',' ORDER BY i)) AS band_sig
              FROM mhc GROUP BY doc_id, i // 4),
    bandb AS (SELECT doc_id, i // 4 AS band_id,
                     md5(string_agg(CAST(mn AS VARCHAR), ',' ORDER BY i)) AS band_sig
              FROM mhb GROUP BY doc_id, i // 4),
    cand AS (SELECT DISTINCT c.doc_id AS corpus_id, b.doc_id AS bench_id
             FROM bandc c JOIN bandb b USING (band_id, band_sig)),
    szc AS (SELECT doc_id, count(*) AS sa FROM shc GROUP BY doc_id),
    szb AS (SELECT doc_id, count(*) AS sb FROM shb GROUP BY doc_id),
    inter AS (SELECT c.corpus_id, c.bench_id, count(*) AS n
              FROM cand c
              JOIN shc a ON a.doc_id = c.corpus_id
              JOIN shb b ON b.doc_id = c.bench_id AND b.shingle = a.shingle
              GROUP BY c.corpus_id, c.bench_id)
    SELECT corpus_id, bench_id, round(n / (za.sa + zb.sb - n), 4) AS jaccard
    FROM inter
    JOIN szc za ON za.doc_id = corpus_id
    JOIN szb zb ON zb.doc_id = bench_id
    WHERE n / (za.sa + zb.sb - n) >= 0.5
    """,
)
def x_decontaminate_near(spark: SparkSession, sf: str) -> DataFrame:
    """C7+: fuzzy benchmark decontamination — MinHash(16)-LSH(4 bands)
    near-dup between the training corpus and a synthesized eval set
    (verbatim copies of every 53rd doc under shifted ids), exact-Jaccard
    verified at >= 0.5.  Complements x_decontaminate's exact n-gram
    overlap: catches lightly-edited leakage the exact check misses."""
    from ..operators.dedup import decontaminate_near

    d = table(spark, sf, "documents").select("doc_id", "text")
    bench = d.filter(F.col("doc_id") % 53 == 0).select(
        (F.col("doc_id") + 5000000).alias("doc_id"), "text"
    )
    return decontaminate_near(d, bench)


@register(
    "x_chunk_documents",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(lower(text), '[[:space:]]+'), x -> x <> '')) AS n_tok
      FROM documents)
    SELECT doc_id, CAST(n_tok AS INT) AS n_tok,
           CAST(e AS INT) AS chunk_id,
           CAST(e * 32 AS INT) AS chunk_start,
           CAST(least(32, n_tok - e * 32) AS INT) AS chunk_len
    FROM t CROSS JOIN unnest(range(8)) u(e)
    WHERE e < greatest(CAST(ceil(n_tok / 32.0) AS BIGINT), 1)
    """,
)
def x_chunk_documents(spark: SparkSession, sf: str) -> DataFrame:
    """C7+: fixed-token-window document chunking (32-token windows) —
    RAG/embedding-index preprocessing; map-side explode row generator,
    no shuffle.  Empty docs emit one zero-length chunk."""
    from ..operators.curation import chunk_documents

    d = table(spark, sf, "documents")
    with_tok = d.select(
        "doc_id", token_count("text").cast("int").alias("n_tok")
    )
    return chunk_documents(with_tok, "n_tok", 32).select(
        "doc_id", "n_tok", "chunk_id", "chunk_start", "chunk_len"
    )
