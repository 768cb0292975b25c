"""Deduplication operators for training-data pipelines (SURVEY.md §2 Tier C).

All JVM-side DataFrame compositions (no Python UDFs), built on the portable
md5-based hashes in ``functions.hashing`` so every stage is reproducible in
any ANSI-SQL engine for verification.

Scale notes (the 100 TB design points):
- MinHash signatures are computed with ONE groupBy over (doc, shingle-hash)
  using n_perm parallel ``min`` aggregates — no n_perm-fold row blowup, and
  partial aggregation halves shuffle volume.
- LSH banding turns all-pairs O(n²) into an equi-join on (band, signature),
  which Spark shuffles by key — worst case is bucket skew, handled by AQE
  skew-join splitting.
- Exact-Jaccard verification joins only LSH *candidates* (semi-join
  restricted), never all pairs.
- SimHash uses 60 parallel sum aggregates (one pass), then bands the
  signature into 15-bit chunks for the candidate join.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import MERSENNE_P, md5_i64, md5_u32, minhash_permuted
from ..functions.text import shingles_from_tokens, tokens
from ..storage import stored

SIMHASH_BITS = 60  # md5_i64 yields 60-bit non-negative hashes
# SimHash near-dup shape shared by pair-finding and ledger admission: 4
# bands of 15 bits, and a pair is near-dup at Hamming distance <= 8
SIMHASH_BANDS = 4
SIMHASH_MAX_HAMMING = 8

# The MinHash-LSH shape every dedup operator here shares: word 3-gram
# shingles, 16 permutations cut into 4 bands.
SHINGLE_K = 3
N_PERM = 16
N_BANDS = 4
# prefix filtering and its verification must use the same threshold, or
# the prefix is no longer lossless
PREFIX_THRESHOLD = 0.6


def cap_group_width(df: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """Drop every row of groups wider than ``cap`` rows — the shared
    hot-group guard under ``lsh_candidate_pairs(max_bucket=...)`` and
    ``operators.graph.copurchase_pairs(max_basket=...)`` (one definition
    so the guards stay in lockstep).  The width count is a window that
    rides the same keyed exchange the caller's self-join needs, so the
    guard adds no extra shuffle on the big side."""
    w = Window.partitionBy(*keys)
    return (
        df.withColumn("__gw", F.count("*").over(w))
        .filter(F.col("__gw") <= cap)
        .drop("__gw")
    )


def exact_dedup(df: DataFrame, keys: list[str], order_by: list[Column]) -> DataFrame:
    """Deterministic exact dedup: keep the first row per key group under
    ``order_by`` (C1 — duplicate heartbeats from retried downlinks)."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def shingle_set(docs: DataFrame, k: int = SHINGLE_K) -> DataFrame:
    """Distinct (doc_id, shingle) pairs of ``text`` — the Jaccard/MinHash unit set.

    Tokenizes in its own projection so the shingle ``transform`` lambda
    reads a materialized array attribute; an inline tokenize expression
    would be re-evaluated per shingle index (O(n²) per document).

    r14 negative result (kept as the default on measurement): hash-
    repartitioning by ``shingle`` BELOW the distinct would let the
    distinct, the df-tag window, and the inverted-index self-join share
    ONE exchange (HashPartitioning(shingle) satisfies the (id, shingle)
    clustering), and it did measure −9% on the guarded pair core in
    isolation — but it forfeits the distinct's MAP-SIDE partial
    aggregation, shuffling raw exploded shingles instead of deduped
    ones.  On the planted near-dup corpus that partial-agg shrink
    dominates: the exact-mode key regressed 2.5 s → 6.0 s and the
    12-key dedup family total moved 56.7 s → 63.0 s, so the two-exchange
    shape stays.  (At 100 TB the same trade holds wherever documents
    repeat shingles internally, i.e. everywhere boilerplate exists.)"""
    toked = docs.select(F.col("doc_id"), tokens("text").alias("__toks"))
    # r14 negative result #2: replacing the .distinct() with a map-side
    # array_distinct (zero-shuffle per-doc dedup, the winning move in
    # simhash_signatures) measured a NET LOSS here (8-key family total
    # 22.6 s → 26.1 s): shingle_set feeds 2-4 consumers per plan, and the
    # distinct's exchange is the shared materialization point ReuseExchange
    # dedups the expensive tokenize+shingle projection through — dropping
    # it re-tokenizes the corpus once per consumer subtree.  simhash keeps
    # the map-side form because its token frame has exactly ONE consumer.
    return (
        toked.select(
            F.col("doc_id"),
            F.explode(shingles_from_tokens(F.col("__toks"), k)).alias("shingle"),
        )
        .distinct()
    )


def minhash_signatures(shingles: DataFrame, n_perm: int = N_PERM) -> DataFrame:
    """Wide MinHash signature (mh0..mh{n-1}) per document: one shuffle,
    n_perm parallel min-aggregates over universal-hash permutations."""
    h = md5_u32(F.col("shingle")) % MERSENNE_P
    hashed = shingles.select(F.col("doc_id"), h.alias("h"))
    aggs = [
        F.min(minhash_permuted(F.col("h"), i)).alias(f"mh{i}")
        for i in range(n_perm)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def lsh_bands(sigs: DataFrame, n_perm: int = N_PERM) -> DataFrame:
    """Long-format (doc_id, band_id, band_sig): md5 over each of the
    ``N_BANDS`` bands' comma-joined permutation minima."""
    if n_perm % N_BANDS != 0:
        raise ValueError(
            f"n_perm={n_perm} must divide evenly into n_bands={N_BANDS}; "
            "leftover permutations would be computed but silently unused"
        )
    rows_per_band = n_perm // N_BANDS
    band_cols = []
    for b in range(N_BANDS):
        parts = [F.col(f"mh{b * rows_per_band + j}").cast("string") for j in range(rows_per_band)]
        band_cols.append(F.md5(F.concat_ws(",", *parts)).alias(f"band{b}"))
    wide = sigs.select(F.col("doc_id"), *band_cols)
    stack_expr = ", ".join(f"{b}, band{b}" for b in range(N_BANDS))
    return wide.selectExpr(
        "doc_id", f"stack({N_BANDS}, {stack_expr}) AS (band_id, band_sig)"
    )


def lsh_candidate_pairs(bands: DataFrame, max_bucket: int | None = None) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing at least one LSH bucket.

    ``max_bucket`` is the 100 TB hot-bucket guard: a bucket holding b
    documents emits b² candidate pairs, so ONE viral duplicate or
    boilerplate template (thousands of near-identical docs hashing to the
    same band signature) turns the self-join quadratic on a single key.
    With ``max_bucket=N``, buckets larger than N are dropped from
    candidate generation — run exact dedup FIRST (verbatim copies are its
    job) and treat surviving over-full buckets as boilerplate, the same
    judgement call as ``ngram_jaccard_pairs(max_df=...)``.  Default None
    keeps candidate generation exhaustive (the oracle mode).  The window
    count rides the same (band_id, band_sig) shuffle the join needs, so
    the guard adds no extra exchange on the big side.
    """
    if max_bucket is not None:
        bands = cap_group_width(bands, ["band_id", "band_sig"], max_bucket)
    a = bands.select(F.col("doc_id").alias("id_a"), "band_id", "band_sig")
    b = bands.select(F.col("doc_id").alias("id_b"), "band_id", "band_sig")
    return (
        a.join(b, ["band_id", "band_sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def candidate_jaccard_parts(shingles: DataFrame, candidates: DataFrame) -> DataFrame:
    """(id_a, id_b, n_inter, sz_a, sz_b) for every candidate pair — the
    shared exact-set-overlap scaffold under candidate VERIFICATION
    (jaccard_verify's threshold cut, the calibration audit's raw
    estimator-vs-truth comparison).  One definition so a future guard or
    formula fix can't land in one consumer and not the other."""
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("sz"))
    sa = shingles.select(F.col("doc_id").alias("id_a"), "shingle")
    sb = shingles.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        candidates.join(sa, "id_a")
        .join(sb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    za = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    zb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    return inter.join(za, "id_a").join(zb, "id_b")


def jaccard_verify(shingles: DataFrame, candidates: DataFrame,
                   threshold: float = 0.8) -> DataFrame:
    """Exact Jaccard over distinct shingle sets, restricted to candidates."""
    parts = candidate_jaccard_parts(shingles, candidates)
    jac = F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
    return (
        parts.withColumn("jaccard", F.round(jac, 4))
        .filter(jac >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_near_dup(docs: DataFrame, threshold: float = 0.8,
                     max_bucket: int | None = None) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → sign → band →
    candidate join → exact-Jaccard verification (C2).

    The shingle set feeds three consumers (signatures, set sizes, the
    intersection join); no explicit cache — the distinct's shuffle is an
    identical exchange in all three sub-plans, so ReuseExchange
    materializes it once.  (Measured: ``.persist()`` here is ~2× SLOWER —
    it breaks whole-stage codegen across the cache boundary and pays
    InMemoryTableScan overhead for data the shuffle files already hold.)"""
    sh = shingle_set(docs)
    sigs = minhash_signatures(sh)
    cands = lsh_candidate_pairs(lsh_bands(sigs), max_bucket=max_bucket)
    return jaccard_verify(sh, cands, threshold)


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.6,
                        max_df: int | None = None) -> DataFrame:
    """Exact all-candidate n-gram Jaccard via inverted-index self-join —
    the exact counterpart MinHash approximates.

    ``max_df`` is the 100 TB knob: shingles appearing in more than
    ``max_df`` documents (boilerplate — license headers, navigation
    chrome) are dropped from CANDIDATE GENERATION only, bounding the
    self-join's worst bucket at max_df² pairs instead of corpus².
    Scores stay EXACT: intersection counts and set sizes are computed on
    the full shingle sets — the prefilter can only lose pairs whose
    every shared shingle is boilerplate, which at ``jaccard ≥ threshold``
    means near-pure-boilerplate docs (drop-eligible anyway).  Default
    ``None`` = exact candidate generation (the oracle-matched mode)."""
    sh = shingle_set(docs)
    j = ngram_pairs_with_sizes(sh, max_df)
    jac = F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
    return (
        j.withColumn("jaccard", F.round(jac, 4))
        .filter(jac >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_pairs_with_sizes(sh: DataFrame, max_df: int | None = None) -> DataFrame:
    """(id_a, id_b, n_inter, sz_a, sz_b): the intersection core joined
    with both sides' set sizes — the shared scaffold every set-overlap
    scorer (Jaccard, containment, overlap coefficient) derives from."""
    if max_df is None:
        # exact mode: the distinct shingle set feeds THREE consumers
        # (both self-join sides, the size count) — store it once (r15;
        # without the cut each consumer re-runs the distinct's final
        # aggregation above the one reused exchange; same 1-eval rule as
        # the scale mode's tagged frame, measured −0.2-0.5 s at sf0.1)
        sh = stored(sh)
        pairs = ngram_intersection_pairs(sh, max_df)
        sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    else:
        # scale mode: sizes ride the SAME stored df-tagged frame the
        # candidate core materializes (tagged is sh plus the df column,
        # one row per (id, shingle) — counting its rows per id IS the
        # set size), so the shingle distinct is not recomputed for the
        # size branch (guide §1.2 — don't compute things twice).
        tagged = _df_tagged_shingles(sh)
        pairs = _guarded_intersection_pairs(tagged, "doc_id", max_df)
        sizes = tagged.groupBy("doc_id").agg(F.count("*").alias("sz"))
    za = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    zb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    return pairs.join(za, "id_a").join(zb, "id_b")


def ngram_intersection_pairs(sh: DataFrame, max_df: int | None = None) -> DataFrame:
    """Exact (id_a < id_b, n_inter) shingle-intersection counts over an
    inverted-index self-join of a (id, shingle) set — the shared candidate
    + intersection core under both Jaccard (resemblance) and containment
    scoring.  ``max_df`` semantics as in :func:`ngram_jaccard_pairs`."""
    if max_df is None:
        # exact mode: one self-join pass, intersection counted in place
        sa = sh.select(F.col("doc_id").alias("id_a"), "shingle")
        sb = sh.select(F.col("doc_id").alias("id_b"), "shingle")
        pairs = (
            sa.join(sb, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_inter"))
        )
    else:
        pairs = _guarded_intersection_pairs(
            _df_tagged_shingles(sh), "doc_id", max_df
        )
    return pairs


def _df_tagged_shingles(sh: DataFrame) -> DataFrame:
    """(id, shingle, __df) with the shingle's document frequency tagged on
    every row — the shared frame under the guarded candidate core, stored
    ONCE.

    df is tagged with a WINDOW over the shingle shuffle, not a separate
    groupBy+join (measured 25% faster than the groupBy+rejoin formulation
    at sf0.1).  r15: the tagged frame is materialized because FOUR
    branches consume it (both sides of the rare self-join, the hot
    correction index, the set-size count) — ReuseExchange shared the
    window's input exchange across them, but the window itself (a full
    sort of every (id, shingle) row by shingle string) re-executed per
    branch: 4 sorts of the corpus-shingle frame per key, measured ~60%
    of the candidate core's wall time.  Stored blocks are read by all
    four consumers instead; this is the operator family's single
    corpus-scale stored frame (same single-copy rule as the pagerank
    weighted edge list)."""
    return stored(_df_tag(sh))


def _df_tag(sh: DataFrame) -> DataFrame:
    """The df-tagging projection itself (window over the shingle shuffle,
    NOT a groupBy+rejoin — measured 25% faster); split from the stored
    wrapper so the plan shape stays pytest-pinnable above the RDD scan."""
    w_sh = Window.partitionBy("shingle")
    return sh.withColumn("__df", F.count("*").over(w_sh))


def _guarded_intersection_pairs(tagged: DataFrame, id_col: str,
                                max_df: int) -> DataFrame:
    """Scale-mode candidate + intersection core over the stored df-tagged
    shingle frame: candidates come from the rare-shingle inverted index,
    and their RARE-side intersection count falls out of that same
    self-join's groupBy (no distinct, no full-set recount join).  The
    exact n_inter then only needs the HOT-shingle correction: how many
    df>max_df shingles each candidate pair also shares — computed
    against the hot index, whose per-doc width is the (small) number
    of boilerplate shingles, so the correction join is bounded by
    candidates × hot-shingles-per-doc, never candidates × full sets.
    Scores stay exact: n_inter = n_rare + n_hot partitions the true
    intersection by df class."""
    rare_sh = tagged.filter(F.col("__df") <= max_df).drop("__df")
    hot_sh = tagged.filter(F.col("__df") > max_df).drop("__df")
    ra = rare_sh.select(F.col(id_col).alias("id_a"), "shingle")
    rb = rare_sh.select(F.col(id_col).alias("id_b"), "shingle")
    rare_pairs = (
        ra.join(rb, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_rare"))
    )
    ha = hot_sh.select(F.col(id_col).alias("id_a"), "shingle")
    hb = hot_sh.select(F.col(id_col).alias("id_b"), "shingle")
    hot_inter = (
        rare_pairs.select("id_a", "id_b")
        .join(ha, "id_a")
        .join(hb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_hot"))
    )
    return rare_pairs.join(hot_inter, ["id_a", "id_b"], "left").select(
        "id_a",
        "id_b",
        (F.col("n_rare") + F.coalesce(F.col("n_hot"), F.lit(0))).alias(
            "n_inter"
        ),
    )


_SIMHASH_LANES_PER_SUM = 3
_SIMHASH_LANE_BITS = 21  # per-lane counter width -> ≤2^21 distinct tokens/doc


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """60-bit SimHash per ``doc_id`` over the distinct token set of its
    ``text`` — one groupBy with PACKED bit-count aggregates.

    Contract (ADVICE r14): ``docs`` must hold ONE row per ``doc_id``.
    The per-row ``array_distinct`` dedups tokens within a row only; a
    duplicated id would have its token multiset summed across rows
    (exact duplicate rows still yield identical signatures, but partial
    duplicates diverge from the old global (id, token) distinct).
    Every in-repo caller passes a one-row-per-doc corpus;
    ``dropDuplicates(["doc_id"])`` upstream restores the old semantics if
    a future caller cannot guarantee it.

    The naive form is 60 parallel sign-sums (±1 per token per bit).  The
    sign of bit b only needs ``2*count_of_set_bits > n_tokens``, and a
    set-bit count fits a narrow integer lane, so THREE 21-bit counters
    pack into each 64-bit sum: 20 aggregates instead of 60 (measured 20%
    faster end-to-end at sf0.1, bit-identical signatures — the DuckDB
    oracle keeps the 60-sum formulation as the independent replay).
    Lane-overflow bound: a counter carries into its neighbor at exactly
    2^21 ≈ 2.1M DISTINCT tokens in one document — beyond any
    natural-language vocabulary, and GUARDED: the per-doc distinct-token
    count is already an aggregate here, so a runtime assert fails fast
    instead of silently corrupting signatures.  Widen
    ``_SIMHASH_LANE_BITS`` (fewer lanes per sum) for ids/numbers corpora
    that approach the bound."""
    # r14 (guide §2.4 — remove shuffles outright): the old
    # explode-then-.distinct() shuffled every (id, token) row to dedup,
    # but a distinct whose key INCLUDES the row id is a per-document
    # dedup — array_distinct does it map-side in the projection, so the
    # signature groupBy below is the operator's ONLY exchange (2 → 1;
    # measured −25% on the simhash family at sf0.1, identical bits).
    toks = (
        docs.select(F.col("doc_id"), tokens("text").alias("__toks"))
        .select(F.col("doc_id"), F.explode(F.array_distinct("__toks")).alias("tok"))
        .select(F.col("doc_id"), md5_i64(F.col("tok")).alias("h"))
    )
    lanes, width = _SIMHASH_LANES_PER_SUM, _SIMHASH_LANE_BITS
    n_sums = (SIMHASH_BITS + lanes - 1) // lanes
    aggs = [F.count("*").alias("__n")]
    for s in range(n_sums):
        in_sum = [s * lanes + j for j in range(lanes) if s * lanes + j < SIMHASH_BITS]
        packed = reduce(
            lambda x, y: x + y,
            [
                F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)).cast("bigint")
                * F.lit(1 << (j * width)).cast("bigint")
                for j, b in enumerate(in_sum)
            ],
        )
        aggs.append(F.sum(packed).alias(f"__p{s}"))
    grouped = toks.groupBy("doc_id").agg(*aggs)
    # fail fast at the documented bound — a wrapped lane would silently
    # flip many signature bits; the count is already aggregated, so the
    # assert costs one comparison per document
    grouped = grouped.filter(
        F.assert_true(
            F.col("__n") < F.lit(1 << width),
            F.concat(
                F.lit("simhash lane overflow: document "),
                F.col("doc_id").cast("string"),
                F.lit(f" has >= 2^{width} distinct tokens; widen "
                      "_SIMHASH_LANE_BITS"),
            ),
        ).isNull()
    )
    mask = (1 << width) - 1
    bits = []
    for b in range(SIMHASH_BITS):
        s, j = divmod(b, lanes)
        cnt = F.shiftright(F.col(f"__p{s}"), j * width).bitwiseAND(F.lit(mask))
        bits.append(
            # majority rule: 2*cnt > n  ⟺  sum(±1) > 0 in the sign-sum form
            F.when(cnt * 2 > F.col("__n"), F.lit(1 << b).cast("bigint"))
            .otherwise(F.lit(0).cast("bigint"))
        )
    simhash = reduce(lambda x, y: x + y, bits)
    return grouped.select(F.col("doc_id"), simhash.alias("simhash"))


def simhash_pairs(sigs: DataFrame, n_bands: int = SIMHASH_BANDS,
                  keep_signatures: bool = False) -> DataFrame:
    """Near-dup pairs by SimHash: band the 60-bit signature into 15-bit
    chunks (exact-match candidate join), verify Hamming distance.

    Dedup WITHOUT a distinct: a pair that collides in several bands would
    surface once per band, so each joined row keeps the pair only when no
    EARLIER band also collides ("first-collision-band" rule).  Bands are
    bit-slices of the simhash both sides already carry, so the rule is a
    pure map-side expression — every pair survives exactly once and the
    |candidate-pairs|-sized distinct exchange disappears.  The only
    shuffle left is the (tiny, |docs|×n_bands-row) band join."""
    if SIMHASH_BITS % n_bands != 0:
        raise ValueError(
            f"n_bands={n_bands} must divide SIMHASH_BITS={SIMHASH_BITS}; "
            "a remainder leaves high bits out of every band, silently "
            "missing near-dup pairs that differ only there"
        )
    chunk = SIMHASH_BITS // n_bands
    mask = (1 << chunk) - 1

    def band_slice(sig: Column, b: Column | int) -> Column:
        shift = (b * chunk) if isinstance(b, int) else (b * F.lit(chunk))
        return F.shiftright(sig, shift).bitwiseAND(F.lit(mask))

    banded = sigs.select(
        F.col("doc_id"),
        F.col("simhash"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_id"),
                    band_slice(F.col("simhash"), b).alias("band_val"),
                )
                for b in range(n_bands)
            ])
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band_id", "bb.band_val")
    a = banded.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"), "band_id", "band_val")
    b = banded.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"), "band_id", "band_val")
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    first_band = reduce(
        lambda x, y: x & y,
        [
            (F.col("band_id") <= earlier)
            | (band_slice(F.col("sh_a"), earlier) != band_slice(F.col("sh_b"), earlier))
            for earlier in range(n_bands - 1)
        ],
        F.lit(True),  # n_bands=1: no earlier bands, every pair unique already
    )
    out_cols = ["id_a", "id_b", ham.alias("hamming")]
    if keep_signatures:
        # for callers that expand pairs by signature (the collapsed
        # derivation) — joining back by pair id would re-shuffle on ids
        out_cols += [F.col("sh_a"), F.col("sh_b")]
    return (
        a.join(b, ["band_id", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(first_band)
        .filter(ham <= SIMHASH_MAX_HAMMING)
        .select(*out_cols)
    )


def simhash_pairs_collapsed(sigs: DataFrame) -> DataFrame:
    """EXACTLY ``simhash_pairs``'s output with O(clique) band-join state
    — the clique-safe derivation (round-9 VERDICT finding).

    SimHash signatures are unigram-set functions, so a k-copy exact or
    token-permuted duplicate family is one Hamming-0 clique; the direct
    band self-join drags all C(k, 2) clique rows through the candidate
    shuffle (measured uncollectable at sf1 on a duplicate-heavy corpus,
    SCALE.md §7o).  Here identical signatures collapse FIRST (one
    map-side-combinable groupBy) and the band join runs over one
    REPRESENTATIVE per distinct signature — bucket width is bounded by
    distinct-signature density, which duplicate mass cannot inflate.
    The raw pair list is then recovered exactly:

    - within a signature group: every member pair, Hamming 0 — a
      sort-merge self-join on the signature that STREAMS the C(k, 2)
      output rows while buffering only the O(k) group (spillable);
    - across signature groups: each representative pair expands to
      members(a) × members(b) via two signature-keyed joins, each
      member pair inheriting the representatives' Hamming distance
      (members share their representative's signature bit-for-bit).

    Same columns, same rows, same first-collision-band dedup semantics
    as ``simhash_pairs`` on ANY corpus — only the intermediate state
    changes.  Output cardinality is still the true (possibly quadratic)
    answer; callers that want clique-collapsed OUTPUT use the
    x_dedup_simhash_rep shape instead."""
    # sigs (tokenize + two 60-bit aggregations — the expensive subtree)
    # feeds groups, the two member expansions, and the within self-join;
    # without reuse Spark replans it per reference (measured: 16 scans of
    # the documents source in one plan, +1.6 s at sf0.1).
    sigs = stored(sigs)
    groups = sigs.groupBy("simhash").agg(
        F.min("doc_id").alias("__rep"), F.count("*").alias("__k")
    )
    reps = groups.select(F.col("__rep").alias("doc_id"), "simhash")
    rep_pairs = simhash_pairs(reps, keep_signatures=True)
    members = sigs.select(F.col("doc_id"), "simhash")
    # within-group implied pairs: Hamming 0 by construction; restrict to
    # k >= 2 groups so singleton signatures skip the self-join entirely
    multi = members.join(
        groups.filter(F.col("__k") >= 2).select("simhash"), "simhash"
    )
    within = (
        multi.select("simhash", F.col("doc_id").alias("__ma"))
        .join(multi.select("simhash", F.col("doc_id").alias("__mb")), "simhash")
        .filter(F.col("__ma") < F.col("__mb"))
        .select(
            F.col("__ma").alias("id_a"),
            F.col("__mb").alias("id_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    # cross-group pairs fan out to the two member sets by SIGNATURE
    # (members share their representative's signature exactly — no
    # pair-id-keyed exchange anywhere); least/greatest restores the
    # id_a < id_b orientation for member ids that interleave
    across = (
        rep_pairs.join(
            members.select(
                F.col("simhash").alias("sh_a"), F.col("doc_id").alias("__ma")
            ),
            "sh_a",
        )
        .join(
            members.select(
                F.col("simhash").alias("sh_b"), F.col("doc_id").alias("__mb")
            ),
            "sh_b",
        )
        .select(
            F.least("__ma", "__mb").alias("id_a"),
            F.greatest("__ma", "__mb").alias("id_b"),
            F.col("hamming"),
        )
    )
    return within.unionByName(across)


def connected_components(edges: DataFrame, nodes: DataFrame,
                         max_iters: int = 25,
                         stats: dict | None = None) -> DataFrame:
    """Connected components over a near-dup candidate graph → cluster ids
    (the step that turns pairwise near-dup hits into dedup groups: keep the
    canonical member, drop the rest).

    Iterative min-label propagation: every node starts labeled with its own
    id; each round every node takes the min label over itself and its
    neighbors; converged when a round changes nothing.  Rounds needed =
    graph diameter — small for dedup graphs, whose components are
    near-clique duplicate groups, so plain propagation beats the
    asymptotically-better alternating large-star/small-star scheme
    (Kiveris et al., "Connected Components in MapReduce", SoCC'14) that a
    general 100 TB graph would want.  Each round is one shuffle
    (groupBy node); checkpointing truncates lineage so the plan doesn't
    grow exponentially with iterations.

    Convergence probe: each node's previous label rides along in the same
    round aggregate (the self row is tagged, so ``min(lbl) FILTER self`` IS
    last round's label — labels only ever decrease), and the round's
    changed-node count is one aggregate over the checkpointed result.
    Exact for ANY orderable id type — numeric, string, binary — with no
    labels⋈labels comparison join and no overflow-prone numeric sum.

    Each round's labels are ``stored()``, so a session with a checkpoint
    directory runs every round durably (storage.py — at 100 TB a lost
    node must not abort a 20-round job).

    ``edges``: (id_a, id_b) undirected candidate pairs.
    ``nodes``: one row per ``doc_id`` (must cover isolated nodes).
    Returns (doc_id, cluster_id) where cluster_id = min id in component.
    """
    # materialize the candidate graph ONCE (lazily — round 1 computes it,
    # later rounds read the stored blocks): each round is its own job, so
    # without this the upstream edge derivation — for dedup graphs an
    # expensive shingle inverted-index join — replans EVERY round.
    # r14: the checkpoint sits BELOW the symmetrization, not above it —
    # the union's two branches each embed the full edge-derivation
    # subtree, and storing the unioned frame made round 1 execute that
    # subtree's non-shared tail twice (measured: CC wall over the guarded
    # ngram graph 8.7 s with the union stored vs 5.5 s storing the pair
    # list; pairs-only blocks are also half the stored bytes — the same
    # single-copy rule as the pagerank weighted-edge remedy).  The
    # per-round swap union over stored blocks is two narrow projections,
    # no shuffle.
    edges = stored(edges)
    sym = edges.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    labels = nodes.select(F.col("doc_id").alias("node"), F.col("doc_id").alias("lbl"))
    rounds = 0
    converged = False
    for _ in range(max_iters):
        rounds += 1
        from_nbrs = sym.join(labels, sym["src"] == labels["node"]).select(
            F.col("dst").alias("node"), F.col("lbl"), F.lit(0).alias("is_self")
        )
        # the convergence count right below is the action that stores
        # the round's labels — one job per round (r14, measured ~35% off
        # the whole loop at sf0.1 against an eager store + count pair)
        new_labels = stored(
            labels.select("node", "lbl", F.lit(1).alias("is_self"))
            .unionByName(from_nbrs)
            .groupBy("node")
            .agg(
                F.min("lbl").alias("lbl"),
                # the self row carries last round's label (every node has
                # exactly one — `nodes` covers isolated nodes by contract)
                F.min(F.when(F.col("is_self") == 1, F.col("lbl"))).alias("prev_lbl"),
            )
        )
        n_changed = new_labels.agg(
            F.count(F.when(F.col("lbl") != F.col("prev_lbl"), 1)).alias("n")
        ).collect()[0][0]
        labels = new_labels.select("node", "lbl")
        if n_changed == 0:
            converged = True
            break
    if stats is not None:
        stats["rounds"] = rounds  # ``stats``: observability out-param (scale probes)
        stats["converged"] = converged
    if not converged:
        # labels after max_iters non-converged rounds are NOT component
        # minima on any graph whose diameter exceeds the budget — a
        # silent wrong answer.  Fail loudly: dedup graphs converge in a
        # handful of rounds, so hitting the cap means the graph is the
        # long-diameter shape connected_components_star exists for.
        raise RuntimeError(
            f"connected_components did not converge in max_iters={max_iters} "
            f"rounds — the graph's diameter exceeds the round budget; raise "
            f"max_iters or use connected_components_star (O(log n) rounds)"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id"))


def connected_components_star(edges: DataFrame, nodes: DataFrame,
                              max_iters: int = 30,
                              stats: dict | None = None) -> DataFrame:
    """Alternating large-star / small-star connected components (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    the O(log n)-round scale path for LONG-DIAMETER graphs, where plain
    min-label propagation (:func:`connected_components`) needs
    diameter-many rounds.

    One round = large-star then small-star, each a single window shuffle:

    - large-star: over the symmetrized adjacency, every strictly-larger
      neighbor ``v > u`` re-attaches to ``m = min(N(u) ∪ {u})``;
    - small-star: edges oriented (max, min); every smaller neighbor and
      ``u`` itself attach to ``m``.

    Both steps preserve connectivity and monotonically shrink node
    labels; the fixpoint is a star forest whose centers are component
    minima.  Convergence is the EXACT edge-set fixpoint (symmetric
    difference empty), detected cheaply: each round computes a
    commutative signature of the checkpointed edge set — (count,
    bit_xor of xxhash64(u, v)) — in ONE map-side-combined aggregate,
    and the exact symmetric-difference join runs only when the
    signature matches the previous round's (so it executes ~once, at
    the fixpoint, instead of costing 2 extra shuffles EVERY round;
    VERDICT r5 "What's wrong" #1).  Equal edge sets always produce
    equal signatures, so the fixpoint is never missed; a signature
    collision on unequal sets merely falls through to the exact check,
    which sees the difference and continues — exactness is preserved
    for any id type xxhash64 accepts.

    Same contract as :func:`connected_components` (which remains the
    default for dedup graphs — near-clique duplicate groups have tiny
    diameters, where 2 shuffles/round beats this scheme's 4):
    ``edges`` (id_a, id_b) undirected, ``nodes`` covering isolated ids;
    returns (doc_id, cluster_id = component min).  The ``_sig`` collect
    right after each ``stored()`` round is the action that stores it.
    """

    def _sym(e: DataFrame) -> DataFrame:
        return e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )

    def _large(e: DataFrame) -> DataFrame:
        w = Window.partitionBy("u")
        m = F.least(F.min("v").over(w), F.col("u"))
        return (
            _sym(e)
            .withColumn("m", m)
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def _small(e: DataFrame) -> DataFrame:
        ori = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        w = Window.partitionBy("u")
        with_m = ori.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
        re_attach = with_m.filter(F.col("v") != F.col("m")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        to_center = with_m.select("u", F.col("m").alias("v"))
        return re_attach.unionByName(to_center).distinct()

    def _sig(e: DataFrame) -> tuple:
        row = e.agg(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64(F.col("u"), F.col("v"))).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    cur = stored(
        edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    cur_sig = _sig(cur)
    rounds = 0
    converged = False
    for _ in range(max_iters):
        rounds += 1
        nxt = stored(_small(_large(cur)))
        nxt_sig = _sig(nxt)
        converged = nxt_sig == cur_sig and (
            # exact confirmation — reached ~once, at the fixpoint
            nxt.exceptAll(cur).unionByName(cur.exceptAll(nxt)).isEmpty()
        )
        cur, cur_sig = nxt, nxt_sig
        if converged:
            break
    if stats is not None:
        stats["rounds"] = rounds  # ``stats``: observability out-param (scale probes)
        stats["converged"] = converged
    if not converged:
        # same fail-loudly contract as connected_components: a non-star
        # edge set at the round cap means labels below would not be
        # component minima.  At 2 log n + O(1) rounds for ANY graph
        # (Kiveris et al.), max_iters=30 covers ~2^15 nodes per
        # component — raise it for bigger components, don't mask it.
        raise RuntimeError(
            f"connected_components_star did not reach the star-forest "
            f"fixpoint in max_iters={max_iters} rounds; raise max_iters"
        )
    nbr_min = _sym(cur).groupBy("u").agg(F.min("v").alias("nbr"))
    return (
        nodes.select(F.col("doc_id").alias("node"))
        .join(nbr_min, F.col("node") == F.col("u"), "left")
        .select(
            F.col("node").alias("doc_id"),
            F.least(
                F.coalesce(F.col("nbr"), F.col("node")), F.col("node")
            ).alias("cluster_id"),
        )
    )


def decontaminate_near(corpus: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Fuzzy benchmark decontamination: MinHash-LSH near-dup between a
    training corpus and a held-out eval set (the near-dup complement of
    ``operators.curation.decontaminate``'s exact n-gram overlap — real
    pipelines run both: exact overlap catches verbatim leakage, this
    catches lightly-edited/reformatted leakage).

    Cross-corpus variant of :func:`minhash_near_dup`: both sides shingle
    and sign independently, candidates come from a banded equi-join
    ACROSS the two band tables (never corpus×corpus), and each candidate
    is verified with exact Jaccard.  Returns
    ``(corpus_id, bench_id, jaccard)`` for pairs with Jaccard ≥ 0.5.

    Scale: the benchmark side is eval sets — MBs against a 100 TB corpus
    — so its band table and shingle set broadcast; the corpus side's only
    wide shuffles are its own signature groupBy and the per-candidate
    intersection count, both proportional to corpus size × hit rate, not
    corpus².
    """
    sh_c = shingle_set(corpus)
    sh_b = shingle_set(benchmark)
    bands_c = lsh_bands(minhash_signatures(sh_c))
    bands_b = lsh_bands(minhash_signatures(sh_b))
    cands = (
        bands_c.select(F.col("doc_id").alias("corpus_id"), "band_id", "band_sig")
        .join(
            # benchmark-derived sides are eval-set sized (MBs), independent
            # of the corpus, but estimated from their source
            F.broadcast(
                bands_b.select(F.col("doc_id").alias("bench_id"), "band_id", "band_sig")
            ),
            ["band_id", "band_sig"],
        )
        .select("corpus_id", "bench_id")
        .distinct()
    )
    sz_c = sh_c.groupBy("doc_id").agg(F.count("*").alias("sz_a")).select(
        F.col("doc_id").alias("corpus_id"), "sz_a"
    )
    sz_b = sh_b.groupBy("doc_id").agg(F.count("*").alias("sz_b")).select(
        F.col("doc_id").alias("bench_id"), "sz_b"
    )
    sa = sh_c.select(F.col("doc_id").alias("corpus_id"), "shingle")
    sb = sh_b.select(F.col("doc_id").alias("bench_id"), "shingle")
    inter = (
        cands.join(sa, "corpus_id")
        # eval-set sized benchmark shingles
        .join(F.broadcast(sb), ["bench_id", "shingle"])
        .groupBy("corpus_id", "bench_id")
        .agg(F.count("*").alias("n_inter"))
    )
    jac = F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
    return (
        inter.join(sz_c, "corpus_id")
        # one row per benchmark document
        .join(F.broadcast(sz_b), "bench_id")
        .withColumn("jaccard", F.round(jac, 4))
        .filter(jac >= 0.5)
        .select("corpus_id", "bench_id", "jaccard")
    )


def containment_pairs(docs: DataFrame,
                      threshold: float = 0.9,
                      max_df: int | None = None,
                      min_size: int | None = None) -> DataFrame:
    """Asymmetric containment dedup: C = |A∩B| / min(|A|,|B|) — the
    doc-inside-doc detector (Broder '97's "containment" next to
    "resemblance").  A short document quoted whole inside a much longer
    wrapper (template chrome around syndicated body text) has containment
    ≈ 1 while symmetric Jaccard ≈ |A|/|B| can sit far below every
    near-dup threshold — so resemblance-based dedup keeps BOTH copies.

    Output: (contained_id, container_id, containment, jaccard) for pairs
    with containment >= threshold; the smaller set is the contained side
    (ties: higher id).  Jaccard is reported alongside to make the
    asymmetric catch auditable.

    Scale: the same rare-shingle inverted-index candidates as
    :func:`ngram_jaccard_pairs` — ``max_df`` bounds the worst bucket at
    max_df² pairs; intersection exact (rare + hot-correction split).
    Containment is MORE guard-sensitive than Jaccard (a tiny doc of pure
    boilerplate is "contained" in everything), so production runs want
    BOTH max_df and ``min_size`` — a minimum shingle-set-size floor.
    Because the contained side of every pair is by construction the
    SMALLER set, dropping all docs whose set size < min_size before
    candidate generation is exactly equivalent to dropping every pair
    whose contained side is sub-floor (any pair touching a sub-floor doc
    has min(|A|,|B|) < min_size), while also pruning those docs from the
    inverted-index self-join entirely — a tiny chrome-only doc stops
    being a candidate against the whole corpus instead of being scored
    and discarded.  The floor is one windowed count riding the same
    id-keyed exchange the size join needs, and SQL-replayable
    (``HAVING count(*) >= min_size`` on the shingle sets).
    """
    sh = shingle_set(docs)
    if min_size is not None:
        w_id = Window.partitionBy("doc_id")
        sh = (
            sh.withColumn("__sz", F.count("*").over(w_id))
            .filter(F.col("__sz") >= min_size)
            .drop("__sz")
        )
    j = ngram_pairs_with_sizes(sh, max_df)
    cont = F.col("n_inter") / F.least(F.col("sz_a"), F.col("sz_b"))
    jac = F.round(
        F.col("n_inter")
        / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")),
        4,
    ).alias("jaccard")
    contained = (
        F.when(F.col("sz_a") < F.col("sz_b"), F.col("id_a"))
        .when(F.col("sz_b") < F.col("sz_a"), F.col("id_b"))
        .otherwise(F.greatest(F.col("id_a"), F.col("id_b")))
    )
    container = (
        F.when(F.col("sz_a") < F.col("sz_b"), F.col("id_b"))
        .when(F.col("sz_b") < F.col("sz_a"), F.col("id_a"))
        .otherwise(F.least(F.col("id_a"), F.col("id_b")))
    )
    return (
        j.filter(cont >= threshold)
        .select(
            contained.alias("contained_id"),
            container.alias("container_id"),
            F.round(cont, 4).alias("containment"),
            jac,
        )
    )


def jaccard_prefix_pairs(docs: DataFrame) -> DataFrame:
    """Exact set-similarity join via PREFIX FILTERING (Chaudhuri et al.
    ICDE'06 SSJoin; Bayardo et al. WWW'07 All-Pairs; Xiao et al. WWW'08
    PPJoin): the same (id_a, id_b, jaccard ≥ ``PREFIX_THRESHOLD``) result as
    :func:`ngram_jaccard_pairs`, but candidates come only from each
    document's PREFIX — its ``|x| - ceil(t·|x|) + 1`` rarest shingles
    under a global (df asc, shingle asc) ordering — instead of the full
    inverted index.  The filter is LOSSLESS: two sets with Jaccard ≥ t
    share ≥ ceil(t·|x|) elements, more than fit outside either prefix,
    so every qualifying pair shares at least one prefix token and exact
    verification restores precision.  This is the exact-join counterpart
    of MinHash-LSH (probabilistic) and the df-screen (lossy-by-contract):
    with the PPJoin length + positional screens it generates 169×
    (sf0.01) / 16.6× (sf0.1) fewer candidates than the
    any-shared-shingle join, with the identical verified output (pinned
    by a pytest equivalence).

    Scale: df and set size are tagged with two windows (one shingle-keyed
    exchange the candidate self-join reuses, one id-keyed exchange the
    verify join reuses); the global ordering needs NO dense global rank —
    the (df, shingle) tuple IS the total order, so there is no
    single-task bottleneck.  Frequent shingles land at prefix TAILS,
    so the candidate join's buckets are rare-shingle-sized; boilerplate
    blowup stays bounded without the df-screen's lossy drop.  The tiny
    ``1e-9`` slack keeps ``ceil`` from overshooting when ``t·|x|`` is
    integral (float product may land one ULP above the integer), which
    would shorten the prefix below the lossless minimum."""
    sh = shingle_set(docs)
    cands = prefix_candidate_pairs(sh)
    return jaccard_verify(sh, cands, PREFIX_THRESHOLD)


def prefix_candidate_pairs(sh: DataFrame) -> DataFrame:
    """Distinct (id_a < id_b) candidate pairs sharing at least one PREFIX
    shingle — the lossless candidate core of :func:`jaccard_prefix_pairs`
    (prefix = each set's ``|x| - ceil(t·|x|) + 1`` rarest shingles under
    the global (df asc, shingle asc) order).  Split out so the
    candidate-volume claim is measurable in isolation.

    Two further LOSSLESS row-level screens ride the same join (PPJoin,
    Xiao et al. WWW'08):

    - **length filter**: J ≥ t forces min(|x|,|y|) ≥ t·max(|x|,|y|)
      (intersection ≤ min, union ≥ max);
    - **positional filter**: a shared prefix token at positions (i, j)
      bounds the remaining overlap by min(|x|−i, |y|−j) + 1, which must
      reach the equivalent overlap threshold α = ceil(t/(1+t)·(|x|+|y|)).
      Keeping a pair if ANY shared-token row passes is lossless: the
      FIRST shared token in the global order carries the loosest bound,
      and for a truly qualifying pair that bound holds there.

    Measured on the sf1 saturated-shingle corpus these two screens cut
    distinct candidates a further 3.8× (39.6M → 10.5M); on the driver
    corpora they are nearly inert (the prefix filter alone is sharp when
    df is heavy-tailed).  See the x_jaccard_prefix docstring for the
    saturation-regime discussion."""
    tagged = (
        sh.withColumn("__df", F.count("*").over(Window.partitionBy("shingle")))
        .withColumn("__sz", F.count("*").over(Window.partitionBy("doc_id")))
        .withColumn(
            "__pos",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.col("__df").asc(), F.col("shingle").asc()
                )
            ),
        )
    )
    prefix_len = (
        F.col("__sz")
        - F.ceil(F.lit(PREFIX_THRESHOLD) * F.col("__sz") - F.lit(1e-9))
        + F.lit(1)
    )
    prefix = tagged.filter(F.col("__pos") <= prefix_len)
    pa = prefix.select(
        F.col("doc_id").alias("id_a"), "shingle",
        F.col("__pos").alias("__pa"), F.col("__sz").alias("__sa"),
    )
    pb = prefix.select(
        F.col("doc_id").alias("id_b"), "shingle",
        F.col("__pos").alias("__pb"), F.col("__sz").alias("__sb"),
    )
    alpha = F.ceil(
        F.lit(PREFIX_THRESHOLD / (1.0 + PREFIX_THRESHOLD))
        * (F.col("__sa") + F.col("__sb"))
        - F.lit(1e-9)
    )
    return (
        pa.join(pb, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.least("__sa", "__sb")
            >= F.lit(PREFIX_THRESHOLD) * F.greatest("__sa", "__sb")
        )
        .filter(
            F.least(
                F.col("__sa") - F.col("__pa"), F.col("__sb") - F.col("__pb")
            )
            + F.lit(1)
            >= alpha
        )
        .select("id_a", "id_b")
        .distinct()
    )
