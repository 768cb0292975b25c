"""Vector similarity search over ``array<float>`` embedding columns
(SURVEY.md §2 Tier C3).

- ``cosine_topk`` — brute force: broadcast the (small) query set against
  the full corpus, rank per query.  This IS the right 100 TB baseline: the
  corpus side stays partitioned, each executor scores its shard against
  the broadcast queries, and top-k resolves with one shuffle of k rows per
  query (per-partition heap via window over rounded sims).
- ``ivf_topk`` — scale path: coarse quantization.  Centroids (here: per
  label-group elementwise means, i.e. one k-means iteration from labeled
  seeds) are broadcast; every vector is assigned to its nearest centroid
  (map-side only); a query probes only its nearest centroid's cluster —
  the scored candidate set shrinks by ~n_clusters×.

Similarities are computed in float64 and ROUNDED before ranking so results
are engine-independent (ties broken by vector id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vectors import as_double, dot_double

# Two-level IVF shape: the super-cell count (None derives ⌈√k⌉ from the
# centroid count) and the super-cells each vector probes in the BLAS
# kernel (None probes all: the exact assignment)
IVF_N_SUPER = None
IVF_BLAS_PROBE_SUPER = None
# Embedding dimension the Rademacher hyperplanes span
PLANE_DIM = 64
# SemDeDup pairs: within-cell cosine at or above this is a duplicate
SEMDEDUP_THRESHOLD = 0.99


def prep_vectors(df: DataFrame, id_col: str, vec_col: str, out_id: str,
          out_vec: str, out_nrm: str, extra: list[str] | None = None) -> DataFrame:
    """Per-side projection computed BELOW the join: double-cast vector +
    L2 norm once per row, so the per-pair kernel is just a dot product.
    (Inline cosine_similarity above a join re-casts both arrays and
    re-derives both norms per PAIR — ~3× the array work.)

    Degenerate rows — zero-norm, NULL, or empty vectors (all have
    ``norm > 0`` false/NULL) — are dropped BEFORE any scoring.
    This is the shared zero-norm guard for the whole x_sim_* family:
    Spark's try_divide yields NULL cosine for a zero vector while DuckDB's
    list_cosine_similarity yields -1.0/NaN (and DuckDB orders NaN above
    every number), so an unscreened degenerate row diverges cross-engine
    the moment one enters the corpus (registry.py boundary, closed by
    x_sim_zero_norm).  Every family oracle mirrors the screen with
    ``list_dot_product(v, v) > 0`` — the semantic_dedup convention."""
    dv = as_double(F.col(vec_col))
    sq = F.aggregate(
        F.transform(dv, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    )
    out = df.select(
        F.col(id_col).alias(out_id),
        dv.alias(out_vec),
        F.sqrt(sq).alias(out_nrm),
        *(extra or []),
    )
    return out.filter(F.col(out_nrm) > 0)


def pair_cosine():
    # try_divide: a zero-norm (degenerate) vector yields NULL similarity
    # instead of an ANSI DIVIDE_BY_ZERO crash; NULLs sort last in the
    # descending rank, so degenerate vectors never pollute top-k.
    return F.round(
        F.try_divide(dot_double(F.col("qd"), F.col("cd")), F.col("qn") * F.col("cn")), 6
    )


def _ranked_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Brute-force cosine top-k: per query, the k most similar corpus
    vectors (self excluded), ranked on round(sim, 6) with id tie-break."""
    q = prep_vectors(queries, "vec_id", "embedding", "query_id", "qd", "qn")
    c = prep_vectors(corpus, "vec_id", "embedding", "neighbor_id", "cd", "cn")
    scored = (
        # the caller's query batch: independent of the corpus size, but
        # estimated from its source (unknown for an RDD-backed frame)
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", pair_cosine().alias("sim"))
    )
    return _ranked_topk(scored, k)


def label_centroids(corpus: DataFrame) -> DataFrame:
    """Elementwise mean vector per label group, components rounded so the
    centroid doubles are identical in any engine that averages the same
    values (cross-engine float-sum order differences vanish at round 6)."""
    pos = (
        corpus.select(F.col("label").alias("centroid_id"),
                      F.posexplode(F.col("embedding")).alias("pos", "x"))
        .groupBy("centroid_id", "pos")
        .agg(F.round(F.avg("x"), 6).alias("m"))
    )
    return pos.groupBy("centroid_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("centroid")
    )


def strided_centroids(corpus: DataFrame) -> DataFrame:
    """Deterministic k ∝ n centroid seeding: every 25th vector
    (by id) becomes a centroid, so the centroid count GROWS with the
    corpus and the expected cell size stays ~25 at any scale —
    the SemDeDup production fix for fixed-k's quadratic cells (cell size
    n/k explodes when k is constant; constant TARGET cell size keeps
    within-cell pair work linear in n).  A map-side filter, no shuffle,
    trivially SQL-replayable (``WHERE id % 25 = 0``) — the
    deterministic stand-in for k-means|| seeding, which would pick
    better-spread centers but not reproducibly across engines."""
    return corpus.filter(F.pmod(F.col("vec_id"), F.lit(25)) == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
    )


def assign_to_centroids(corpus: DataFrame, centroids: DataFrame,
                        n_probe: int = 1) -> DataFrame:
    """Map-side nearest-centroid assignment (broadcast centroids); output
    keeps the precomputed double vector + norm for downstream scoring.

    ``n_probe > 1`` emits one row per (vector, nearby centroid) — the IVF
    recall knob for the QUERY side (corpus vectors always live in exactly
    one cluster, ``n_probe=1``)."""
    c = prep_vectors(corpus, "vec_id", "embedding", "vec_id", "vd", "vn")
    cents = prep_vectors(centroids, "centroid_id", "centroid", "centroid_id", "ctd", "ctn")
    csim = F.round(
        F.try_divide(dot_double(F.col("vd"), F.col("ctd")),
                     F.col("vn") * F.col("ctn")), 6
    )
    # k centroids, the flat path's codebook (k ∝ n takes the 2-level
    # path); estimated from its source (unknown for an RDD-backed frame)
    scored = c.crossJoin(F.broadcast(cents)).select(
        "vec_id", "vd", "vn", "centroid_id", csim.alias("csim")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("csim").desc(), F.col("centroid_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_probe)
        .select("vec_id", "vd", "vn", F.col("centroid_id").alias("cluster"))
    )


def _two_level_probe(corpus: DataFrame, centroids: DataFrame,
                     id_col: str, vec_col: str,
                     n_probe_super: int | None) -> tuple[DataFrame, DataFrame]:
    """Stages 1-3 of the two-level assignment, shared by the declarative
    and BLAS final-argmax variants: seed selection, centroid→super-cell
    tagging, vector→top-probe super-cell routing.  Returns
    (probed (id, vd, vn, super_id), tagged (centroid_id, ctd, ctn,
    super_id)); see :func:`assign_to_centroids_2level` for semantics."""
    import math

    from ..functions.hashing import md5_u32

    # zero-norm centroids are screened BEFORE anything derives from the
    # table: k, the 1/step md5 seed sample, and the min-id fallback seed
    # must all see the same row set as the downstream preps (which screen
    # by default) and as the oracles' screened cent CTE — deriving step
    # from the unscreened count would select a different seed set the
    # moment a degenerate centroid existed (code-review r7 finding)
    centroids = centroids.filter(
        F.aggregate(
            F.transform(as_double(F.col("centroid")), lambda x: x * x),
            F.lit(0.0), lambda acc, x: acc + x,
        ) > 0
    )
    k = centroids.count()  # ONE k-row action; k folds into the plan as literals
    n_super = IVF_N_SUPER
    if n_super is None:
        n_super = math.ceil(math.sqrt(k))
    # floor at 1: k=0 would make step's divisor zero, where the flat
    # assign_to_centroids path returns an empty frame — with one
    # (never-matching) seed stride the empty centroid table flows through
    # as empty seeds → empty tagged → empty join, matching that behavior
    n_super = max(1, n_super)
    if n_probe_super is None:
        # probe-ALL means all ACTUAL cells: hash sampling yields ~n_super
        # seeds but can overshoot it, and capping the probe at n_super
        # would silently skip the surplus cells — "exact" mode would be
        # approximate exactly when hash luck runs high.  k bounds the
        # seed count for any sampling outcome.
        n_probe_super = k
    step = max(1, math.ceil(k / n_super))
    # 1. seeds: hash-sampled centroids at rate 1/step — a map-side filter
    # (NO global sort: a rank-based stride would need an unpartitioned
    # row_number window, i.e. a single-task sort of the k ∝ n centroid
    # table — the exact corpus-proportional bottleneck this function
    # exists to avoid).  The component-wise min-id centroid is unioned in
    # so the seed set is never empty regardless of hash luck (an aggregate,
    # map-side combinable, not a sort).
    sample = md5_u32(
        F.concat(F.lit("seed:"), F.col("centroid_id").cast("string"))
    ) % step == 0
    first = centroids.join(
        centroids.agg(F.min("centroid_id").alias("centroid_id")),
        "centroid_id",
    )
    seeds = (
        centroids.filter(sample)
        .unionByName(first)
        .select(
            F.col("centroid_id").alias("super_id"), F.col("centroid").alias("sv")
        )
        .dropDuplicates(["super_id"])
    )
    sp = prep_vectors(seeds, "super_id", "sv", "super_id", "sd", "sn")

    def _nearest_super(df: DataFrame, idc: str, vcol: str, ncol: str,
                       n_keep: int) -> DataFrame:
        ssim = F.round(
            F.try_divide(dot_double(F.col(vcol), F.col("sd")),
                         F.col(ncol) * F.col("sn")), 6
        )
        # ~n_super seeds (at most k); estimated from the centroid table
        scored = df.crossJoin(F.broadcast(sp)).select(
            df["*"], F.col("super_id"), ssim.alias("__ssim")
        )
        w = Window.partitionBy(idc).orderBy(
            F.col("__ssim").desc(), F.col("super_id").asc()
        )
        return (
            scored.withColumn("__srn", F.row_number().over(w))
            .filter(F.col("__srn") <= n_keep)
            .drop("__ssim", "__srn")
        )

    # 2. tag centroids with their super-cell (nearest seed, probe-1).
    # Seeds always tag to THEMSELVES: under round-6 ties a seed with an
    # identical twin would otherwise tag to the lower-id twin, leaving
    # its own cell EMPTY — and a vector whose every probed cell is empty
    # would silently vanish from the assignment (inner join).  Self-
    # tagging guarantees each probed cell holds at least its seed, so no
    # vector is ever dropped at any probe setting.
    cents = prep_vectors(centroids, "centroid_id", "centroid",
                         "centroid_id", "ctd", "ctn")
    tagged = _nearest_super(cents, "centroid_id", "ctd", "ctn", 1)
    seed_ids = seeds.select(
        F.col("super_id").alias("centroid_id"), F.lit(True).alias("__is_seed")
    )
    tagged = (
        # ~n_super seeds (at most k); estimated from the centroid table
        tagged.join(F.broadcast(seed_ids), "centroid_id", "left")
        .withColumn(
            "super_id",
            F.when(F.col("__is_seed"), F.col("centroid_id")).otherwise(
                F.col("super_id")
            ),
        )
        .drop("__is_seed")
    )
    # 3. vectors probe their n_probe_super nearest super-cells
    c = prep_vectors(corpus, id_col, vec_col, id_col, "vd", "vn")
    if n_probe_super >= k:
        # probe-ALL: every vector visits every cell by definition — skip
        # the seed scoring AND the per-vector row_number window (which
        # would shuffle+sort corpus × seeds rows only to keep them all)
        # ~n_super seeds (at most k); estimated from the centroid table
        probed = c.crossJoin(F.broadcast(seeds.select("super_id")))
    else:
        probed = _nearest_super(c, id_col, "vd", "vn", n_probe_super)
    return probed, tagged


def assign_to_centroids_2level(corpus: DataFrame, centroids: DataFrame,
                               n_probe_super: int | None = None) -> DataFrame:
    """Two-level IVF assignment — the distribution fix for k ∝ n centroid
    tables (VERDICT r5 "What's wrong" #3): when the centroid count grows
    with the corpus (constant target cell size, the SemDeDup production
    posture), the flat :func:`assign_to_centroids` broadcast nested loop
    ships a corpus-proportional table to every task, which stops working
    long before 100 TB.  Here NOTHING corpus-proportional is ever
    broadcast or collected:

    1. ~n_super SEED centroids — hash-sampled at rate ⌈k/n_super⌉⁻¹
       by a map-side md5 filter (plus the min-id centroid so the set is
       never empty; NO global-sort window) — are the only broadcast;
    2. each centroid is tagged with its nearest seed's super-cell
       (map-side over the centroid table, broadcast seeds; seeds tag to
       themselves so no cell is ever empty and no vector is dropped);
    3. each corpus vector probes its ``n_probe_super`` nearest super-cells
       (map-side, same broadcast seeds);
    4. vectors join their probed cells' centroids ON super_id — a keyed
       join (the session threshold decides broadcast vs shuffle; at
       k ∝ n the centroid side outgrows it) — and the exact round-6 cosine
       argmax picks the cluster with the flat tie-break (sim DESC,
       centroid_id ASC, NULLs last).

    ``IVF_N_SUPER = None`` derives n_super = ⌈√k⌉ from one count of the
    centroid table (a k-row action, nothing corpus-sized) — the balance
    point where per-vector work is O(√k + probe·√k) instead of O(k).
    ``n_probe_super=None`` probes ALL super-cells: every (vector,
    centroid) pair is scored, so assignments are IDENTICAL to the flat
    argmax — including zero-norm vectors (all-NULL sims fall to the
    globally lowest centroid_id) — while the plan is the pure
    shuffle-join path.  Smaller probes trade recall for a
    probe/n_super-fraction of the scoring work, the standard IVF knob —
    and at k ∝ n they are the point: probe-all re-scores all k
    centroids per vector through the per-pair kernel (measured 21 s
    assignment-only at sf1/k=800 vs 5.4 s with ~√k seeds + probe-2,
    SCALE.md §7h), so the production registration is dynamic √k + small
    probe — or the cogrouped BLAS kernel
    (:func:`assign_to_centroids_2level_blas`) when exact probe-all
    assignment is required.

    Skew: a dense region puts many centroids AND many vectors in one
    super-cell; the join keys on super_id, so AQE skew-join splitting
    handles it the same way it handles hot LSH buckets.

    Output contract matches :func:`assign_to_centroids`:
    (vec_id, vd, vn, cluster).
    """
    probed, tagged = _two_level_probe(
        corpus, centroids, "vec_id", "embedding", n_probe_super
    )
    # 4. keyed join on super_id + exact argmax
    csim = F.round(
        F.try_divide(dot_double(F.col("vd"), F.col("ctd")),
                     F.col("vn") * F.col("ctn")), 6
    )
    scored = probed.join(tagged, "super_id").select(
        "vec_id", "vd", "vn", "centroid_id", csim.alias("csim")
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("csim").desc(), F.col("centroid_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "vd", "vn", F.col("centroid_id").alias("cluster"))
    )


def assign_to_centroids_2level_blas(corpus: DataFrame, centroids: DataFrame) -> DataFrame:
    """Two-level assignment with the per-cell argmax computed as an
    Arrow-batched BLAS matmul via COGROUPED ``applyInPandas`` — the fully
    distributed exact k ∝ n kernel: nothing corpus-proportional is
    broadcast OR collected — vectors and centroids meet per super-cell through the
    cogroup's keyed shuffle, and the inner loop is one
    (cell_vectors × d) @ (d × cell_centroids) dgemm per cell instead of
    the per-pair HOF fold.  This is the "route by super-cell first,
    matmul within" composition SCALE.md §7h names: √k routing bounds
    what any one task holds at one cell's centroids, BLAS absorbs the
    n·(k/√k)·d multiply-adds.

    Same contract and semantics as :func:`assign_to_centroids_2level`
    (round-6 cosine, ties → lowest centroid_id, zero-norm → NULL-sim →
    lowest id; output (id, vd, vn, cluster)), proven rowwise in
    test_scale_probes.  Cross-cell resolution after the per-cell argmax
    is a window over ≤ n_probe candidate rows per vector — negligible.

    Known boundary (documented in registry.py): ``np.round`` is ties-to-even on the
    binary value while Spark's ``round`` is HALF_UP on the shortest
    decimal repr, so a cosine landing EXACTLY on a 6th-decimal half-tie
    (a dyadic like 1/128) can round one ulp apart and, if two centroids
    then swap rank, pick a different cluster than the declarative path.
    The driver's data never hits this knife edge; bit-parity would need
    a per-element decimal round-trip in the kernel.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType,
    )

    probed, tagged = _two_level_probe(
        corpus, centroids, "vec_id", "embedding", IVF_BLAS_PROBE_SUPER
    )
    out_schema = StructType(
        [
            StructField("vec_id", probed.schema["vec_id"].dataType),
            StructField("vd", ArrayType(DoubleType())),
            StructField("vn", DoubleType()),
            StructField("cluster", LongType()),
            StructField("csim", DoubleType()),
        ]
    )

    def _cell_argmax(vdf: pd.DataFrame, cdf: pd.DataFrame) -> pd.DataFrame:
        if vdf.empty or cdf.empty:
            return pd.DataFrame(
                {c.name: pd.Series(dtype="object") for c in out_schema}
            )
        cdf = cdf.sort_values("centroid_id")  # first max = lowest id
        C = np.array(cdf["ctd"].tolist(), dtype=np.float64)
        cn = cdf["ctn"].to_numpy(dtype=np.float64)
        cid = cdf["centroid_id"].to_numpy(dtype=np.int64)
        V = np.array(vdf["vd"].tolist(), dtype=np.float64)
        vn = vdf["vn"].to_numpy(dtype=np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = np.round((V @ C.T) / (vn[:, None] * cn[None, :]), 6)
        # NULL-cosine semantics: zero norm either side → -inf, loses to
        # every number; an all--inf row falls to the cell's lowest id —
        # matching the window's DESC NULLS LAST + id tie-break
        sims = np.where(np.isnan(sims), -np.inf, sims)
        best = sims.argmax(axis=1)
        return pd.DataFrame(
            {
                "vec_id": vdf["vec_id"].values,
                "vd": list(V),
                "vn": vn,
                "cluster": cid[best],
                "csim": sims[np.arange(len(best)), best],
            }
        )

    # both sides descend from the same seed frame; rename the centroid
    # side's key so the cogroup's group expressions resolve by distinct
    # NAMES (bare "super_id" on both sides trips the ambiguous-self-join
    # analyzer check — the two attributes share lineage)
    t = tagged.withColumnRenamed("super_id", "__c_super_id")
    per_cell = (
        probed.groupBy("super_id")
        .cogroup(t.groupBy("__c_super_id"))
        .applyInPandas(lambda v, c: _cell_argmax(v, c), out_schema)
    )
    # cross-cell pick: ≤ n_probe candidates per vector.  -inf (NULL-sim)
    # candidates sort LAST under desc in both engines' float order — the
    # only NaN source was mapped to -inf above, so Spark's NaN-greatest
    # ordering quirk never applies.
    w = Window.partitionBy("vec_id").orderBy(
        F.col("csim").desc(), F.col("cluster").asc()
    )
    return (
        per_cell.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "vd", "vn", "cluster")
    )


def ivf_topk(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
             n_probe: int = 1) -> DataFrame:
    """IVF top-3 search: score only the clusters the query's ``n_probe`` nearest
    centroids own (probe-1 = fastest, higher probes trade compute for
    recall).  Vectors are cast/normed once during assignment; the
    cluster join's per-pair kernel is a bare dot product."""
    assigned = assign_to_centroids(corpus, centroids).select(
        F.col("vec_id").alias("neighbor_id"), F.col("vd").alias("cd"),
        F.col("vn").alias("cn"), "cluster",
    )
    q_assigned = assign_to_centroids(queries, centroids, n_probe=n_probe).select(
        F.col("vec_id").alias("query_id"), F.col("vd").alias("qd"),
        F.col("vn").alias("qn"), "cluster",
    )
    scored = (
        assigned.join(q_assigned, "cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", pair_cosine().alias("sim"))
    )
    return _ranked_topk(scored, 3)


def rademacher_planes(n_planes: int = 16) -> list[list[int]]:
    """Deterministic ±1 (Rademacher) hyperplanes from md5 parity of
    ``"j,d"`` — sign-random-projection LSH (Charikar, STOC'02).  Computed
    driver-side once and inlined as literals, so any ANSI engine can replay
    the identical planes."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{j},{d}".encode()).hexdigest()[:8], 16) % 2 else -1
            for d in range(PLANE_DIM)
        ]
        for j in range(n_planes)
    ]


# sign bits packed into one hyperplane-LSH band value
BITS_PER_BAND = 8


def hyperplane_bands(df: DataFrame, planes: list[list[int]]) -> DataFrame:
    """Long-format (id, band_pos, band_val) LSH buckets from sign random
    projections.  Engine-portability trick: vectors are quantized to
    integers (``floor(x·1000)``) BEFORE the dot product, so the sign test
    is exact integer arithmetic — no float summation-order ULP flips at the
    ``> 0`` boundary between engines.  All map-side: one projection per
    row, no shuffle until the bucket join."""
    n_planes = len(planes)
    if n_planes % BITS_PER_BAND != 0:
        raise ValueError(
            f"n_planes={n_planes} must divide into bits_per_band="
            f"{BITS_PER_BAND} bands; a remainder would drop sign bits"
        )
    vq = F.transform(as_double(F.col("embedding")),
                     lambda x: F.floor(x * 1000).cast("bigint"))
    quant = df.select(F.col("vec_id"), vq.alias("vq"))  # materialized: HOF lambdas below read an attribute, not an expr
    # ALL plane dots in one nested-HOF pass over a literal plane matrix —
    # one dots array per row instead of n_planes independent aggregate
    # expressions re-walking vq (measured 1.79s → 1.31s on sf0.1 bands)
    planes_lit = F.array(*[F.array(*[F.lit(s) for s in row]) for row in planes])
    dots = F.transform(
        planes_lit,
        lambda s: F.aggregate(
            F.zip_with(F.col("vq"), s, lambda a, b: a * b),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ),
    )
    d = quant.select(F.col("vec_id"), dots.alias("dots"))
    band_cols = []
    for p in range(n_planes // BITS_PER_BAND):
        val = None
        for j in range(BITS_PER_BAND):
            term = F.shiftleft(
                (F.element_at("dots", p * BITS_PER_BAND + j + 1) > 0).cast("bigint"), j
            )
            val = term if val is None else val + term
        band_cols.append(val.alias(f"band{p}"))
    wide = d.select(F.col("vec_id"), *band_cols)
    n_bands = n_planes // BITS_PER_BAND
    stack_expr = ", ".join(f"{p}, band{p}" for p in range(n_bands))
    return wide.selectExpr(
        "vec_id", f"stack({n_bands}, {stack_expr}) AS (band_pos, band_val)"
    )


def lsh_topk(corpus: DataFrame, queries: DataFrame, planes: list[list[int]]) -> DataFrame:
    """LSH-bucketed ANN: candidates = corpus vectors sharing ≥1 sign-bit
    band with the query, exact-cosine reranked to top-3.  The all-pairs
    scan becomes an equi-join on (band_pos, band_val) — the same
    bucket-join shape as MinHash-LSH, so the 100 TB story is identical
    (shuffle by bucket, AQE splits skewed buckets).  Queries must be a
    subset of ``corpus`` (bands are computed once, corpus-wide)."""
    bands = hyperplane_bands(corpus, planes)
    qids = queries.select(F.col("vec_id").alias("query_id"))
    qb = bands.select(F.col("vec_id").alias("query_id"), "band_pos", "band_val").join(
        # the caller's query batch, estimated from its source
        F.broadcast(qids), "query_id"
    )
    cb = bands.select(F.col("vec_id").alias("neighbor_id"), "band_pos", "band_val")
    cand = (
        cb.join(qb, ["band_pos", "band_val"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    q = prep_vectors(queries, "vec_id", "embedding", "query_id", "qd", "qn")
    c = prep_vectors(corpus, "vec_id", "embedding", "neighbor_id", "cd", "cn")
    scored = (
        cand.join(c, "neighbor_id")
        # the caller's query batch, estimated from its source
        .join(F.broadcast(q), "query_id")
        .select("query_id", "neighbor_id", pair_cosine().alias("sim"))
    )
    return _ranked_topk(scored, 3)


def semantic_dedup_pairs(assigned: DataFrame, max_cell: int | None = None) -> DataFrame:
    """SemDeDup candidate pairs (Abbas et al. 2023): over an assignment
    frame ``(vec_id, vd, vn, cluster)`` — the output of any
    ``assign_to_centroids*`` kernel — emit within-cell pairs with
    cosine >= ``SEMDEDUP_THRESHOLD`` (rounded to 6, id_a < id_b).  The caller
    picks the kernel: the broadcast argmax (:func:`assign_to_centroids`)
    for a fixed small k, the two-level cogrouped BLAS argmax
    (:func:`assign_to_centroids_2level_blas`, probe-all = identical
    assignments) when k scales with the corpus.  The assignment is read
    three times (the cell-size window and both pair-join sides); a
    declarative assignment shares one exchange through ReuseExchange,
    a Pandas-stage one does not, so the BLAS caller stores it first.

    ``max_cell`` is the hot-cell guard, the embedding-space twin of
    ``lsh_candidate_pairs(max_bucket=...)``: a cell holding c vectors
    emits c² pairs, so ONE viral embedding (thousands of exact copies of
    a boilerplate page's vector) turns the self-join quadratic on a
    single cell.  Cells larger than ``max_cell`` are dropped from pair
    generation — run exact dedup first (verbatim copies are its job),
    and treat surviving over-full cells as a signal to RAISE k (the
    SemDeDup production fix is constant target cell size: k grows with
    the corpus).  The cell-size window rides the same cluster shuffle
    the pair join needs.  Default None keeps generation exhaustive (the
    oracle mode).
    """
    # Zero-norm (degenerate) vectors are dropped EXPLICITLY rather than
    # relying on try_divide->NULL failing the sim threshold: DuckDB's
    # list_cosine_similarity yields NaN for a zero vector and DuckDB
    # orders NaN above every number, so NaN >= threshold is TRUE there
    # while NULL >= threshold is filtered here — a cross-engine
    # divergence the moment a zero embedding enters the corpus.  The
    # filter (mirrored in every oracle via list_dot_product(v,v) > 0)
    # pins both engines to the same row set; it also keeps degenerate
    # rows out of the max_cell cell-size counts below.
    asg = assigned.filter(F.col("vn") > 0)
    if max_cell is not None:
        w = Window.partitionBy("cluster")
        asg = (
            asg.withColumn("__csz", F.count("*").over(w))
            .filter(F.col("__csz") <= max_cell)
            .drop("__csz")
        )
    a = asg.select(
        F.col("vec_id").alias("id_a"), F.col("vd").alias("va"),
        F.col("vn").alias("na"), "cluster",
    )
    b = asg.select(
        F.col("vec_id").alias("id_b"), F.col("vd").alias("vb"),
        F.col("vn").alias("nb"), "cluster",
    )
    sim = F.round(
        F.try_divide(dot_double(F.col("va"), F.col("vb")),
                     F.col("na") * F.col("nb")), 6
    )
    return (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= SEMDEDUP_THRESHOLD)
    )


def semantic_dedup(assigned: DataFrame, max_cell: int | None = None) -> DataFrame:
    """Keep-lowest-id SemDeDup collapse over an assignment frame
    ``(vec_id, vd, vn, cluster)``: each duplicate reports its
    lowest-id SIMILAR NEIGHBOR (dropped_id, kept_by, cos_sim) — one keyed
    agg riding the pair shuffle.

    ``kept_by`` is NOT guaranteed to survive: under a non-transitive
    similarity chain (sim(1,2) and sim(2,3) above threshold, sim(1,3)
    below), vec 2 is dropped toward 1 while 3 points at 2.  The
    survivor set (ids never appearing as dropped_id) is exactly right;
    consumers REDIRECTING references must follow kept_by chains to a
    survivor — or run connected_components over the pairs (the
    x_dedup_cluster path) when a canonical representative per clique is
    required."""
    pairs = semantic_dedup_pairs(assigned, max_cell)
    return pairs.groupBy(F.col("id_b").alias("dropped_id")).agg(
        F.min("id_a").cast("long").alias("kept_by"),
        F.expr("min_by(sim, id_a)").alias("cos_sim"),
    )
