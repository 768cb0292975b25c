"""Product quantization (PQ) for 100 TB vector stores — m subspace
codebooks + asymmetric-distance search (Jégou, Douze & Schmid,
"Product quantization for nearest neighbor search", TPAMI'11).

Where scalar quantization (operators/quantization.py) snaps each
DIMENSION to an affine grid (4× compression at 8 bits/dim), PQ splits
each vector into ``m`` contiguous sub-vectors and snaps each SUB-VECTOR
to its nearest entry of a per-subspace codebook learned by k-means:
storage is ``m·log2(ksub)`` bits per vector (64-dim float32 at m=8,
ksub=16 → 8 four-bit codes = 4 bytes, 64× compression; the classic
ksub=256 setting costs 8 bytes, 32×) plus an m × ksub × (dim/m)
codeword table measured in KBs.  Search keeps queries full-precision and scores against the
reconstruction (decode = concatenate the coded codewords) — the ADC
regime; the classic LUT acceleration (per query, precompute the m × ksub
partial-distance table, then score each corpus vector with m lookups)
is a kernel-level rewrite of the SAME arithmetic and changes no
semantics, so the declarative form below IS the contract the LUT kernel
would have to match.

Scale shape: codebook training is ONE corpus shuffle per Lloyd round
(the per-(subspace, code, position) mean aggregation — map-side
combinable, output m × ksub × dim/m rows); seed assignment and final
encoding are map-side.  Training, reporting and every registered key
encode through ``pq_encode_blas`` — the production kernel (Spark HOFs
are CodegenFallback/interpreted; the BLAS kernel does the arithmetic in
m matmul/argmin passes per Arrow batch, the sanctioned python-eval
contract shared with the IVF BLAS argmax).  ``pq_encode`` is the
declarative HOF form against the 1-row broadcast codebook nest: the
engine-independent semantic contract the oracle replays, kept as the
reference the BLAS kernel is pinned rowwise-equal to.  The codebook is
m·ksub·(dim/m) doubles — CONSTANT in corpus size, so collecting or
broadcasting it is control-plane at any scale.

Determinism contract (registry.py): distances are round(·, 6) float64
with ties → lowest code_id (array_min over (d, id) structs / numpy
first-argmin over id-sorted codewords); codeword means are round(avg,
6); element order is list order — the DuckDB oracle replays every stage
bit-identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import as_double


def _sqdist(sub: Column, cw: Column) -> Column:
    """round(squared L2, 6) between two equal-length double arrays —
    left-to-right float64 fold, the engine-independent form."""
    diffs = F.zip_with(sub, cw, lambda a, b: (a - b) * (a - b))
    return F.round(F.aggregate(diffs, F.lit(0.0), lambda acc, e: acc + e), 6)


def _nest_codebooks(codebooks: DataFrame) -> DataFrame:
    """(subspace, code_id, codeword) rows → ONE row holding
    ``cbs: array<struct<subspace, cs: array<struct<code_id, codeword>>>>``
    with both levels ascending — the broadcastable form the map-side HOFs
    fold over.  array_sort on structs orders by the first field, so
    subspace / code_id order is exact, not collation luck."""
    return (
        codebooks.groupBy("subspace")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("code_id", "codeword"))
            ).alias("cs")
        )
        .agg(
            F.array_sort(F.collect_list(F.struct("subspace", "cs"))).alias("cbs")
        )
    )


def _encode_col(x: Column, cbs: Column, m: int, dsub: int) -> Column:
    """``array<int>`` of per-subspace nearest-code ids for double vector
    ``x`` against the nested codebook column: per subspace, score every
    codeword ONCE into ``struct(d, id)`` and take ``array_min`` — struct
    ordering is lexicographic, so the minimum is lowest round-6 distance
    with ties → LOWEST code_id, matching the oracle's ORDER BY dist ASC,
    code_id ASC.  (A fold carrying (best_id, best_dist) computes the
    same thing but evaluates the distance twice per codeword inside a
    when-chain — measured 39 ms/row at sf0.1, interpreted-eval
    territory; this form is one distance per codeword and a single
    comparison reduce.)"""

    def best_for(entry):  # entry: struct<subspace, cs>
        sub = F.slice(x, entry["subspace"] * dsub + 1, dsub)
        scored = F.transform(
            entry["cs"],
            lambda c: F.struct(
                _sqdist(sub, c["codeword"]).alias("d"),
                c["code_id"].cast("int").alias("id"),
            ),
        )
        return F.array_min(scored)["id"]

    return F.transform(cbs, best_for)


def _decode_col(codes: Column, cbs: Column, m: int) -> Column:
    """Reconstruction: concatenate each coded subspace's codeword —
    ``flatten`` of per-subspace lookups (filter-by-code_id, first hit)."""
    return F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: F.element_at(
                F.filter(
                    F.element_at(cbs, s + 1)["cs"],
                    lambda c: c["code_id"] == F.element_at(codes, s + 1),
                ),
                1,
            )["codeword"],
        )
    )


def pq_encode_blas(df: DataFrame, codebooks: DataFrame, dim: int, m: int = 8,
                   vec_col: str = "embedding",
                   with_recon: bool = True) -> DataFrame:
    """Vectorized twin of :func:`pq_encode` — identical output, computed
    as m small matmul/argmin passes per Arrow batch instead of nested
    interpreted HOFs (Spark higher-order functions are CodegenFallback:
    the declarative encode measured ~10 ms/row at dim=64/m=8/ksub=16,
    ~50 s per corpus pass at sf0.1; this kernel does the same arithmetic
    in microseconds/row).  The sanctioned Arrow-batched python-eval
    contract, same footing as the IVF BLAS argmax (similarity.py): the
    collected codebook is m·ksub·(dim/m) doubles — CONSTANT in corpus
    size (1 KB-scale), strictly control-plane.

    Determinism contract matches the declarative form: distances are
    np.round(Σ(a-b)², 6) with the Σ accumulated EXPLICITLY left-to-right
    over the dim/m positions (a Python loop of vectorized adds — numpy's
    .sum() is NOT usable here: it switches to 8-accumulator/pairwise
    tree summation, which differs bitwise from the fold in ~41% of
    8-element sums; code-review r7 finding); codewords are id-sorted so
    argmin's first-minimum rule IS the ties → lowest code_id rule.
    Residual knife-edge, same class as registry.py's documented round()
    boundary: np.round is ties-to-even on the binary value while Spark
    rounds the shortest-decimal repr HALF_UP — a distance landing
    EXACTLY on a 0.5e-6 boundary could round differently (measure-zero
    on continuous data; the rowwise equivalence pytest and both-SF
    oracle runs gate it on real corpora).

    Degenerate rows (NULL embedding, or length != dim): NULL codes and
    NULL recon, matching the declarative twin's NULL propagation instead
    of crashing the whole batch inside np.array.

    ``with_recon=False`` skips reconstruction assembly — the Lloyd
    training loop only consumes codes, and the gather + dim-wide double
    column through Arrow is corpus-sized waste there.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType, DoubleType, IntegerType, StructField, StructType,
    )

    dsub = dim // m
    per_sub: dict[int, list] = {}
    for r in codebooks.collect():  # m*ksub rows — control-plane size
        per_sub.setdefault(int(r["subspace"]), []).append(
            (int(r["code_id"]), list(r["codeword"]))
        )
    mats = []
    for s in range(m):
        entries = sorted(per_sub.get(s, []))
        ids = np.array([e[0] for e in entries], dtype=np.int32)
        C = np.array([e[1] for e in entries], dtype=np.float64)
        mats.append((ids, C))

    out_fields = [*df.schema.fields,
                  StructField("pq_codes", ArrayType(IntegerType()))]
    if with_recon:
        out_fields.append(StructField("pq_recon", ArrayType(DoubleType())))
    out_schema = StructType(out_fields)
    cols = df.columns

    def _enc(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            vals = pdf[vec_col].tolist()
            ok = np.array(
                [v is not None and len(v) == dim for v in vals], dtype=bool
            )
            out_codes: list = [None] * len(vals)
            out_recon: list = [None] * len(vals)
            if ok.any():
                V = np.array(
                    [v for v, k in zip(vals, ok) if k], dtype=np.float64
                )
                codes = np.empty((len(V), m), dtype=np.int32)
                recon = np.empty_like(V) if with_recon else None
                for s in range(m):
                    ids, C = mats[s]
                    sub = V[:, s * dsub:(s + 1) * dsub]
                    # explicit left-to-right accumulation == the _sqdist /
                    # list_sum fold (np .sum would tree-sum, see docstring)
                    d = np.zeros((len(V), len(ids)))
                    for j in range(dsub):
                        diff = sub[:, j, None] - C[None, :, j]
                        d += diff * diff
                    d = np.round(d, 6)
                    best = d.argmin(axis=1)  # first min = lowest code_id
                    codes[:, s] = ids[best]
                    if with_recon:
                        recon[:, s * dsub:(s + 1) * dsub] = C[best]
                for i, pos in enumerate(np.flatnonzero(ok)):
                    out_codes[pos] = codes[i]
                    if with_recon:
                        out_recon[pos] = recon[i]
            out = {c: pdf[c] for c in cols}
            out["pq_codes"] = out_codes
            if with_recon:
                out["pq_recon"] = out_recon
            yield pd.DataFrame(out)

    return df.mapInPandas(_enc, out_schema)


def pq_train(df: DataFrame, dim: int, m: int = 8, ksub: int = 16) -> DataFrame:
    """Learn per-subspace codebooks: deterministic seeding (the ``ksub``
    lowest-id vectors' sub-vectors, code_id = their id — the
    seed_centroids convention) + one Lloyd round of squared-L2
    assignment and per-position means (round 6).  Returns (subspace,
    code_id, codeword) rows — m × ksub × (dim/m) doubles, KBs.

    The round costs one corpus shuffle (the mean agg; assignment runs
    map-side through :func:`pq_encode_blas`).  Codes that lose every
    member drop out, standard Lloyd — code_ids are identities, not
    positions, so a sparse codebook encodes/decodes unambiguously.
    """
    assert dim % m == 0, "dim must split evenly into m subspaces"
    dsub = dim // m
    subspaces = list(range(m))
    # materialize the double cast ONCE: the seed slices and the
    # per-subspace means below all read it
    base = df.select(F.col("vec_id"), as_double(F.col("embedding")).alias("__dv"))
    cb = base.filter(F.col("vec_id") < ksub).select(
        *[
            F.struct(
                F.lit(s).alias("subspace"),
                F.col("vec_id").cast("int").alias("code_id"),
                F.slice("__dv", s * dsub + 1, dsub).alias("codeword"),
            ).alias(f"__s{s}")
            for s in subspaces
        ]
    ).select(F.explode(F.array(*[f"__s{s}" for s in subspaces])).alias("e")).select(
        "e.subspace", "e.code_id", "e.codeword"
    )
    coded = pq_encode_blas(
        base, cb, dim, m, "__dv", with_recon=False
    ).select(
        F.col("vec_id"), F.col("pq_codes").alias("__codes"), F.col("__dv")
    )
    # one shuffle: (subspace, code, position-within-subspace) means
    sub_rows = coded.select(
        F.col("vec_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.struct(
                    F.element_at(F.col("__codes"), s + 1).alias("code"),
                    F.slice(F.col("__dv"), s * dsub + 1, dsub).alias("sv"),
                ),
            )
        ).alias("subspace", "e"),
    )
    el = sub_rows.select(
        "subspace", F.col("e.code").alias("code_id"),
        F.posexplode("e.sv").alias("pos", "x"),
    )
    cb = (
        el.groupBy("subspace", "code_id", "pos")
        .agg(F.round(F.avg("x"), 6).alias("mval"))
        .groupBy("subspace", "code_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mval"))),
                lambda s: s["mval"],
            ).alias("codeword")
        )
    )
    return cb


def pq_encode(df: DataFrame, codebooks: DataFrame, dim: int, m: int = 8) -> DataFrame:
    """Attach ``pq_codes`` (array<int>, the m-byte stored form) and
    ``pq_recon`` (array<double>, the decoded view ADC search scores
    against) — map-side only, 1-row codebook nest broadcast.  The
    declarative reference that :func:`pq_encode_blas` is pinned
    rowwise-equal to; no key runs it.

    Three separate projections on purpose: the double cast, the code
    array, and the reconstruction are each referenced multiple times by
    the NEXT expression's lambdas, and an inline (non-attribute)
    expression inside a HOF lambda is re-evaluated per element — decode
    referencing an inline encode expression re-ran the full m·ksub
    scoring m times per row (measured: the 168 s sf0.1 wall dropped to
    seconds when materialized)."""
    dsub = dim // m
    nest = _nest_codebooks(codebooks)
    prep = df.select(
        *df.columns, as_double(F.col("embedding")).alias("__pqdv")
    ).crossJoin(nest)
    coded = prep.select(
        *df.columns,
        "cbs",
        _encode_col(F.col("__pqdv"), F.col("cbs"), m, dsub).alias("pq_codes"),
    )
    return coded.select(
        *df.columns,
        "pq_codes",
        _decode_col(F.col("pq_codes"), F.col("cbs"), m).alias("pq_recon"),
    )


def pq_report(df: DataFrame, codebooks: DataFrame, dim: int, m: int = 8) -> DataFrame:
    """Per-vector PQ audit: the code string (``c0-c1-…``, the stored
    bytes made hash-comparable), reconstruction MSE, worst absolute
    component error, and cosine fidelity — the commit gate before
    switching a store to the 32×-smaller coded layout (pair with
    x_sim_pq's search-recall measurement, the quantization.py pattern).

    Zero-norm vectors: try_divide → NULL fidelity; oracles CASE the same
    rows to NULL (the x_embed_quantize cross-engine alignment).

    The double cast and the component-error array are materialized in
    their own projections before the aggregates that reference them
    repeatedly (same HOF re-evaluation rationale as pq_encode)."""
    dfd = df.select(
        F.col("vec_id"), as_double(F.col("embedding")).alias("__dv")
    )
    q = pq_encode_blas(dfd, codebooks, dim, m, "__dv").select(
        F.col("vec_id"),
        F.col("__dv"),
        F.col("pq_codes"),
        F.col("pq_recon"),
        F.zip_with(
            F.col("__dv"), F.col("pq_recon"), lambda a, b: a - b
        ).alias("__err"),
    )
    sse = F.aggregate(
        F.transform("__err", lambda e: e * e), F.lit(0.0), lambda acc, e: acc + e
    )
    dot = F.aggregate(
        F.zip_with("__dv", "pq_recon", lambda a, b: a * b),
        F.lit(0.0), lambda acc, p: acc + p,
    )
    nrm = lambda v: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(v, lambda e: e * e), F.lit(0.0), lambda acc, e: acc + e
    ))
    return q.select(
        F.col("vec_id"),
        F.array_join(F.col("pq_codes"), "-").alias("codes"),
        F.round(sse / F.size("__dv"), 9).alias("mse"),
        F.round(F.array_max(F.transform("__err", lambda e: F.abs(e))), 6).alias(
            "max_abs_err"
        ),
        F.round(F.try_divide(dot, nrm("__dv") * nrm("pq_recon")), 6).alias(
            "cos_fidelity"
        ),
    )
