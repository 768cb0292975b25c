"""Property-based spot checks (SURVEY.md §5.2.4) — hypothesis generates the
inputs, one Spark job evaluates the whole example batch, and a pure-Python
reference model (mirroring hello.py semantics) provides the expected values.

Each @given example batches a LIST of inputs into a single DataFrame so a
test run costs a handful of Spark jobs, not one per example.
"""

from __future__ import annotations

import base64
import datetime as dt

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.functions.base64_fns import (
    is_base64,
    unbase64_str,
)
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.functions.datetime_fns import (
    event_partition_cols,
)
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.functions.nmea import (
    signed_latitude,
    signed_longitude,
    signed_longitude_reference_compat,
)

_SETTINGS = dict(max_examples=8, deadline=None)


def _py_is_base64(s: str) -> bool:
    """The reference's predicate, verbatim semantics (hello.py:13-17)."""
    try:
        clean = s.replace("\r", "").replace("\n", "")
        return base64.b64encode(base64.b64decode(clean)).decode() == clean
    except Exception:
        return False


@settings(**_SETTINGS)
@given(st.lists(st.binary(min_size=0, max_size=200), min_size=1, max_size=40))
def test_base64_roundtrip_decodes_to_original(spark, payloads):
    """A3: unbase64_str(b64encode(x)) == x for arbitrary UTF-8-safe bytes."""
    texts = [p.decode("latin-1") for p in payloads]  # arbitrary 1-byte chars
    rows = [(base64.b64encode(t.encode("utf-8")).decode(),) for t in texts]
    df = spark.createDataFrame(rows, schema=StructType([StructField("enc", StringType())]))
    got = [r["dec"] for r in df.select(unbase64_str("enc").alias("dec")).collect()]
    assert got == texts


@settings(**_SETTINGS)
@given(
    st.lists(
        st.one_of(
            st.text(max_size=60),
            st.binary(max_size=60).map(lambda b: base64.b64encode(b).decode()),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_is_base64_matches_python_reference(spark, candidates):
    """A4: the Spark predicate agrees with the reference's Python
    round-trip test on arbitrary strings (valid and garbage alike)."""
    rows = [(c,) for c in candidates]
    df = spark.createDataFrame(rows, schema=StructType([StructField("s", StringType())]))
    got = [r["ok"] for r in df.select(is_base64("s").alias("ok")).collect()]
    assert got == [_py_is_base64(c) for c in candidates]


_num = st.floats(min_value=0.0, max_value=180.0, allow_nan=False).map(
    lambda v: f"{v:.6f}"
)
_lat_hemi = st.sampled_from(["N", "S", "North", "South", "", "x"])
_lon_hemi = st.sampled_from(["E", "W", "East", "West", "", "x"])


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(_num, _lat_hemi, _num, _lon_hemi), min_size=1, max_size=40
    )
)
def test_hemisphere_sign_fix_total(spark, quads):
    """A10: sign fix is total over arbitrary hemisphere tokens — negate on
    leading 'S' (lat) / 'W' (lon), pass through otherwise; engine semantics
    negate longitude INDEPENDENTLY of latitude (SURVEY.md §7.5.1)."""
    rows = [
        (["$PIMD8", "a", "b", "c", "d", la, lah, lo, loh],)
        for la, lah, lo, loh in quads
    ]
    df = spark.createDataFrame(rows, ["toks"])
    got = df.select(
        signed_latitude(F.col("toks")).alias("lat"),
        signed_longitude(F.col("toks")).alias("lon"),
        signed_longitude_reference_compat(F.col("toks")).alias("lon_compat"),
    ).collect()
    for (la, lah, lo, loh), r in zip(quads, got):
        exp_lat = -float(la) if lah.startswith("S") else float(la)
        exp_lon = -float(lo) if loh.startswith("W") else float(lo)
        # reference elif bug: W-longitude NOT negated when lat was south
        exp_lon_compat = float(lo) if lah.startswith("S") else exp_lon
        assert r["lat"] == exp_lat, (la, lah)
        assert r["lon"] == exp_lon, (lo, loh)
        assert r["lon_compat"] == exp_lon_compat, (la, lah, lo, loh)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.integers(min_value=0, max_value=4102444800),  # 1970..2100
        min_size=1,
        max_size=40,
    )
)
def test_event_partition_matches_strftime(spark, epochs):
    """A17: derived year/month/day strings equal UTC strftime %Y/%m/%d of
    the epoch (the Firehose JQ partitioning expression)."""
    df = spark.createDataFrame([(e,) for e in epochs], ["date_time"])
    parts = event_partition_cols("date_time")
    got = df.select(
        parts["year"].alias("y"), parts["month"].alias("m"), parts["day"].alias("d")
    ).collect()
    for e, r in zip(epochs, got):
        expect = dt.datetime.fromtimestamp(e, dt.timezone.utc)
        assert (r["y"], r["m"], r["d"]) == (
            expect.strftime("%Y"),
            expect.strftime("%m"),
            expect.strftime("%d"),
        ), e


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=0,
        max_size=40,
    )
)
def test_connected_components_matches_union_find(spark, raw_edges):
    """Min-label propagation agrees with a pure-Python union-find on
    arbitrary random graphs (self-loops and duplicate edges included)."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.dedup import (
        connected_components,
    )

    nodes = sorted({n for e in raw_edges for n in e} | {0, 1})
    edges = [(a, b) for a, b in raw_edges if a != b]

    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node id in the component
    comp: dict[int, list[int]] = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    expected = {n: min(members) for members in comp.values() for n in members}

    e_df = spark.createDataFrame(edges or [(0, 0)], "id_a bigint, id_b bigint")
    if not edges:
        e_df = e_df.filter(F.col("id_a") != F.col("id_a"))
    n_df = spark.createDataFrame([(n,) for n in nodes], "doc_id bigint")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(e_df, n_df).collect()
    }
    assert got == expected


@settings(**_SETTINGS)
@given(
    st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=12),
        min_size=2,
        max_size=12,
    ),
    st.integers(1, 6),
)
def test_containment_doc_floor_equals_pair_floor(spark, token_lists, floor):
    """containment_pairs(min_size=m) (docs dropped BEFORE candidate
    generation) must equal filtering the exhaustive output to pairs whose
    smaller shingle set is >= m — the doc-floor == pair-floor equivalence
    the operator docstring claims, on arbitrary random corpora."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.dedup import (
        containment_pairs,
        shingle_set,
    )

    rows = [(i, " ".join(ts)) for i, ts in enumerate(token_lists)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    floored = sorted(
        map(tuple, containment_pairs(docs, threshold=0.5, min_size=floor).collect())
    )
    sz = {
        r["doc_id"]: r["n"]
        for r in shingle_set(docs, k=3)
        .groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    exhaustive = containment_pairs(docs, threshold=0.5).collect()
    expected = sorted(
        tuple(r) for r in exhaustive
        if min(sz[r["contained_id"]], sz[r["container_id"]]) >= floor
    )
    assert floored == expected


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 30)),  # (basket, item)
        min_size=1, max_size=60,
    ),
    st.integers(1, 5),
)
def test_copurchase_max_basket_matches_python_reference(spark, pairs, cap):
    """cap_group_width under copurchase_pairs == a Python reference that
    drops baskets with more than ``cap`` DISTINCT items and enumerates
    the remaining distinct u<v pairs."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.graph import (
        copurchase_pairs,
    )

    li = spark.createDataFrame(pairs, "l_orderkey int, l_partkey int")
    got = {
        (r["u"], r["v"])
        for r in copurchase_pairs(li, max_basket=cap).collect()
    }
    baskets: dict[int, set[int]] = {}
    for b, i in pairs:
        baskets.setdefault(b, set()).add(i)
    expected = {
        (a, b)
        for items in baskets.values()
        if len(items) <= cap
        for a in items
        for b in items
        if a < b
    }
    assert got == expected


# ---------------------------------------------------------------------------
# Tier J property checks: k-core vs a pure-Python peel, prefix-join
# losslessness on generated corpora
# ---------------------------------------------------------------------------


def _py_kcore(edges: list[tuple[int, int]], k: int) -> dict[int, int]:
    """Reference model: peel to fixpoint in plain Python, return
    {node: in-core degree} of the true k-core."""
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        if u == v:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    changed = True
    while changed:
        drop = [n for n, nbrs in adj.items() if len(nbrs) < k]
        changed = bool(drop)
        for n in drop:
            for m in adj[n]:
                adj[m].discard(n)
            del adj[n]
    return {n: len(nbrs) for n, nbrs in adj.items()}


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        min_size=1,
        max_size=60,
    ),
    st.integers(2, 4),
)
def test_kcore_matches_python_peel_on_random_graphs(spark, raw_edges, k):
    """operators.graph.kcore at a generous round budget equals the true
    fixpoint k-core computed by a pure-Python peel, on arbitrary small
    graphs (self-loops discarded, duplicates collapsed — the same
    canonicalization copurchase_pairs applies)."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.graph import kcore

    edges = sorted({(min(u, v), max(u, v)) for u, v in raw_edges if u != v})
    expect = _py_kcore(edges, k)
    if not edges:
        return
    df = spark.createDataFrame(edges, ["u", "v"])
    # 15 nodes peel to fixpoint in <= 15 rounds, budget generously
    got = {r.node: r.core_deg for r in kcore(df, k=k, rounds=16).collect()}
    assert got == expect


@settings(max_examples=4, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        min_size=1,
        max_size=60,
    ),
    st.integers(2, 4),
)
def test_kcore_without_broadcast_matches_python_peel(spark, raw_edges, k):
    """With broadcasts disabled (threshold -1) kcore probes the loser
    set through a plain join and still equals the pure-Python peel."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.graph import kcore

    edges = sorted({(min(u, v), max(u, v)) for u, v in raw_edges if u != v})
    if not edges:
        return
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        df = spark.createDataFrame(edges, ["u", "v"])
        got = {r.node: r.core_deg for r in kcore(df, k=k, rounds=16).collect()}
    finally:
        spark.conf.set(key, prev)
    assert got == _py_kcore(edges, k)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("abcde"), min_size=3, max_size=12).map(
            lambda ws: " ".join(ws)
        ),
        min_size=2,
        max_size=12,
    )
)
def test_prefix_join_lossless_on_generated_corpora(spark, texts):
    """jaccard_prefix_pairs == ngram_jaccard_pairs on arbitrary tiny-
    vocabulary corpora — exactly the saturated-df regime where the
    prefix ordering has the least discrimination, i.e. where a prefix-
    length off-by-one would surface as a lost pair."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.dedup import (
        jaccard_prefix_pairs,
        ngram_jaccard_pairs,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).localCheckpoint()
    via_prefix = sorted(
        map(tuple, jaccard_prefix_pairs(docs).collect())
    )
    via_index = sorted(
        map(tuple, ngram_jaccard_pairs(docs, threshold=0.6).collect())
    )
    assert via_prefix == via_index


@settings(max_examples=6, deadline=None)
@given(
    st.dictionaries(
        st.text(alphabet="xyz123", min_size=1, max_size=6),
        st.integers(1, 50),
        min_size=1,
        max_size=30,
    )
)
def test_cms_never_underestimates_under_forced_collisions(spark, counts):
    """The defining CMS invariants at width=8 (heavy collisions by
    construction): every point estimate >= its true count, and the
    self-inner-product estimate >= the true Sigma c^2."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.sketches import (
        cms_estimate,
        cms_from_counts,
        cms_inner_product,
    )

    cnt = spark.createDataFrame(list(counts.items()), ["k", "n"])
    grid = cms_from_counts(cnt, "k", "n", width=8)
    est = cms_estimate(cnt, grid, "k", width=8).collect()
    assert all(r.est >= r.n for r in est)
    dot = cms_inner_product(grid, grid).collect()[0].est
    assert dot >= sum(n * n for n in counts.values())


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("abcde"), min_size=3, max_size=12).map(
            lambda ws: " ".join(ws)
        ),
        min_size=2,
        max_size=12,
    )
)
def test_snm_blocking_output_is_subset_of_exhaustive_join(spark, texts):
    """Sorted-neighborhood candidates verify to a SUBSET of the
    exhaustive join's pairs on arbitrary corpora (verification is the
    same exact Jaccard, so SNM can only lose pairs, never invent)."""
    from pyspark.sql.window import Window

    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.functions.text import tokens
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.dedup import (
        jaccard_verify,
        ngram_jaccard_pairs,
        shingle_set,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).localCheckpoint()
    ranked = docs.select(
        "doc_id",
        F.array_join(F.slice(tokens("text"), 1, 3), " ").alias("blk"),
        F.lower(F.col("text")).alias("sort_key"),
    ).withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("blk").orderBy("sort_key", "doc_id")),
    )
    a = ranked.select(F.col("doc_id").alias("id_a"), "blk", F.col("rn").alias("ra"))
    b = ranked.select(F.col("doc_id").alias("id_b"), "blk", F.col("rn").alias("rb"))
    cand = (
        a.join(b, "blk")
        .filter((F.col("rb") - F.col("ra") >= 1) & (F.col("rb") - F.col("ra") <= 2))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
    )
    got = set(map(tuple, jaccard_verify(shingle_set(docs), cand, 0.6)
                  .select("id_a", "id_b").collect()))
    truth = set(map(tuple, ngram_jaccard_pairs(docs, threshold=0.6)
                    .select("id_a", "id_b").collect()))
    assert got <= truth


# ---------------------------------------------------------------------------
# Tier K properties: skyline == naive dominance; EWMA fragment == pure
# Python (bit-exact); Adamic–Adar == pure-Python reference on random graphs
# ---------------------------------------------------------------------------


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=60,
    )
)
def test_skyline_sweep_equals_naive_dominance(spark, pts):
    """The sort-sweep skyline equals the dominance definition applied
    literally, on arbitrary integer clouds (duplicates included)."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.curation import (
        skyline_2d,
    )

    rows = [(i, d1, d2) for i, (d1, d2) in enumerate(pts)]
    df = spark.createDataFrame(rows, ["id", "d1", "d2"])
    got = sorted(r.id for r in skyline_2d(df, "d1", "d2").collect())
    expected = sorted(
        i
        for i, (a1, a2) in enumerate(pts)
        if not any(
            b1 >= a1 and b2 >= a2 and (b1 > a1 or b2 > a2)
            for j, (b1, b2) in enumerate(pts)
            if j != i
        )
    )
    assert got == expected


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6,
            allow_nan=False, allow_infinity=False,
        ),
        min_size=2,
        max_size=30,
    )
)
def test_ewma_fragment_matches_python_bit_exact(spark, values):
    """The registered EWMA fragment over lag columns equals a pure-Python
    accumulation in the same order — EXACT float equality, the same
    property the streaming twin's equivalence test relies on."""
    from pyspark.sql.window import Window
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans.tierk import (
        _EWMA_BETA,
        _EWMA_DEN,
        _EWMA_K,
        _EWMA_NUM,
    )

    rows = [(1, i, float(v)) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, ["user_id", "seq", "value"])
    w = Window.partitionBy("user_id").orderBy("seq")
    lagged = df.select(
        "seq",
        "value",
        *[
            F.lag("value", j).over(w).alias(f"__lag{j}")
            for j in range(1, _EWMA_K + 1)
        ],
    ).filter(F.col("__lag1").isNotNull())
    got = {
        r.seq: r.resid
        for r in lagged.select(
            "seq",
            F.expr(f"value - ({_EWMA_NUM}) / ({_EWMA_DEN})").alias("resid"),
        ).collect()
    }
    for i in range(1, len(values)):
        hist = values[max(0, i - _EWMA_K):i][::-1]  # most recent first
        num = 0.0
        den = 0.0
        for j, h in enumerate(hist):
            wj = _EWMA_BETA ** j
            num = num + h * wj
            den = den + wj
        assert got[i] == values[i] - num / den  # bit-exact


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=40,
    )
)
def test_adamic_adar_matches_python_reference(spark, raw_edges):
    """adamic_adar == a literal pure-Python implementation of the
    definition on random small graphs."""
    import math
    from collections import defaultdict
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.graph import (
        adamic_adar,
    )

    edges = sorted({(min(u, v), max(u, v)) for u, v in raw_edges})
    df = spark.createDataFrame(edges, ["u", "v"])
    got = {
        (r.u, r.v): (r.aa, r.n_common) for r in adamic_adar(df).collect()
    }

    nbrs = defaultdict(set)
    for u, v in edges:
        nbrs[u].add(v)
        nbrs[v].add(u)
    expected = {}
    nodes = sorted(nbrs)
    eset = set(edges)
    for i, u in enumerate(nodes):
        for v in nodes[i + 1:]:
            if (u, v) in eset:
                continue
            common = nbrs[u] & nbrs[v]
            if common:
                aa = sum(1.0 / math.log(len(nbrs[w])) for w in common)
                expected[(u, v)] = (aa, len(common))
    assert set(got) == set(expected)
    for k in got:
        assert got[k][1] == expected[k][1]
        assert abs(got[k][0] - expected[k][0]) < 1e-9


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["red", "blue", "green", "ash", "oak"]),
            min_size=1,
            max_size=6,
        ).map(lambda ws: " ".join(ws)),
        min_size=2,
        max_size=14,
    )
)
def test_simhash_collapsed_equals_direct_on_generated_corpora(spark, texts):
    """simhash_pairs_collapsed == simhash_pairs (rows, orientation,
    hamming, dtypes) on arbitrary tiny-vocabulary corpora — the 5-word
    vocab makes identical unigram SETS (and hence identical SimHash
    signatures, the collapse trigger) common, repeated texts form
    multi-member signature groups exercising the within/across pair
    recovery, and short docs keep signatures close enough for the band
    join to fire across distinct signatures too.  The clique-safe
    derivation must be output-invisible on EVERY corpus, not just the
    directed clique fixture in test_edge_inputs."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.dedup import (
        simhash_pairs,
        simhash_pairs_collapsed,
        simhash_signatures,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sigs = simhash_signatures(docs).localCheckpoint()
    direct = sorted(map(tuple, simhash_pairs(sigs).collect()))
    collapsed = sorted(map(tuple, simhash_pairs_collapsed(sigs).collect()))
    assert collapsed == direct
