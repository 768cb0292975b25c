"""Graph rank propagation: fixed-iteration PageRank as an unrolled
declarative plan (Page et al. '99; the crawl-graph importance signal
corpus-curation pipelines weight documents by).

Complements the connected-components family in operators/dedup.py: CC
answers "which docs are the same", PageRank answers "which docs matter".

Scale: each iteration is one shuffle — the contribution sum keyed on the
destination node; the edge list joins the current ranks on the source key
and the degree table rides the same src partitioning.  The iteration count
is FIXED and unrolled into the plan (no driver loop, no collect); for
web-scale graphs with many rounds you would ``stored()`` the ranks every
few iterations to cut lineage, like connected_components' per-round cut
(storage.py; README "Storage policy").  Dangling-mass redistribution is
deliberately omitted (isolated nodes keep the teleport term only) so the
recurrence is a pure linear map both engines replay identically.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..storage import stored

# co-purchase affinity support threshold: copurchase_affinity and the
# x_link_adamic oracle agree on it
AFFINITY_MIN_SUPPORT = 2

# damped rounds of pagerank: the PageRank keys and their unrolled oracle
# agree on it
PAGERANK_ROUNDS = 3


def copurchase_pairs(li: DataFrame, max_basket: int | None = None,
                     directed: bool = False) -> DataFrame:
    """Distinct item co-occurrence pairs from a (basket, item) relation —
    the edge derivation shared by the co-purchase graph keys
    (q_triangle_count / x_pagerank / x_lpa): items sharing a basket are
    linked.  Undirected mode emits (u < v) once; ``directed=True`` emits
    both orientations as (src, dst) (the PageRank input shape).

    ``max_basket`` is the 100 TB hub guard, the basket-width twin of
    ``lsh_candidate_pairs(max_bucket=...)`` / ``ngram_jaccard_pairs
    (max_df=...)``: a basket holding w items emits w² pairs, so ONE
    power-law hub key (a catalog-wide "order", a crawl page linking half
    the web) turns pair generation quadratic on a single key.  Baskets
    wider than ``max_basket`` are dropped from pair generation, bounding
    the worst key at max_basket² pairs; treat over-wide baskets as
    list-page/boilerplate signal, the same judgement call as the dedup
    guards.  Default None keeps derivation exhaustive (the oracle
    mode — TPC-H baskets are bounded at 7 lineitems, so the registered
    exhaustive keys are safe on the driver data; the guarded twins are
    the production registration).

    Shape (r15, guide §2.3/§2.4 — aggregate before you shuffle, remove
    shuffles outright): baskets are WIDTH-BOUNDED (7 on TPC-H; ``max_basket``
    in production), so pair enumeration is done MAP-SIDE from per-basket
    sorted item arrays — one ``collect_set`` aggregation (partial
    aggregation dedups (key, item) repeats before the exchange, which the
    old ``distinct()`` paid a full shuffle for) followed by an array HOF
    that expands each basket's C(w, 2) ordered pairs in the projection,
    then the one pair-keyed ``distinct``.  This replaces the previous
    4-exchange derivation (distinct → keyed self-join with its two sort
    exchanges → distinct) with 2 exchanges and no sort-merge sort.  The
    width guard screens BEFORE that aggregation: a per-basket
    ``count_distinct`` (partial-aggregated map-side) finds the baskets
    wider than ``max_basket`` and an anti-join drops their rows, so a
    hub's item array is never built.  Directed mode derives both
    orientations by a map-side swap union AFTER the half-sized (u < v)
    distinct, so the doubled edge list never crosses an exchange.

    A NULL basket key is not a basket: those rows are dropped before
    grouping, as the old self-join (NULL never equals NULL) never paired
    them.
    """
    li = li.filter(F.col("l_orderkey").isNotNull())
    if max_basket is not None:
        wide = (
            li.groupBy("l_orderkey")
            .agg(F.count_distinct("l_partkey").alias("__w"))
            .filter(F.col("__w") > max_basket)
            .select("l_orderkey")
        )
        li = li.join(wide, "l_orderkey", "left_anti")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("__items")
    )
    items = F.col("__items")
    pair_structs = F.flatten(
        F.transform(
            items,
            lambda x, i: F.transform(
                F.slice(items, i + F.lit(2), F.size(items)),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    und = (
        baskets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
        .distinct()
    )
    if not directed:
        return und
    return und.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        und.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )


def weighted_edges(edges: DataFrame) -> DataFrame:
    """Degree fold: (src, dst) -> (src, dst, __w = 1/out-deg), the SINGLE
    corpus-scale frame pagerank stores.

    Shape (r15 — guide §2.5 skew): degree is a ``groupBy(src).count()``
    (MAP-SIDE partial aggregation — each task emits one partial count per
    local src, so a power-law hub's millions of edge rows collapse before
    the exchange) joined back onto the edge list on src.  The r14 window
    form (``count(*) over partitionBy(src)``) shuffled EVERY edge row to
    its src's single partition with no partial aggregation and no skew
    remedy — AQE skew-splitting applies to joins, not windows — so one
    hot node serialized its whole edge set into one task.  The join-back
    is skew-splittable by AQE, the degree side is node-sized, and the
    joined output keeps the src hash partitioning the rank iterations
    want.  The edge derivation feeds both branches through one reused
    exchange (its trailing distinct is keyed identically in both), so the
    fold still costs one derivation pass; storing only the weighted list
    (not the raw pairs) remains the r14 memory-cliff remedy — callers
    that need the degree recover it FROM this frame (count rows per
    src — w = 1/deg makes it exact), never from a second stored copy."""
    deg = edges.groupBy("src").agg(F.count("*").alias("__deg"))
    # node-sized, grows with the graph; the hint stays on a measurement:
    # without it and the rank hint below, x_pagerank took 6.98 s vs 5.55 s
    # (medians of 2 alternating pairs, sf0.1, 4 cores)
    out = edges.join(deg.hint("shuffle_hash"), "src").select(
        "src", "dst", (F.lit(1.0) / F.col("__deg")).alias("__w")
    )
    # SERIALIZED blocks (MEMORY_AND_DISK; _DESER is the checkpoint
    # default): a corpus-scale edge list stored deserialized is two JVM
    # objects per row — at 10⁸ rows that object census alone is what GC
    # scans every young collection while the rank iterations allocate
    # beside it.  Serialized storage packs the same rows into a few
    # hundred large buffers (UnsafeRow bytes, no per-row headers),
    # trading a cheap per-iteration deserialize for an object count that
    # no longer grows with the corpus.
    return stored(out, StorageLevel.MEMORY_AND_DISK)


def pagerank(
    edges: DataFrame | None,
    nodes: DataFrame,
    materialize: bool = True,
    weighted: DataFrame | None = None,
) -> DataFrame:
    """``edges`` (src, dst) directed — pass both directions for an
    undirected graph; ``nodes`` (node).  Returns (node, r) after
    ``PAGERANK_ROUNDS`` rounds of  r(v) = (1-d)/N + d * sum_{u->v} r(u)/deg(u),
    with r0 = 1/N.

    The derived weighted edge list is always stored (first use runs the
    producing plan once, later iterations read the stored blocks);
    without it, an expensive edge derivation (a pair-generating
    self-join, say) is REPLANNED inside every unrolled iteration —
    measured 45 Exchange nodes vs 14 on the co-purchase graph.
    ``materialize`` also stores the node frame; pass False when the
    caller already stored it.

    The degree is folded into a per-edge WEIGHT (w = 1/deg) in one pass
    (``weighted_edges``), and that list — the ONLY corpus-scale frame
    this operator stores — is materialized PRE-PARTITIONED on src: every
    iteration's rank join then shuffles only the (nodes-sized) rank
    table against stationary edge blocks, and the per-iteration deg join
    disappears.  The raw ``edges`` input is deliberately NOT
    checkpointed: it is consumed exactly once (building the weighted
    list), so storing it bought nothing but a second corpus-scale block
    set (the r14 memory-cliff remedy; see weighted_edges).  Callers that
    already built the weighted list pass it via ``weighted`` (then
    ``edges`` may be None)."""
    if weighted is None:
        weighted = weighted_edges(edges)
    if materialize:
        nodes = stored(nodes)
    nn = nodes.agg(F.count("*").cast("double").alias("__n"))
    base = nodes.crossJoin(nn)
    ranks = base.select("node", (F.lit(1.0) / F.col("__n")).alias("r"))
    for _ in range(PAGERANK_ROUNDS):
        contrib = (
            # node-sized ranks, grown with the graph; hint kept on the
            # x_pagerank A/B at weighted_edges
            weighted.join(ranks.hint("shuffle_hash"), weighted["src"] == ranks["node"])
            .select(F.col("dst").alias("node"), (F.col("r") * F.col("__w")).alias("c"))
        )
        summed = contrib.groupBy("node").agg(F.sum("c").alias("__m"))
        ranks = (
            base.join(summed, "node", "left")
            .select(
                "node",
                (
                    F.lit(1.0 - 0.85) / F.col("__n")
                    + F.lit(0.85) * F.coalesce(F.col("__m"), F.lit(0.0))
                ).alias("r"),
            )
        )
    return ranks


def kcore(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """k-core decomposition by iterative peeling (Seidman '83; the
    Batagelj–Zaveršnik degree-peel expressed as a fixed-round dataflow):
    repeatedly drop every node whose degree within the SURVIVING subgraph
    is < k, until the fixpoint — what remains is the maximal subgraph of
    minimum degree ≥ k.  Curation reading: the k-core of a similarity /
    co-occurrence graph is its dense template-farm heart (candidates for
    aggressive dedup or exclusion), while early-peeled nodes are the
    organic periphery; complements CC ("which docs are the same group")
    and PageRank ("which docs matter") in operators/dedup.py / here.

    ``edges`` is the undirected distinct (u, v) pair list (u < v).
    Returns (node, core_deg): the survivors after ``rounds`` peels and
    their degree inside the surviving subgraph.  The round count is FIXED
    and part of the contract (both the engine and any oracle replay
    exactly ``rounds`` peels — they agree even before the fixpoint);
    callers wanting the true k-core assert convergence by checking that
    round ``rounds``+1 changes nothing, or budget rounds generously: the
    peel cascade on the co-purchase graph converges in ≤ 6 rounds at both
    tested SFs (tests pin fixpoint-at-rounds on the registered corpus).

    Eager by construction: BUILDING the returned frame already runs up to
    ``rounds`` Spark jobs — one ``losers.count()`` per round, which both
    decides early exit and materializes that round's stored state.  Only
    the final filter is left to the caller's action.

    Scale (r15 — incremental degree-delta peeling, guide §1.2 "the
    algorithm"): the peel recurrence only ever SUBTRACTS — a node's
    in-subgraph degree changes exactly by the number of neighbors
    removed that round — so the peel maintains one node-sized
    (node, deg) state and, per round, re-counts ONLY against the
    just-removed nodes:

        losers_t    = {u in state : deg_t(u) < k}
        deg_{t+1}(u) = deg_t(u) - |N(u) ∩ losers_t|   (u surviving)

    The previous shape re-derived every round's degree from scratch with
    two semi-joins of the FULL symmetrized list against the active set —
    RDD-backed frames carry no size statistics, so the planner chose
    SortMergeJoin and shuffled+sorted the whole edge list twice per
    round (measured: ~90 % of x_kcore's wall time was these per-round
    cascades; the peel itself removes ~6 % of nodes ONCE).  Now the edge
    list is never shuffled after it is stored: each round is one
    broadcast semi-probe of the stationary edges against the loser set
    plus a node-sized merge.  The broadcast is forced only while the
    round's loser count (the count the loop takes anyway) times the
    row width fits under ``spark.sql.autoBroadcastJoinThreshold``; a
    heavy-peel round above it (or a threshold of -1) takes a plain join
    and leaves the strategy to the planner.  Per-round state is stored
    so lineage stays linear in rounds; the final (node, core_deg) answer
    IS the maintained state (no closing recount join).  Bit-identical to
    the two-semi-join form (pytest-pinned, oracle-adjudicated): both
    compute |N(u) ∩ A_t| exactly, and the final filter deg >= 1 matches
    the old recount's inner joins, which emitted no row for a survivor
    whose every neighbor was removed in the last round.
    """
    # stored BELOW the symmetrization (r14): the union's branches each
    # embed the full pair-derivation subtree, so storing the unioned
    # frame executed that subtree's non-shared tail twice on first use
    # and stored 2× the bytes; the swap union over stored blocks is two
    # shuffle-free projections.
    edges = stored(edges)
    sym = edges.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        edges.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    # state: (node, __deg) over the current active set; round 0's degree
    # is the plain full-graph count (map-side combinable, one shuffle)
    state = stored(sym.groupBy("node").agg(F.count("*").alias("__deg")))
    sql_conf = edges.sparkSession._jsparkSession.sessionState().conf()
    bcast_limit = sql_conf.autoBroadcastJoinThreshold()
    # Spark's own no-statistics row estimate: 8 bytes of row overhead
    # plus the column type's default size
    loser_row_bytes = 8 + state.select("node")._jdf.schema().defaultSize()
    for _ in range(rounds):
        losers = state.filter(F.col("__deg") < k).select(
            F.col("node").alias("nbr")
        )
        # empty loser set ⟹ delta empty ⟹ state unchanged ⟹ every
        # remaining round is a no-op — stop peeling (the fixed-round
        # output is bit-identical; this count is also the action that
        # materializes the round's stored state)
        n_losers = losers.count()
        if n_losers == 0:
            break
        if n_losers * loser_row_bytes <= bcast_limit:
            # the loser set grows with the graph, so the broadcast is gated
            # on its counted size; ungated, the planner broadcast the edge
            # list instead (x_kcore 6.88 s vs 3.54 s, sf0.1, 2 pairs)
            losers = F.broadcast(losers)
        # |N(u) ∩ losers|: probe the stationary edge list against the
        # loser set — no edge-list shuffle when broadcast, tiny agg exchange
        delta = (
            sym.join(losers, "nbr")
            .groupBy("node")
            .agg(F.count("*").alias("__delta"))
        )
        state = stored(
            state.filter(F.col("__deg") >= k)
            .join(delta, "node", "left")
            .select(
                "node",
                (
                    F.col("__deg") - F.coalesce(F.col("__delta"), F.lit(0))
                ).alias("__deg"),
            )
        )
    return state.filter(F.col("__deg") >= 1).select(
        "node", F.col("__deg").cast("bigint").alias("core_deg")
    )


def copurchase_affinity(li: DataFrame) -> DataFrame:
    """Weighted co-occurrence AFFINITY graph: undirected item pairs
    (u < v, w) where ``w`` counts the distinct baskets the pair shares,
    kept only at ``w >= AFFINITY_MIN_SUPPORT`` (the association-rule support
    threshold of Agrawal & Srikant, VLDB '94).

    The support threshold is itself the 100 TB guard for everything
    built downstream of this graph: one-off co-occurrences are exactly
    the pairs a power-law hub key mass-produces, so a support of 2
    prunes the graph from O(sum basket²) incidental pairs down to the
    statistically repeated ones — measured 115,729 → 3,445 edges at
    sf0.01 and 1,196,000 → 3,573 at sf0.1, i.e. the affinity graph stays
    nearly CONSTANT-size as the corpus grows at fixed basket width,
    because repeat-collisions are a property of the assortment, not the
    row count.  The aggregation is a map-side-combinable count riding
    the one self-join shuffle; compose with ``cap_group_width`` upstream
    (copurchase_pairs' max_basket pattern) when basket width itself is
    unbounded.
    """
    li = li.select("l_orderkey", "l_partkey").distinct()
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= AFFINITY_MIN_SUPPORT)
    )


def adamic_adar(edges: DataFrame) -> DataFrame:
    """Adamic–Adar link prediction (Adamic & Adar, Social Networks '03)
    over an undirected edge list (u, v): for every NON-adjacent pair
    sharing at least one neighbor, score
    AA(u, v) = sum over common neighbors w of 1 / ln(deg(w)) — rare
    shared neighbors are informative, hub shared neighbors are not.
    Returns (u, v, aa, n_common) with u < v, existing edges anti-joined
    away (prediction = links NOT yet present).

    Scale: the center-node weight 1/ln(deg) is folded onto the
    symmetrized adjacency ONCE (the weight join rides the same ``node``
    exchange the wedge self-join needs — pagerank's weighted-edge trick),
    so wedge enumeration is one self-join keyed on the center plus a
    map-side-combinable sum.  Wedge count is sum(deg²), which is why
    this operator expects a SUPPORT-THRESHOLDED graph
    (copurchase_affinity) or a degree-capped one: on the affinity graph
    the wedge total is ~34k at sf0.01 and ~10k at sf0.1 (max degree
    13 / 6), versus 28M / 298M on the raw co-occurrence graph.  A wedge
    center always has deg >= 2 (it touches both endpoints), so
    ln(deg) > 0 and the weight is finite by construction.
    """
    # r14 negative result: checkpointing ``edges`` here (the CC/kcore
    # single-copy placement) measured SLOWER (2.8 s → 3.7 s solo for
    # x_link_adamic) — sym's branches and deg already share the heavy
    # pair-derivation exchange via ReuseExchange inside the one wsym
    # materialization job, so a pair-list checkpoint only added a second
    # stored frame and a second barrier.  wsym below stays the single
    # stored frame.
    sym = edges.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        edges.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    # deg-1 nodes can never be a wedge center (one neighbor cannot form a
    # pair), but their weight 1/ln(1) would still be computed in this
    # projection and trip ANSI division-by-zero — screen them here, which
    # also shrinks the self-join's build side.
    deg = (
        sym.groupBy("node")
        .agg(F.count("*").alias("__deg"))
        .filter(F.col("__deg") >= 2)
    )
    wsym = stored(
        sym.join(deg, "node")
        .select("node", "nbr", (F.lit(1.0) / F.log(F.col("__deg"))).alias("__w"))
    )
    a, b = wsym.alias("a"), wsym.alias("b")
    scored = (
        a.join(
            b,
            (F.col("a.node") == F.col("b.node"))
            & (F.col("a.nbr") < F.col("b.nbr")),
        )
        .groupBy(F.col("a.nbr").alias("u"), F.col("b.nbr").alias("v"))
        .agg(
            F.sum("a.__w").alias("aa"),
            F.count("*").cast("bigint").alias("n_common"),
        )
    )
    return scored.join(edges.select("u", "v"), ["u", "v"], "left_anti")
