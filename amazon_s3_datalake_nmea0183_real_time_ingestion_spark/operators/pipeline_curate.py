"""End-to-end corpus curation pipeline — the composed workflow the
individual operator keys exist for, in the canonical order a pretraining
data pipeline runs them:

    quality gate → exact dedup → near-dup collapse (guarded MinHash-LSH
    + connected components) → benchmark decontamination → cluster-aware
    train/val/test split → temperature mixture table

One function, DataFrames in / DataFrames out.  Laziness caveat: every
returned frame is lazy EXCEPT that component labeling runs eagerly at
call time — ``connected_components`` iterates to convergence with a
driver-side probe per round (the same control-plane collect its own
docstring documents), so calling ``curate_corpus`` executes the chain
up through the near-dup pair join.  Callers then trigger the remaining
(cheap) work with their own actions (writes, counts).

Stage order matters and is deliberate:

- exact BEFORE near-dup: verbatim copies are exact dedup's job; feeding
  them to LSH just makes hot buckets (the max_bucket guard's own doc
  says so).
- near-dup collapse BEFORE split: the split hashes the CLUSTER id, so a
  surviving canonical and any future re-ingested near-copy land in the
  same split (x_split_leakage is the audit; x_split_cluster_safe the
  single-key demonstration).
- decontamination screens the PRE-collapse frame and drops whole
  CLUSTERS: a benchmark hit on any cluster member — including a
  near-dup variant the collapse discards — removes the surviving
  canonical too.  Screening only the kept canonicals would let a
  lightly-edited twin of the contaminated text stay in training
  (benchmark n-grams can overlap the variant's edits without touching
  the canonical's own text).

Scale: every stage is an operator this package already ships with its
own 100 TB notes — the composition adds NO new shuffle beyond the
stages' own (quality gate and split are map-side; the near-dup label
table is stored because BOTH the collapse join and the split
consume it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import doc_fingerprint, quality_logit, tokens
from ..storage import stored
from .curation import hash_split
from .dedup import connected_components, minhash_near_dup

# the quality gate keeps documents whose quality logit exceeds this
QUALITY_THRESHOLD = 0.0


def curate_corpus(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Run the full curation chain; returns lazy DataFrames:

    - ``curated``: surviving documents + ``quality`` + ``cluster_id`` +
      ``split`` columns (input columns preserved);
    - ``mixture``: per-source temperature-mixture weights over the
      CURATED corpus (n^α / Σ n^α with α = 0.7 — compute rates AFTER dropping, or
      the weights re-inflate exactly the boilerplate you removed);
    - ``funnel``: (stage, n_docs) report, one row per stage in order.

    ``benchmark`` (optional): a frame with ``text`` whose 3-gram
    shingles must not appear in training data — dropped via the exact
    n-gram screen (decontaminate); pass None to skip.

    Component labeling fails LOUD on non-convergence (RuntimeError at
    the round budget).
    """
    toked = docs.withColumn("__t", tokens("text"))
    gated = (
        toked.withColumn("quality", quality_logit(F.col("__t"), F.col("text")))
        .filter(F.col("quality") > QUALITY_THRESHOLD)
        .drop("__t")
    )

    # exact: keep the lowest id per normalized-text fingerprint
    # (exact_dedup's window, inlined so the PRE-filter tagged frame is
    # the one stored).  Store the TAGGED frame, not the post-filter
    # survivors (r15, guide §1.2): the frame feeds the LSH pair join, the
    # collapse join, AND two funnel counts — and the funnel's
    # quality_gate count needs the pre-dedup row set, which a
    # survivors-only store forced back through a second full
    # tokenize + quality_logit corpus pass.  Storing the tagged frame
    # (gated-sized: survivors + the duplicate rows the filter drops)
    # serves both counts from the same blocks; the dedup filter is a
    # narrow projection over them.
    w_fp = Window.partitionBy("__fp").orderBy(F.col("doc_id").asc())
    tagged = stored(
        gated.withColumn("__fp", doc_fingerprint("text"))
        .withColumn("__rn", F.row_number().over(w_fp))
    )
    exact = tagged.filter(F.col("__rn") == 1).drop("__fp", "__rn")

    # near-dup: guarded MinHash-LSH pairs -> components -> keep canonical
    pairs = minhash_near_dup(exact, max_bucket=100).select("id_a", "id_b")
    # consumed by the collapse AND the split
    labels = stored(connected_components(pairs, exact.select("doc_id")))
    collapsed = exact.join(labels, "doc_id").filter(
        F.col("doc_id") == F.col("cluster_id")
    )

    if benchmark is not None:
        from .curation import decontaminate

        # screen the PRE-collapse frame (every exact-dedup survivor, not
        # just kept canonicals) and drop whole clusters: benchmark n-grams
        # that overlap only a discarded near-dup variant's text must still
        # remove the surviving canonical — the canonical is a near-copy of
        # the contaminated text by construction.  The benchmark side
        # broadcasts (eval sets are MBs), so widening the corpus side from
        # canonicals to all exact survivors adds no shuffle.
        contaminated = decontaminate(exact, benchmark).select("doc_id")
        bad_clusters = labels.join(contaminated, "doc_id").select("cluster_id").distinct()
        clean = collapsed.join(bad_clusters, "cluster_id", "left_anti")
    else:
        clean = collapsed

    # cluster-aware split: hash the CLUSTER id (x_split_cluster_safe)
    curated = hash_split(clean, "cluster_id").drop("bucket")

    cnt = F.count("*").cast("bigint").alias("n_docs")
    funnel = (
        docs.agg(cnt).select(F.lit("input").alias("stage"), "n_docs")
        # quality_gate count reads the stored tagged blocks (row set is
        # identical to gated's — the dedup window adds columns, drops
        # nothing), not a second tokenize+quality pass over the corpus
        .unionByName(tagged.agg(cnt).select(F.lit("quality_gate").alias("stage"), "n_docs"))
        .unionByName(exact.agg(cnt).select(F.lit("exact_dedup").alias("stage"), "n_docs"))
        .unionByName(collapsed.agg(cnt).select(F.lit("near_dedup").alias("stage"), "n_docs"))
        .unionByName(clean.agg(cnt).select(F.lit("decontaminated").alias("stage"), "n_docs"))
    )

    ncnt = curated.groupBy("source").agg(F.count("*").alias("n_docs"))
    z = ncnt.agg(F.sum(F.pow(F.col("n_docs"), F.lit(0.7))).alias("z"))
    w = F.pow(F.col("n_docs"), F.lit(0.7)) / F.col("z")
    mixture = ncnt.crossJoin(z).select(
        "source", "n_docs", F.round(w, 6).alias("weight")
    )

    return {"curated": curated, "mixture": mixture, "funnel": funnel}
