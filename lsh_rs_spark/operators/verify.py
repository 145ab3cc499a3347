"""Exact-verify stage: candidate pairs → verified edges.

The reference re-ranks candidates with exact distances
(`lsh-py/src/dist.rs:26-52` — cosine/L2 `cdist` then sort).  The dedup
analogue is exact **Jaccard on shingle sets** (MinHash family) and exact
**Hamming on sketches** (SimHash family), computed pair-shaped instead of
query-shaped.

Jaccard is computed relationally — explode the two shingle sets, count
matching ids, derive |A∩B| / (|A|+|B|-|A∩B|) — no UDF, fully codegen, and
the intersection join shuffles on ``sid`` (well-distributed hash keys) so
hot documents do not make hot partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from lsh_rs_spark.config import DedupConfig, SimHashConfig
from lsh_rs_spark.functions.simhash import hamming
from lsh_rs_spark.tuning import ID_BYTES, broadcast_hint


def _prune_to_participants(pairs: DataFrame, sig: DataFrame) -> DataFrame:
    """(doc_id, shingles) of the docs that appear in a candidate pair,
    materialized — ONE stream over the big signature table, so the two
    per-side resolution joins touch only the pruned set.

    No distinct() on the participant ids by default: a LEFT SEMI join is
    set-semantic over its right side already, so deduplicating it first
    only added an exchange + aggregate AQE wave (round-7; result
    identical).  When the pair table is already materialized (the
    pipeline stores or checkpoints it) and its two participant ids per
    pair fit the byte cap (``tuning.broadcast_hint``), the distinct ids are
    BROADCAST (round-7) — the semi join then streams the signature table
    with NO exchange of it at all (the former plan shuffled the full
    (doc_id, shingles) projection before AQE could see the tiny side: AQE
    materializes both sides of a join before converting to broadcast).  A
    web-scale pair table, or a pairs argument with live lineage (never
    executed just to size it), falls through to the shuffle plan
    unchanged.  Same result either way — only the join strategy moves."""
    cand_docs = broadcast_hint(
        pairs.select(F.col("src").alias("doc_id"))
        .unionByName(pairs.select(F.col("dst").alias("doc_id"))),
        pairs, 2 * ID_BYTES, distinct=True,
    )
    return (
        sig.select("doc_id", "shingles")
        .join(cand_docs, "doc_id", "left_semi")
        .localCheckpoint(eager=True)  # pair-docs only: tiny; sever lineage so
        # the two per-side joins don't re-stream the full corpus
    )


def shingle_table(sig: DataFrame) -> DataFrame:
    """(doc_id, shingles) → long (doc_id, sid), ids already distinct per doc."""
    return sig.select("doc_id", F.explode("shingles").alias("sid"))


def jaccard_edges(
    pairs: DataFrame, sig: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """Exact Jaccard for each candidate pair; keep >= threshold.

    Plan shape: the signature table is first semi-join-pruned to the docs
    that actually appear in a candidate pair (typically a few % of the
    corpus at web dup rates) and materialized — ONE stream over the big
    table instead of two; the two per-side resolution joins then touch only
    the pruned set, followed by **in-row** ``size(array_intersect(...))``
    — fully codegen, no explode, no per-pair groupBy.  AQE picks the
    semi-join strategy from the candidate list's runtime size (broadcast
    when it fits, doc-id-keyed shuffle otherwise — doc ids are
    well-distributed either way).  Identical output to the relational
    explode form (``jaccard_edges_exploded``, kept for cross-checking):
    shingle ids are distinct per doc, so ``size(array_intersect)`` equals
    the exploded match count exactly.
    """
    pruned = _prune_to_participants(pairs, sig)
    res = (
        pairs
        .join(pruned.select(F.col("doc_id").alias("src"), F.col("shingles").alias("sh_src")), "src")
        .join(pruned.select(F.col("doc_id").alias("dst"), F.col("shingles").alias("sh_dst")), "dst")
        .withColumn("n_common", F.size(F.array_intersect("sh_src", "sh_dst")).cast("long"))
        .withColumn(
            "n_union",
            (F.size("sh_src") + F.size("sh_dst")).cast("long") - F.col("n_common"),
        )
        .withColumn("jaccard", F.col("n_common") / F.col("n_union"))
        .where(F.col("jaccard") >= cfg.jaccard_threshold)
    )
    return res.select("src", "dst", "n_common", "n_union", "jaccard")


def jaccard_edges_exploded(
    pairs: DataFrame, sig: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """Relational (explode + join on sid) twin of ``jaccard_edges`` — the
    form mirrored by the DuckDB oracle SQL; kept for cross-checking.

    Plan shape: pairs ⋈ shingles(src) ⋈ shingles(dst) on sid — two shuffles
    on doc keys plus one count agg on the pair key.
    """
    cand_docs = (
        pairs.select(F.col("src").alias("doc_id"))
        .unionByName(pairs.select(F.col("dst").alias("doc_id")))
        .distinct()
    )
    sh = shingle_table(sig.join(cand_docs, "doc_id", "left_semi"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        pairs
        .join(sh.select(F.col("doc_id").alias("src"), "sid"), "src")
        .join(sh.select(F.col("doc_id").alias("dst"), "sid"), ["dst", "sid"])
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter
        .join(sizes.select(F.col("doc_id").alias("src"), F.col("n").alias("n_src")), "src")
        .join(sizes.select(F.col("doc_id").alias("dst"), F.col("n").alias("n_dst")), "dst")
        .withColumn("n_union", F.col("n_src") + F.col("n_dst") - F.col("n_common"))
        .withColumn("jaccard", F.col("n_common") / F.col("n_union"))
        .where(F.col("jaccard") >= cfg.jaccard_threshold)
        .select("src", "dst", "n_common", "n_union", "jaccard")
    )


def containment_edges(
    pairs: DataFrame, sig: DataFrame, threshold: float = 0.8
) -> DataFrame:
    """Exact set containment (overlap coefficient) per candidate pair.

    Near-dup Jaccard misses asymmetric duplication — a short document whose
    shingles are almost all contained in a longer one (boilerplate-wrapped
    article, quoted post, page-plus-chrome rescrape) has low Jaccard but
    high containment.  This computes the Szymkiewicz–Simpson overlap
    coefficient ``|A∩B| / min(|A|, |B|)`` — the max of the two directed
    containments |A∩B|/|A| and |A∩B|/|B|; the directed forms are derivable
    from the returned (n_common, n_src, n_dst).  Plan shape identical to
    ``jaccard_edges``: semi-join prune of the signature table to pair
    participants, then in-row ``size(array_intersect)`` (codegen, no
    explode, no per-pair groupBy).

    Recall caveat (documented AND measured, not hidden): candidate pairs
    come from symmetric MinHash banding calibrated for JACCARD — a full
    containment pair at size ratio R has jaccard ≈ 1/R, so band recall
    decays steeply with R.  Measured on planted containment pairs at the
    production config (tools/containment_recall.json, K=128 b=16 r=8
    OPH): recall 1.00 at R=1.2, 0.75 at R=1.5, **0.13 at R=2, ~0 at
    R≥3** (consistently above the analytic S-curve 1-(1-R^-r)^b — OPH's
    densified bands are correlated — but the cliff is real).  Use this
    operator for near-size rewraps (R ≲ 1.5); for larger supersets use
    the suffix-array substring operators (byte-level anchors,
    ratio-independent) or size-stratified banding (LSH Ensemble, Zhu et
    al., VLDB 2016).  Exact re-rank stage analogue:
    `lsh-py/src/dist.rs:26-52`.
    """
    pruned = _prune_to_participants(pairs, sig)
    return (
        pairs
        .join(pruned.select(F.col("doc_id").alias("src"), F.col("shingles").alias("sh_src")), "src")
        .join(pruned.select(F.col("doc_id").alias("dst"), F.col("shingles").alias("sh_dst")), "dst")
        .withColumn("n_common", F.size(F.array_intersect("sh_src", "sh_dst")).cast("long"))
        .withColumn("n_src", F.size("sh_src").cast("long"))
        .withColumn("n_dst", F.size("sh_dst").cast("long"))
        .withColumn("containment", F.col("n_common") / F.least("n_src", "n_dst"))
        .where(F.col("containment") >= threshold)
        .select("src", "dst", "n_common", "n_src", "n_dst", "containment")
    )


def hamming_edges(
    pairs: DataFrame, sketches: DataFrame, cfg: SimHashConfig
) -> DataFrame:
    """(src,dst) pairs × (doc_id, simhash) → pairs with Hamming <= threshold.

    The sketch table is narrow (16 bytes/row) but corpus-sized — no
    broadcast hint; AQE picks broadcast only when it actually fits.
    """
    sk = sketches.select("doc_id", "simhash")
    return (
        pairs
        .join(sk.select(F.col("doc_id").alias("src"), F.col("simhash").alias("h_src")), "src")
        .join(sk.select(F.col("doc_id").alias("dst"), F.col("simhash").alias("h_dst")), "dst")
        .withColumn("hamming", hamming("h_src", "h_dst").cast("int"))
        .where(F.col("hamming") <= cfg.hamming_threshold)
        .select("src", "dst", "hamming")
    )
