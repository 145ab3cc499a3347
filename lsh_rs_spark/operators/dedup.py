"""Dedup-suite operators for training-data pipelines.

Exact dedup (hash-groupBy), n-gram-Jaccard near-dup (the MinHash pipeline's
exact little sibling for small candidate sets), and embedding-cosine
near-dup.  MinHash+LSH and SimHash near-dup live in ``lsh.py``/``verify.py``;
substring dedup in ``suffix.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from lsh_rs_spark.functions.vectors import cosine_sim, dot, l2_norm


def exact_dup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate detection: identical `text` bytes → one group.

    Output: (doc_id, rep_id, group_size) — rep is the min id per group.
    The shuffle key is ``sha256(text)`` (32 bytes), NOT the raw text — at
    web scale partitioning by the document body would shuffle the corpus
    bytes as keys.  sha256 (not md5): exact dedup runs on untrusted web
    content, and md5 collisions are practically constructible — an attacker
    could publish two different pages that merge as "exact" duplicates.
    sha256 is collision-resistant; the DuckDB oracle groups on raw text and
    matches exactly.
    """
    w = Window.partitionBy(F.sha2(F.col(text_col).cast("binary"), 256))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.min(id_col).over(w).alias("rep_id"),
        F.count("*").over(w).alias("group_size"),
    )


def exact_dup_edges(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Scale form of exact dedup for the pipeline: (rep_id, doc_id) rows for
    every non-representative member of a byte-identical-text group.

    One scan + ONE exchange on ``sha256(text)`` (32-byte shuffle key —
    collision resistant against adversarial web content, see
    exact_dup_groups): min/count window over the hash partition, filter
    non-representatives.  The former agg + join-back form streamed the
    corpus TWICE (the aggregate's exchange and the join side's exchange are
    different subplans, so AQE cannot reuse one for the other) and paid two
    more AQE stage waves; the window reuses its own exchange for both the
    min and the count (round-7 A/B at 56k pages, warm medians:
    0.61 s vs 1.57 s, identical edge set — OPTIMIZATION_r07.md).
    Skew note: a pathological boilerplate group lands on one reducer either
    way (the old join keyed on the same hash); the window's per-group state
    is a spillable sorted run, and exact-dup hot groups are first collapsed
    here precisely so the LSH stages never see them.
    """
    w = Window.partitionBy("_th")
    return (
        docs.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("doc_id"),
            F.sha2(F.col(text_col).cast("binary"), 256).alias("_th"),
        )
        .select(
            "doc_id",
            F.min("doc_id").over(w).alias("rep_id"),
            F.count("*").over(w).alias("_n"),
        )
        .where((F.col("_n") >= 2) & (F.col("doc_id") != F.col("rep_id")))
        .select("rep_id", "doc_id")
    )


def embedding_near_dup_lsh(
    emb: DataFrame,
    srp_cfg,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_udf: bool = True,
    max_bucket_size: int = 10_000,
) -> DataFrame:
    """Embedding near-dup, scale path: SRP banding → bucketed candidate
    pairs → exact cosine verify.  No cartesian term anywhere — candidate
    count is bounded by bucket sizes, exactly like the MinHash text path.
    The brute-force twin (``embedding_near_dup_pairs``) is the recall
    oracle, mirroring the reference's exact-cdist test pattern
    (`lsh-py/test/test_.py:26`).
    """
    from lsh_rs_spark.operators.ann import srp_candidate_pairs, srp_sketches

    sk = srp_sketches(emb, srp_cfg, id_col, vec_col, use_udf=use_udf)
    pairs = srp_candidate_pairs(sk, srp_cfg, max_bucket_size)
    vecs = emb.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        l2_norm(vec_col).alias("_n"),
    )
    return (
        pairs
        .join(vecs.select(F.col("_id").alias("src"), F.col("_v").alias("va"),
                          F.col("_n").alias("na")), "src")
        .join(vecs.select(F.col("_id").alias("dst"), F.col("_v").alias("vb"),
                          F.col("_n").alias("nb")), "dst")
        .withColumn("cos", dot("va", "vb") / (F.col("na") * F.col("nb")))
        .where(F.col("cos") >= threshold)
        .select("src", "dst", "cos")
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine >= threshold (brute-force; the exact baseline).

    O(n²) by construction — kept as the small-scale oracle twin of
    ``embedding_near_dup_lsh`` (which is the production/driver-gated path).
    """
    a = emb.select(F.col(id_col).alias("src"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("dst"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("src") < F.col("dst"))
        .withColumn("cos", cosine_sim("va", "vb"))
        .where(F.col("cos") >= threshold)
        .select("src", "dst", "cos")
    )
