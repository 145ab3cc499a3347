"""Approximate nearest neighbor over dense embeddings.

Baseline: brute-force cosine top-k (the exact oracle, ≙ the reference's
scipy-`cdist` ground truth, `examples/notebooks/LSH_recall.ipynb` cell 5).
Scale path: SRP-bucketed candidate generation (≙ `LshSrp`,
`lsh-py/src/lib.rs:370-400`) + exact re-rank of candidates only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from lsh_rs_spark.config import SRPConfig
from lsh_rs_spark.functions.simhash import hamming
from lsh_rs_spark.functions.vectors import (
    l2_norm,
    make_srp_udf,
    srp_sketch_col,
)
from lsh_rs_spark.operators.topk import cosine_score, probe_join, top_k, vector_rerank


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, cos, rank): exact top-k by cosine.

    Query side is expected small → broadcast; the cross join then streams
    the corpus once per partition with no shuffle of the big side.
    """
    # norms precomputed once per side (cosine_score)
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            l2_norm(vec_col).alias("qn"),
        )
    )
    from lsh_rs_spark.tuning import scan_parallelism_boost

    c = scan_parallelism_boost(corpus, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        l2_norm(vec_col).alias("cn"),
    )  # narrow one-file corpora otherwise stream the whole cross join
    # through a single task
    scored = (
        q.crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine_score())
    )
    return top_k(scored, k, "cos", True)


def srp_sketches(
    emb: DataFrame,
    cfg: SRPConfig,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_udf: bool = True,
) -> DataFrame:
    """(vec_id, srp) — sign-random-projection sketch per embedding.

    use_udf=True → BLAS batch kernel (production); False → pure Column
    expressions (oracle-parity path, identical values).
    """
    sk = (
        make_srp_udf(cfg.seed, cfg.n_bits, cfg.dim)(vec_col)
        if use_udf
        else srp_sketch_col(vec_col, cfg.seed, cfg.n_bits, cfg.dim)
    )
    # no scan boost here (round-7): the sketch kernel is cheap per row and
    # the ANN chain is AQE-wave-latency-bound — an extra exchange on each
    # side cost more than the serial sketch it parallelized (measured
    # +0.7 s on ann_srp_topk at sf0.1)
    return emb.select(F.col(id_col).alias("vec_id"), sk.alias("srp"))


def srp_candidate_pairs(
    sketches: DataFrame, cfg: SRPConfig, max_bucket_size: int = 10_000
) -> DataFrame:
    """LSH banding over SRP sketches → distinct (src, dst) candidates.

    One scan (struct-array explode) + one shuffle (pairs_from_buckets)."""
    from lsh_rs_spark.functions.simhash import sketch_bands
    from lsh_rs_spark.operators.lsh import pairs_from_buckets

    bands = sketch_bands(
        sketches, "srp", "vec_id", cfg.bands, cfg.bits_per_band, "vec_id"
    )
    return pairs_from_buckets(
        bands, ["band_idx", "band_key"], max_bucket_size, id_col="vec_id"
    )


def srp_hamming_pairs(sketches: DataFrame, cfg: SRPConfig, max_hamming: int) -> DataFrame:
    """Candidates + exact sketch-Hamming filter (cheap pre-verify)."""
    pairs = srp_candidate_pairs(sketches, cfg)
    sk = sketches  # corpus-sized: no broadcast hint
    return (
        pairs
        .join(sk.select(F.col("vec_id").alias("src"), F.col("srp").alias("h_src")), "src")
        .join(sk.select(F.col("vec_id").alias("dst"), F.col("srp").alias("h_dst")), "dst")
        .withColumn("hamming", hamming("h_src", "h_dst").cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("src", "dst", "hamming")
    )


def ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    cfg: SRPConfig,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_udf: bool = True,
    broadcast_probes: bool | None = None,
) -> DataFrame:
    """Scale-path ANN: SRP bucket probe → exact cosine re-rank of candidates.

    Driver-gated as ``ann_srp_topk`` against a DuckDB twin that replicates
    the banding (oracle.q_ann_srp_topk); the brute-force exact form is
    gated separately as ``ann_cosine_topk_exact``.  ``use_udf=False`` takes
    the pure-Column sketch path (bit-identical to the SQL twin).  The
    probe and re-rank query sides are broadcast by estimated bytes
    (``topk.probe_join`` / ``topk.vector_rerank``)."""
    from lsh_rs_spark.functions.simhash import sketch_bands

    corpus_sk = srp_sketches(corpus, cfg, id_col, vec_col, use_udf=use_udf)
    query_sk = srp_sketches(queries, cfg, id_col, vec_col, use_udf=use_udf)
    qb = sketch_bands(query_sk, "srp", "vec_id", cfg.bands, cfg.bits_per_band, "query_id")
    cb = sketch_bands(corpus_sk, "srp", "vec_id", cfg.bands, cfg.bits_per_band, "neighbor_id")
    cand = probe_join(
        qb, cb, ["band_idx", "band_key"], cfg.bands, queries, broadcast_probes,
        neighbor="neighbor_id",
    )
    return vector_rerank(
        cand, queries, corpus, k, cosine_score(), "cos", True, cfg.dim, broadcast_probes,
        id_col, vec_col,
    )
