"""L2 (E2LSH) nearest-neighbor path over dense embeddings.

The reference's `LshL2` / `LshMem::l2(r)` surface
(`lsh-py/src/lib.rs:325-368`, `lsh-rs/src/lsh/lsh.rs:102-143`): store
vectors into L tables keyed by floor((A·v+b)/r), probe with the query's
keys (optionally query-directed multi-probe), exact-L2 re-rank, top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from lsh_rs_spark.functions.l2 import l2_band_table
from lsh_rs_spark.functions.vectors import l2_dist
from lsh_rs_spark.operators.lsh import pairs_from_buckets
from lsh_rs_spark.operators.topk import probe_join, vector_rerank


def l2_buckets(
    emb: DataFrame, n_tables: int, k: int, dim: int, r: float, seed: int,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """(band_key, vec_id) bucket table — the store path (S2/S10 analogue)."""
    return l2_band_table(emb, n_tables, k, dim, r, seed, id_col, vec_col)


def l2_candidate_pairs(
    emb: DataFrame, n_tables: int, k: int, dim: int, r: float, seed: int,
    max_bucket_size: int = 10_000,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    from lsh_rs_spark.functions.l2 import compact_band_keys

    b = compact_band_keys(l2_buckets(emb, n_tables, k, dim, r, seed, id_col, vec_col))
    return pairs_from_buckets(b, ["band_key"], max_bucket_size, id_col="vec_id")


def _l2_bands_col_path(
    emb: DataFrame, n_tables: int, k: int, dim: int, r: float, seed: int,
    id_col: str, vec_col: str, id_alias: str,
) -> DataFrame:
    """Column-expression band table (oracle-parity twin of l2_band_table)."""
    from lsh_rs_spark.functions.l2 import l2_hash_col

    keys = l2_hash_col(vec_col, n_tables, k, dim, r, seed)
    return emb.select(F.col(id_col).alias(id_alias), keys.alias("keys")).select(
        id_alias, F.explode("keys").alias("band_key")
    )


def l2_knn(
    queries: DataFrame,
    corpus: DataFrame,
    n_tables: int,
    k_hash: int,
    dim: int,
    r: float,
    seed: int,
    top_k: int,
    probes: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_udf: bool = True,
    broadcast_probes: bool | None = None,
) -> DataFrame:
    """predict(): probe → bucket union (n_collisions) → exact L2 → top-k.

    Returns (query_id, neighbor_id, n_collisions, dist, rank) — the
    reference QueryResult columns (`lsh-py/floky/__init__.py:9-11`).
    use_udf=False → Column-expression band keys (DuckDB-parity path;
    probes must be 0 — query-directed probing lives in the UDF).
    The probe and re-rank query sides are broadcast by estimated bytes
    (``topk.probe_join`` / ``topk.vector_rerank``).
    """
    # validate BEFORE any size decision: an invalid call must raise
    # without burning a count job (advisor r4)
    if not use_udf and probes:
        raise ValueError("query-directed probing requires use_udf=True")

    if not use_udf:
        corpus_b = _l2_bands_col_path(
            corpus, n_tables, k_hash, dim, r, seed, id_col, vec_col, "neighbor_id"
        )
        query_b = _l2_bands_col_path(
            queries, n_tables, k_hash, dim, r, seed, id_col, vec_col, "query_id"
        )
    else:
        # production path: 8-byte BIGINT band keys — the bucket join's
        # exchange never carries the 'table:h1-h2-…' strings
        from lsh_rs_spark.functions.l2 import compact_band_keys

        corpus_b = compact_band_keys(l2_band_table(
            corpus, n_tables, k_hash, dim, r, seed, id_col, vec_col, probes=0,
            id_alias="neighbor_id",
        ))
        query_b = compact_band_keys(l2_band_table(
            queries, n_tables, k_hash, dim, r, seed, id_col, vec_col,
            probes=probes, id_alias="query_id",
        ))
    cand = probe_join(
        query_b, corpus_b, "band_key", n_tables * (1 + probes), queries,
        broadcast_probes, neighbor="neighbor_id", n_collisions=True,
    )
    return vector_rerank(
        cand, queries, corpus, top_k, l2_dist("qv", "cv"), "dist", False, dim,
        broadcast_probes, id_col, vec_col, carry=("n_collisions",),
    )
