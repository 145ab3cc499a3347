"""Query path: the reference's ``predict`` re-expressed as DataFrames.

Reference lifecycle (`lsh-py/floky/__init__.py:195-250` +
`lsh-rs/src/lsh/lsh.rs:464-508`): sign query → probe L tables → union
candidate ids → exact distance re-rank → top-k → QueryResult
(index, n_collisions, distances).

Spark shape (SURVEY.md §3.2): queries signed with the *same* broadcast
parameters → explode band keys → equi-join the bucket table (J1) → dedup
candidates (A1 bucket-union ≙ groupBy) → exact re-rank (Jaccard here) →
window top-k (W1, `lsh-py/src/dist.rs:26-52`).

Every family's predict tail — probe join → candidate union → exact
re-rank → per-query top-k — is written once here: ``probe_join``,
``vector_rerank`` (dense families) and ``top_k``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from lsh_rs_spark.config import DedupConfig
from lsh_rs_spark.functions.vectors import dot, l2_norm
from lsh_rs_spark.operators.lsh import explode_bands
from lsh_rs_spark.operators.verify import shingle_table
from lsh_rs_spark.tuning import PROBE_KEY_BYTES, broadcast_hint, vector_row_bytes


def probe_join(
    probe_keys: DataFrame,
    index_keys: DataFrame,
    on: str | list[str],
    fanout: int,
    sized: DataFrame,
    broadcast: bool | None = None,
    neighbor: str = "doc_id",
    n_collisions: bool = False,
) -> DataFrame:
    """Probe → candidate union, for every family: equi-join the per-query
    probe keys against the index keys on ``on`` and drop self-hits.

    Returns distinct (query_id, <neighbor>) candidates, or with
    ``n_collisions`` the number of keys each pair agrees on (the
    reference's ``n_collisions``, `lsh-py/floky/__init__.py:240-248`).
    The probe side is broadcast when ``sized`` (the query frame; each of
    its rows explodes into ``fanout`` probe keys) fits the byte cap
    (``tuning.broadcast_hint``), so the index never shuffles in the common
    small-query case; ``broadcast`` True/False overrides the estimate."""
    probe_keys = broadcast_hint(probe_keys, sized, fanout * PROBE_KEY_BYTES, broadcast)
    hits = probe_keys.join(index_keys, on).where(F.col("query_id") != F.col(neighbor))
    if n_collisions:
        return hits.groupBy("query_id", neighbor).agg(F.count("*").alias("n_collisions"))
    return hits.select("query_id", neighbor).distinct()


def top_k(
    scored: DataFrame,
    k: int,
    score: str,
    descending: bool,
    neighbor: str = "neighbor_id",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Per-query top-k window (W1, `lsh-py/src/dist.rs:26-52`): rank by
    ``score``, ties broken by ``neighbor`` ascending (pinned,
    deterministic).  Returns (query_id, <neighbor>, *carry, <score>,
    rank)."""
    order = F.col(score).desc() if descending else F.col(score).asc()
    w = Window.partitionBy("query_id").orderBy(order, F.col(neighbor).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", neighbor, *carry, score, "rank")
    )


def cosine_score() -> Column:
    """Exact cosine of the re-rank columns: dot/(qn*cn) is the identical
    double to ``cosine_sim`` (same fold, same sqrt, same multiply order)
    at 1/3 the interpreted fold work per pair."""
    return dot("qv", "cv") / (F.col("qn") * F.col("cn"))


def vector_rerank(
    candidates: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    score: Column,
    name: str,
    descending: bool,
    dim: int | None,
    broadcast: bool | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Exact re-rank of dense-vector candidates (query_id, neighbor_id,
    *carry) → per-query top-k of ``score`` named ``name``.

    ``score`` is written over the query and corpus vectors ``qv``/``cv``
    and their L2 norms ``qn``/``cn``.  The query side (``dim`` doubles
    plus an id per row) is broadcast when it fits the byte cap; with
    ``dim`` unknown (None) only ``broadcast=True`` hints it."""
    q_side = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        l2_norm(vec_col).alias("qn"),
    )
    if dim is not None or broadcast is not None:
        q_side = broadcast_hint(q_side, queries, vector_row_bytes(dim or 0), broadcast)
    scored = (
        candidates.join(q_side, "query_id")
        .join(
            corpus.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("cv"),
                l2_norm(vec_col).alias("cn"),
            ),
            "neighbor_id",
        )
        .withColumn(name, score)
    )
    return top_k(scored, k, name, descending, carry=carry)


def probe_buckets(
    query_sig: DataFrame,
    buckets: DataFrame,
    cfg: DedupConfig,
    broadcast_queries: bool | None = None,
    count_df: DataFrame | None = None,
) -> DataFrame:
    """(query_id, minhash) × bucket table → candidate (query_id, doc_id)
    with n_collisions (number of bands agreeing).

    ``broadcast_queries``: True/False force the probe-side broadcast hint
    on/off; None (default) decides by the estimated probe-key bytes
    (``probe_join``).  ``count_df``: cheaper same-cardinality frame to
    size for the decision (the raw query docs), so a count never executes
    the signing stage just to decide."""
    qb = explode_bands(
        query_sig.select(F.col("query_id").alias("doc_id"), "minhash"), cfg
    ).select("band_idx", "band_key", F.col("doc_id").alias("query_id"))
    return probe_join(
        qb, buckets, ["band_idx", "band_key"], cfg.bands,
        count_df if count_df is not None else query_sig, broadcast_queries,
        n_collisions=True,
    )


def candidate_bound(candidates: DataFrame, bound: int) -> DataFrame:
    """Per-query candidate cap before the exact re-rank.

    ≙ the reference's bounded take: candidates are truncated to
    ``QUERY_L_FACT_UPPER_BOUND * L`` before distance computation
    (`examples/reverse-img-search/src/query.rs:54-59`,
    `lsh-rs/src/constants.rs:7-9`; `bound` in `lsh-py/src/lib.rs:44-47`).
    Keep the most-promising candidates — highest n_collisions first,
    doc_id ascending for a pinned deterministic order — so one hot query
    colliding with a mega-bucket pays O(bound), not O(bucket).
    """
    return top_k(candidates, bound, "n_collisions", True, "doc_id").drop("rank")


def rerank_topk(
    candidates: DataFrame,
    query_sig: DataFrame,
    corpus_sig: DataFrame,
    k: int,
    cfg: DedupConfig,
    bound: int | None = None,
) -> DataFrame:
    """Exact-Jaccard re-rank + per-query top-k.

    Ties broken by doc_id ascending (pinned, deterministic).
    Returns (query_id, doc_id, n_collisions, jaccard, rank).
    ``bound`` (optional) pre-slices candidates per query before the exact
    re-rank — see ``candidate_bound``.
    """
    if bound is not None:
        candidates = candidate_bound(candidates, bound)
    qs = shingle_table(query_sig.select(F.col("query_id").alias("doc_id"), "shingles")) \
        .select(F.col("doc_id").alias("query_id"), "sid")
    cs = shingle_table(corpus_sig.select("doc_id", "shingles"))
    q_sizes = qs.groupBy("query_id").agg(F.count("*").alias("n_q"))
    c_sizes = cs.groupBy("doc_id").agg(F.count("*").alias("n_d"))
    inter = (
        candidates.join(qs, "query_id")
        .join(cs, ["doc_id", "sid"])
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").alias("n_common"))
    )
    scored = (
        candidates.join(inter, ["query_id", "doc_id"], "left")
        .na.fill({"n_common": 0})
        .join(q_sizes, "query_id")
        .join(c_sizes, "doc_id")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_q") + F.col("n_d") - F.col("n_common")),
        )
    )
    return top_k(scored, k, "jaccard", True, "doc_id", carry=("n_collisions",))


def knn(
    query_sig: DataFrame,
    corpus_sig: DataFrame,
    buckets: DataFrame,
    k: int,
    cfg: DedupConfig,
    bound: int | None = None,
    broadcast_queries: bool | None = None,
    count_df: DataFrame | None = None,
) -> DataFrame:
    """Full predict path: probe → union → re-rank → top-k."""
    cand = probe_buckets(
        query_sig, buckets, cfg,
        broadcast_queries=broadcast_queries, count_df=count_df,
    )
    return rerank_topk(cand, query_sig, corpus_sig, k, cfg, bound=bound)
