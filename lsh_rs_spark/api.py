"""Public fit/predict API — the floky (lsh-py) surface, DataFrame-shaped.

Reference: `lsh-py/floky/__init__.py` exposes ``LshL2(n_projections,
n_hash_tables, dim, seed).fit(X)`` / ``.predict(x, top_k)`` returning
``QueryResult(index, vectors, n_collisions, distances)``; plus ``LshSrp``.
Here ``fit`` signs a corpus DataFrame and materializes the bucket state
(optionally through a StageStore checkpoint — the `SqlTable` durability
analogue); ``predict`` runs probe → union → exact re-rank → top-k and
returns a DataFrame with the QueryResult columns:

    (query_id, neighbor_id, n_collisions, distance, rank)

A user of the reference maps:  fit(X) → fit(df); predict(x, k) →
predict(queries_df, k); QueryResult lists → one row per (query, neighbor).
``predict(..., with_vectors=True)`` additionally materializes the
neighbor's payload (embedding vector, or document text for the MinHash
family) — the reference ``QueryResult.vectors`` field
(`lsh-py/floky/__init__.py:9-11,235-250`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from lsh_rs_spark.config import DedupConfig, SimHashConfig, SRPConfig
from lsh_rs_spark.operators import ann as ANN
from lsh_rs_spark.operators import l2_lsh as L2OP
from lsh_rs_spark.operators import lsh as L
from lsh_rs_spark.operators import simhash_ops as SH
from lsh_rs_spark.operators import topk as TK
from lsh_rs_spark.operators.components import (
    connected_components_auto,
    dedup_representatives,
    with_singletons,
)
from lsh_rs_spark.plans.pipeline import MemoryStages, dedup_chain


def _attach_payload(
    res: DataFrame, corpus: DataFrame, id_col: str, payload_col: str, alias: str
) -> DataFrame:
    """Join the neighbor's stored payload back onto a predict result —
    ``QueryResult.vectors`` materialization (S8 join-back packaged into the
    API return).  Left join: a neighbor always exists in the fitted corpus,
    but never silently drop a result row if a caller filtered it.

    Contract: ``id_col`` must be unique in the fitted corpus (the reference
    stores one vector per index slot, `lsh-rs/src/table/mem.rs`).  A
    duplicate id would fan predict rows out and duplicate rank values, so
    the payload side is defensively deduped — a no-op shuffle-wise under
    the contract (the agg reuses the join's hash partitioning on
    neighbor_id) and a deterministic pick (min payload) otherwise."""
    payload = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(payload_col).alias(alias)
        )
        .groupBy("neighbor_id")
        .agg(F.min(alias).alias(alias))
    )
    return res.join(payload, "neighbor_id", "left").select(*res.columns, alias)


class MinHashLSH:
    """Jaccard family over text documents (≙ MinHash path of the reference,
    `lsh-rs/src/hash.rs:243-303`, surfaced via our DedupConfig)."""

    def __init__(self, cfg: DedupConfig | None = None):
        self.cfg = cfg or DedupConfig()
        self._sig: DataFrame | None = None
        self._buckets: DataFrame | None = None

    def fit(self, docs: DataFrame, id_col: str = "doc_id") -> "MinHashLSH":
        self._docs = docs
        self._docs_id = id_col
        self._sig = L.signatures(docs, self.cfg, id_col=id_col).persist()
        self._buckets = L.explode_bands(self._sig, self.cfg).persist()
        return self

    @property
    def signatures(self) -> DataFrame:
        if self._sig is None:
            raise RuntimeError("call fit() first")
        return self._sig

    def predict(
        self, queries: DataFrame, top_k: int = 5, id_col: str = "doc_id",
        with_vectors: bool = False,
    ) -> DataFrame:
        """(query_id, neighbor_id, n_collisions, distance, rank[, text]);
        distance = 1 - exact Jaccard (a proper metric for the family).
        ``with_vectors=True`` appends the neighbor document's ``text`` — the
        family's payload analogue of ``QueryResult.vectors``."""
        qsig = L.signatures(queries, self.cfg, id_col=id_col).withColumnRenamed(
            "doc_id", "query_id"
        )
        # broadcast decision counts the RAW query docs (not qsig) so the
        # signing stage runs once; the count itself is memoized in topk.
        res = TK.knn(
            qsig, self.signatures, self._buckets, top_k, self.cfg,
            count_df=queries,
        )
        res = res.select(
            "query_id",
            F.col("doc_id").alias("neighbor_id"),
            "n_collisions",
            (1.0 - F.col("jaccard")).alias("distance"),
            "rank",
        )
        if with_vectors:
            res = _attach_payload(res, self._docs, self._docs_id, "text", "text")
        return res

    def dedup(self, docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
        """Full clustering: (doc_id, cluster_id, is_representative) — the
        production chain (``plans.pipeline.dedup_chain``, exact prededup
        included) checkpointed in memory.  Independent of ``fit``: the
        fitted signatures/buckets are neither used nor replaced."""
        stages = MemoryStages()
        try:
            return dedup_chain(
                docs.select(F.col(id_col).alias("doc_id"), "text"), self.cfg, stages
            )
        finally:
            # the keep list's lineage reads only checkpointed stages and docs
            stages.release()

    def bucket_stats(self) -> DataFrame:
        if self._buckets is None:
            raise RuntimeError("call fit() first")
        return L.bucket_stats(self._buckets)


class SimHashLSH:
    """Cosine/Hamming family over text (≙ SignRandomProjections,
    `lsh-rs/src/hash.rs:34-69`, Charikar token-vote construction)."""

    def __init__(self, cfg: SimHashConfig | None = None):
        self.cfg = cfg or SimHashConfig()
        self._sketches: DataFrame | None = None

    def fit(self, docs: DataFrame, id_col: str = "doc_id") -> "SimHashLSH":
        self._sketches = SH.simhash_sketches(docs, self.cfg, id_col=id_col).persist()
        return self

    def near_dup_pairs(self, probe_budget: int = 0) -> DataFrame:
        """Fused pairing (Hamming-filtered in-row before any shuffle).
        ``probe_budget`` > 0 adds store-side single-bit-flip probing — a
        recall lever for thresholds beyond the banding pigeonhole — at
        (1+budget)× index-exchange cost, no re-banding."""
        if self._sketches is None:
            raise RuntimeError("call fit() first")
        if probe_budget:
            return SH.simhash_multiprobe_pairs_from_sketches(
                self._sketches, self.cfg, probe_budget
            )
        return SH.simhash_pairs_from_sketches(self._sketches, self.cfg)

    def dedup(self, docs: DataFrame, id_col: str = "doc_id",
              cc_max_iters: int = 25) -> DataFrame:
        """Full clustering on the Hamming family:
        (doc_id, cluster_id, is_representative) — same output contract as
        MinHashLSH.dedup, so the two families are drop-in replacements."""
        self.fit(docs, id_col=id_col)
        edges = self.near_dup_pairs()
        comps = connected_components_auto(edges, cc_max_iters)
        return dedup_representatives(with_singletons(comps, self._sketches))


class SrpLSH:
    """Cosine family over dense embeddings (≙ `LshSrp`,
    `lsh-py/src/lib.rs:370-400`)."""

    def __init__(self, cfg: SRPConfig | None = None):
        self.cfg = cfg or SRPConfig()
        self._corpus: DataFrame | None = None

    def fit(self, emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> "SrpLSH":
        self._corpus = emb
        self._id, self._vec = id_col, vec_col
        return self

    def predict(self, queries: DataFrame, top_k: int = 5,
                with_vectors: bool = False) -> DataFrame:
        """(query_id, neighbor_id, distance, rank[, vector]);
        distance = 1 - cosine."""
        res = ANN.ann_topk(
            queries, self._corpus, self.cfg, top_k, self._id, self._vec
        )
        res = res.select(
            "query_id", "neighbor_id", (1.0 - F.col("cos")).alias("distance"), "rank"
        )
        if with_vectors:
            res = _attach_payload(res, self._corpus, self._id, self._vec, "vector")
        return res


class MipsLSH:
    """Maximum-inner-product family (≙ `LshMips`,
    `lsh-py/src/lib.rs:440-485`; transform `lsh-rs/src/hash.rs:137-237`).

    ``fit`` learns the max-norm M from the corpus (reference ``fit``,
    `hash.rs:163-173`) and indexes the asymmetric put-transformed vectors;
    ``predict`` probes with the query transform and re-ranks candidates by
    exact inner product."""

    def __init__(self, cfg=None):
        from lsh_rs_spark.config import MIPSConfig

        self.cfg = cfg or MIPSConfig()
        self._corpus: DataFrame | None = None
        self.M: float | None = None

    def fit(self, emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> "MipsLSH":
        from lsh_rs_spark.functions.mips import mips_fit

        self._corpus = emb
        self._id, self._vec = id_col, vec_col
        self.M = mips_fit(emb, vec_col, self.cfg.dim)
        return self

    def predict(self, queries: DataFrame, top_k: int = 5,
                with_vectors: bool = False, probes: int = 0) -> DataFrame:
        """(query_id, neighbor_id, distance, rank[, vector]); distance =
        -dot so that smaller = better, consistent with the other families.
        probes>0 enables query-directed multi-probe on the transformed
        query (M2 × P3) — the M3 dispatch knob, same as L2LSH.predict."""
        from lsh_rs_spark.operators.mips_ops import mips_topk

        if self.M is None:
            raise RuntimeError("call fit() first")
        res = mips_topk(
            queries, self._corpus, self.cfg, top_k, self.M, self._id,
            self._vec, probes=probes,
        )
        res = res.select(
            "query_id", "neighbor_id", (-F.col("dot")).alias("distance"), "rank"
        )
        if with_vectors:
            res = _attach_payload(res, self._corpus, self._id, self._vec, "vector")
        return res


class L2LSH:
    """Euclidean family (≙ `LshL2`, `lsh-py/src/lib.rs:325-368`)."""

    def __init__(self, n_projections: int, n_hash_tables: int, dim: int,
                 r: float = 4.0, seed: int = 42):
        self.k = n_projections
        self.L = n_hash_tables
        self.dim = dim
        self.r = r
        self.seed = seed
        self._corpus: DataFrame | None = None

    def fit(self, emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> "L2LSH":
        self._corpus = emb
        self._id, self._vec = id_col, vec_col
        return self

    def predict(self, queries: DataFrame, top_k: int = 5, probes: int = 0,
                with_vectors: bool = False) -> DataFrame:
        """(query_id, neighbor_id, n_collisions, distance, rank[, vector]);
        probes>0 enables query-directed multi-probe (M2)."""
        res = L2OP.l2_knn(
            queries, self._corpus, self.L, self.k, self.dim, self.r,
            self.seed, top_k, probes, self._id, self._vec,
        ).withColumnRenamed("dist", "distance")
        if with_vectors:
            res = _attach_payload(res, self._corpus, self._id, self._vec, "vector")
        return res
