"""MIPS (maximum inner product search) operators — P3 + A5.

Reference lifecycle (`lsh-rs/src/hash.rs:137-237`, Python surface ``LshMips``
`lsh-py/src/lib.rs:440-485`): ``fit`` the max norm → ``tranform_put`` the
corpus into L2 hash tables → ``transform_query`` + probe → exact re-rank.

Spark shape: the fit is one agg (driver scalar, broadcast as literal); both
transforms are Column expressions (or one NumPy batch kernel on the
production path); bucket probing is the same band-key equi-join as every
other family; the exact re-rank scores the ORIGINAL vectors' inner product
so the asymmetric approximation never changes the final order.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import ArrayType, StringType

from lsh_rs_spark.config import MIPSConfig
from lsh_rs_spark.functions.l2 import l2_hash_batch, l2_hash_col, l2_params
from lsh_rs_spark.functions.mips import (
    inner_product_col,
    mips_fit,
    mips_transform_put_col,
    mips_transform_query_col,
)
from lsh_rs_spark.operators.topk import probe_join, top_k, vector_rerank


def make_mips_bands_udf(cfg: MIPSConfig, M: float, side: str, probes: int = 0):
    """Production path: transform + L2-hash one Arrow batch in NumPy.

    side='put' → tranform_put semantics; side='query' → transform_query.
    Returns ARRAY<STRING> of 'table:h1-h2-…' band keys (same contract as
    functions/l2.make_l2_bands_udf).  ``probes > 0`` additionally emits the
    ``probes`` xi²-ranked perturbation keys per table (Lv et al. M2 heap,
    `multi_probe.rs:301-378`) evaluated on the TRANSFORMED vector — the
    M2 × P3 composition; meaningful on the query side, but accepted for
    'put' too (store-side probing, the L2-store-dual applied to MIPS).
    """
    A, b = l2_params(cfg.n_tables, cfg.k_hash, cfg.hash_dim, cfg.r, cfg.seed)
    U, m, dim, r = cfg.U, cfg.m, cfg.dim, cfg.r
    n_tables = cfg.n_tables

    @F.pandas_udf(ArrayType(StringType()))
    def mips_bands(vecs: pd.Series) -> pd.Series:
        from lsh_rs_spark.functions.l2 import (
            query_directed_probes,
            xi_distances,
        )

        X = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        if side == "put":
            scaled = X / M * U
            ns = (scaled * scaled).sum(axis=1, keepdims=True)
            tail = np.concatenate(
                [ns ** i for i in range(1, m + 1)], axis=1
            )
        else:
            norms = np.sqrt((X * X).sum(axis=1, keepdims=True))
            scaled = X / norms
            tail = np.full((X.shape[0], m), 0.5)
        T = np.concatenate([scaled, tail], axis=1)
        H = l2_hash_batch(T, A, b, r)  # (n, L, K)
        out = []
        if probes == 0:
            for row in H:
                # same key text as l2_hash_col's concat_ws('-', t, parts)
                out.append(
                    [
                        "-".join([str(t)] + [str(int(x)) for x in row[t]])
                        for t in range(n_tables)
                    ]
                )
        else:
            xi_min, xi_plus = xi_distances(T, A, b, r)
            for i in range(T.shape[0]):
                keys = []
                for t in range(n_tables):
                    keys.append(
                        "-".join([str(t)] + [str(int(x)) for x in H[i, t]])
                    )
                    for pert in query_directed_probes(
                        xi_min[i, t], xi_plus[i, t], probes
                    ):
                        hh = H[i, t].copy()
                        for k_idx, delta in pert:
                            hh[k_idx] += delta
                        keys.append(
                            "-".join([str(t)] + [str(int(x)) for x in hh])
                        )
                out.append(list(dict.fromkeys(keys)))
        return pd.Series(out)

    return mips_bands


def mips_band_table(
    emb: DataFrame,
    cfg: MIPSConfig,
    M: float,
    side: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    id_alias: str = "vec_id",
    use_udf: bool = True,
    probes: int = 0,
) -> DataFrame:
    """(<id_alias>, band_key STRING) bucket table after the MIPS transform.

    use_udf=False → pure Column expressions (oracle-parity path; identical
    keys to the NumPy kernel — same doubles, same floor).  ``probes``
    (UDF path only) adds xi²-ranked perturbation keys per table; the
    Column-path probe enumeration lives in
    ``mips_multiprobe_candidates`` where it is built relationally."""
    if use_udf:
        keys = make_mips_bands_udf(cfg, M, side, probes)(vec_col)
        return emb.select(F.col(id_col).alias(id_alias), keys.alias("keys")).select(
            id_alias, F.explode("keys").alias("band_key")
        )
    if probes:
        raise ValueError(
            "probes>0 requires use_udf=True here; the Column-path probe "
            "enumeration is relational — use mips_multiprobe_candidates"
        )
    tv = (
        mips_transform_put_col(vec_col, M, cfg.U, cfg.m, cfg.dim)
        if side == "put"
        else mips_transform_query_col(vec_col, cfg.m, cfg.dim)
    )
    # Materialize the transformed vector behind a shuffle barrier before
    # hashing: without it every element_at() inside the hash fold re-derives
    # the whole transform expression (interpreted higher-order functions →
    # O(dim² · keys) per row).  One tiny shuffle vs ~100× eval blowup.
    base = emb.select(F.col(id_col).alias(id_alias), tv.alias("_tv")).repartition(
        F.col(id_alias)
    )
    keys = l2_hash_col("_tv", cfg.n_tables, cfg.k_hash, cfg.hash_dim, cfg.r, cfg.seed)
    return base.select(id_alias, keys.alias("keys")).select(
        id_alias, F.explode("keys").alias("band_key")
    )


def mips_topk(
    queries: DataFrame,
    corpus: DataFrame,
    cfg: MIPSConfig,
    k: int,
    M: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_udf: bool = True,
    broadcast_probes: bool | None = None,
    probes: int = 0,
) -> DataFrame:
    """Full MIPS predict: fit → asymmetric bucket probe → exact dot re-rank.

    Returns (query_id, neighbor_id, dot, rank).  The probe and re-rank
    query sides are broadcast by estimated bytes (``topk.probe_join`` /
    ``topk.vector_rerank``), else AQE plans the join — so the corpus
    bucket table never shuffles in the common small-query case and a
    corpus-scale query side cannot OOM executors.

    ``probes > 0`` (UDF path) enables query-directed multi-probe on the
    transformed query (M2 × P3 — same enumeration as
    ``mips_multiprobe_candidates``): the candidate pool grows
    monotonically, so re-ranked top-k can only move toward brute force.
    """
    if M is None:
        M = mips_fit(corpus, vec_col, cfg.dim)
    put = mips_band_table(corpus, cfg, M, "put", id_col, vec_col, "neighbor_id", use_udf)
    probe = mips_band_table(
        queries, cfg, M, "query", id_col, vec_col, "query_id", use_udf,
        probes=probes,
    )
    if use_udf:
        # production path: hash the 'table:h1-…' strings to 8-byte BIGINT
        # keys in the producing stage — the probe join never moves strings
        from lsh_rs_spark.functions.l2 import compact_band_keys

        put, probe = compact_band_keys(put), compact_band_keys(probe)
    cand = probe_join(
        probe, put, "band_key", cfg.n_tables * (1 + probes), queries,
        broadcast_probes, neighbor="neighbor_id",
    )
    return vector_rerank(
        cand, queries, corpus, k, inner_product_col("qv", "cv", cfg.dim), "dot",
        True, cfg.dim, broadcast_probes, id_col, vec_col,
    )


def _mips_probe_table_col(
    df: DataFrame,
    cfg: MIPSConfig,
    budget: int,
    id_col: str,
    vec_col: str,
    side: str = "query",
    M: float | None = None,
    id_alias: str = "query_id",
) -> DataFrame:
    """Column-path (oracle-parity) probe-key table for MIPS multiprobe:
    per vector, the base key of every table plus the ``budget``
    perturbation keys with smallest total xi², enumerated RELATIONALLY —
    all 3^k−1 delta vectors scored and window-ranked per (vector, table),
    mirroring the DuckDB twin statement for statement (same sequential
    folds → same doubles → same ranks; ties broken by delta ordinal in
    both engines).  side='query' perturbs the query transform (unit head
    + 0.5 tail); side='put' perturbs the store transform (needs ``M``) —
    the store-side dual."""
    from itertools import product

    A, b = l2_params(cfg.n_tables, cfg.k_hash, cfg.hash_dim, cfg.r, cfg.seed)
    k, r = cfg.k_hash, cfg.r
    tv = (
        mips_transform_query_col(vec_col, cfg.m, cfg.dim)
        if side == "query"
        else mips_transform_put_col(vec_col, M, cfg.U, cfg.m, cfg.dim)
    )
    # two shuffle barriers: materialize the transformed vector, then the
    # raw projections f — everything downstream is scalar arithmetic on f,
    # so Catalyst's projection collapse can't re-expand the O(dim) folds
    # (same trap documented on mips_band_table's column path)
    base = df.select(
        F.col(id_col).alias(id_alias), tv.alias("_tv")
    ).repartition(F.col(id_alias))
    proj_cols = []
    for t in range(cfg.n_tables):
        for kk in range(k):
            coeffs = F.lit([float(c) for c in A[t, kk]])
            terms = F.zip_with(coeffs, F.col("_tv"), lambda ca, x: ca * x.cast("double"))
            f = F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x) + F.lit(
                float(b[t, kk])
            )
            proj_cols.append(f.alias(f"f_{t}_{kk}"))
    qf = base.select(id_alias, *proj_cols).repartition(F.col(id_alias))
    derived = []
    for t in range(cfg.n_tables):
        for kk in range(k):
            f = F.col(f"f_{t}_{kk}")
            h = F.floor(f / F.lit(r)).cast("long")
            xim = f - F.floor(f / F.lit(r)) * F.lit(r)
            derived += [
                h.alias(f"h_{t}_{kk}"),
                xim.alias(f"xim_{t}_{kk}"),
                (F.lit(r) - xim).alias(f"xip_{t}_{kk}"),
            ]
    qx = qf.select(id_alias, *derived)

    frames = []
    for t in range(cfg.n_tables):
        key = F.concat_ws(
            "-",
            F.lit(str(t)),
            *[F.col(f"h_{t}_{kk}").cast("string") for kk in range(k)],
        )
        frames.append(qx.select(id_alias, key.alias("band_key")))
    base_keys = frames[0]
    for fr in frames[1:]:
        base_keys = base_keys.unionByName(fr)

    combos = [c for c in product((-1, 0, 1), repeat=k) if any(c)]
    deltas = df.sparkSession.createDataFrame(
        [(i, *c) for i, c in enumerate(combos)],
        ["did"] + [f"d{kk}" for kk in range(k)],
    )
    pert_frames = []
    for t in range(cfg.n_tables):
        score = F.lit(0.0)
        for kk in range(k):
            score = score + (
                F.when(
                    F.col(f"d{kk}") == -1,
                    F.col(f"xim_{t}_{kk}") * F.col(f"xim_{t}_{kk}"),
                )
                .when(
                    F.col(f"d{kk}") == 1,
                    F.col(f"xip_{t}_{kk}") * F.col(f"xip_{t}_{kk}"),
                )
                .otherwise(F.lit(0.0))
            )
        key = F.concat_ws(
            "-",
            F.lit(str(t)),
            *[
                (F.col(f"h_{t}_{kk}") + F.col(f"d{kk}")).cast("string")
                for kk in range(k)
            ],
        )
        pert_frames.append(
            qx.crossJoin(F.broadcast(deltas)).select(
                id_alias,
                F.lit(t).alias("tbl"),
                F.col("did"),
                score.alias("score"),
                key.alias("band_key"),
            )
        )
    sc = pert_frames[0]
    for fr in pert_frames[1:]:
        sc = sc.unionByName(fr)
    w = Window.partitionBy(id_alias, "tbl").orderBy(
        F.col("score").asc(), F.col("did").asc()
    )
    topb = (
        sc.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= budget)
        .select(id_alias, "band_key")
    )
    return base_keys.unionByName(topb)


def mips_multiprobe_candidates(
    queries: DataFrame,
    corpus: DataFrame,
    cfg: MIPSConfig,
    budget: int,
    M: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_udf: bool = True,
    broadcast_probes: bool | None = None,
) -> DataFrame:
    """Query-directed multiprobe for the MIPS family — the M2 × P3
    composition that completes probing symmetry across all four LSH
    families (SimHash bit flips, MinHash second-min substitution, L2
    xi²-ranked perturbations, and now MIPS via the SAME xi² machinery
    applied to the asymmetrically TRANSFORMED query vector).

    Reference seams: `hash.rs:194-208` (transform_query) composed with
    `multi_probe.rs:301-378` (query-directed probe enumeration) — the
    reference exposes both but never wires them together; this operator
    (and its DuckDB twin) does.

    The corpus stores one key per table (tranform_put path, identical to
    ``mips_topk``'s put side); the query emits its base keys plus the
    ``budget`` smallest-xi² perturbation keys per table, where xi is
    evaluated on the transformed query (unit head + 0.5 tail).  Returns
    DISTINCT (query_id, doc_id) bucket hits — feed to an exact
    inner-product re-rank exactly like ``mips_topk`` does.

    use_udf=True → NumPy heap enumeration (production); False → the
    relational Column-path enumeration twin-mirrored by
    ``oracle.q_mips_multiprobe_candidates`` (driver-gated).
    """
    if M is None:
        M = mips_fit(corpus, vec_col, cfg.dim)
    put = mips_band_table(
        corpus, cfg, M, "put", id_col, vec_col, "doc_id", use_udf
    )
    if use_udf:
        probe = mips_band_table(
            queries, cfg, M, "query", id_col, vec_col, "query_id", True,
            probes=budget,
        )
        from lsh_rs_spark.functions.l2 import compact_band_keys

        put, probe = compact_band_keys(put), compact_band_keys(probe)
    else:
        probe = _mips_probe_table_col(
            queries, cfg, budget, id_col, vec_col, side="query",
            id_alias="query_id",
        )
    return probe_join(
        probe, put, "band_key", cfg.n_tables * (1 + budget), queries,
        broadcast_probes,
    )


def mips_store_multiprobe_candidates(
    queries: DataFrame,
    corpus: DataFrame,
    cfg: MIPSConfig,
    budget: int,
    M: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_udf: bool = True,
    broadcast_probes: bool | None = None,
) -> DataFrame:
    """STORE-side multiprobe for the MIPS family — the roles-swapped dual
    of ``mips_multiprobe_candidates`` (and the MIPS analogue of
    ``l2_store_multiprobe_candidates``): the CORPUS emits, per table, its
    base key plus the ``budget`` xi²-ranked perturbation keys of the
    PUT-transformed stored vector ((1+budget)× index rows, paid once at
    index-build time); queries probe with base keys only.  Use it when
    queries vastly outnumber index builds; the query-side twin when the
    index is large and queries are scarce.  This completes store-side
    probing symmetry across the families (SimHash r5, L2 r6, MIPS r6).

    Driver-gated against oracle.q_mips_store_multiprobe_candidates (the
    all-3^k-subsets DuckDB ranking on the put transform, roles swapped).
    """
    if M is None:
        M = mips_fit(corpus, vec_col, cfg.dim)
    if use_udf:
        put = mips_band_table(
            corpus, cfg, M, "put", id_col, vec_col, "doc_id", True,
            probes=budget,
        )
        probe = mips_band_table(
            queries, cfg, M, "query", id_col, vec_col, "query_id", True
        )
        from lsh_rs_spark.functions.l2 import compact_band_keys

        put, probe = compact_band_keys(put), compact_band_keys(probe)
    else:
        put = _mips_probe_table_col(
            corpus, cfg, budget, id_col, vec_col, side="put", M=M,
            id_alias="doc_id",
        )
        probe = mips_band_table(
            queries, cfg, M, "query", id_col, vec_col, "query_id", False
        )
    return probe_join(probe, put, "band_key", cfg.n_tables, queries, broadcast_probes)


def mips_brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact max-inner-product top-k (the recall oracle for mips_topk)."""
    q = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        q.crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("dot", inner_product_col("qv", "cv", dim))
    )
    return top_k(scored, k, "dot", True)
