"""MinHash signer: batched NumPy kernel inside an Arrow-native UDF.

Reference semantics: `MinHash::hash_vec_query` (`lsh-rs/src/hash.rs:243-303`)
computes, per hash function j, the minimum of a random permutation over the
positions present in the indicator vector.  At web scale we use the
equivalent universal-hash form min_j((a_j*x + b_j) mod P) over 64-bit
shingle ids — the same Jaccard estimator (Broder 1997) without a
dim-bounded permutation array.

Execution contract (input_hint): **no per-row Python** — the kernel is
vectorized over the whole Arrow batch via a single flattened matrix multiply
+ ``np.minimum.reduceat`` segment reduction, chunked so the intermediate
(h_chunk × num_perm int64) stays ~64 MB.  One transport: Spark 4.1's
``arrow_udf`` hands the kernel the shingle ListArray buffers zero-copy.

The arithmetic is exact int64, identical to the SQL form
``MIN(((sid % P) * a_j + b_j) % P)`` — so the UDF path is byte-identical to
a declarative explode/groupBy plan and to the DuckDB oracle.  The
declarative variant (`minhash_long_sql` et al.) is used by driver oracle
queries; the UDF is the production path (no K× row blowup).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql.types import ArrayType, LongType

from lsh_rs_spark.config import DedupConfig, MERSENNE31
from lsh_rs_spark.functions.hashing import minhash_params

P = MERSENNE31
_CHUNK_ELEMS = 8_000_000  # shingles*num_perm int64 per kernel chunk (~64 MB)


def minhash_kernel(
    offsets: np.ndarray, flat_ids: np.ndarray, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """Segmented MinHash: rows defined by `offsets` into `flat_ids`.

    offsets: (n_rows,) start index of each row's shingle ids (row i spans
    offsets[i]..offsets[i+1], last row to end). Returns (n_rows, k) int64.
    Empty rows get the sentinel P (max hash value).
    """
    k = a.shape[0]
    n = offsets.shape[0]
    out = np.full((n, k), P, dtype=np.int64)
    if flat_ids.shape[0] == 0:
        return out
    ends = np.append(offsets[1:], flat_ids.shape[0])
    nonempty = np.nonzero(ends > offsets)[0]
    if nonempty.shape[0] == 0:
        return out
    # chunk over rows so (chunk_shingles, k) stays bounded
    rows_per_chunk = max(1, _CHUNK_ELEMS // (k * max(1, int(np.mean(ends - offsets) + 1))))
    mod_ids = flat_ids.astype(np.int64) % P
    for lo in range(0, nonempty.shape[0], rows_per_chunk):
        rows = nonempty[lo : lo + rows_per_chunk]
        s, e = offsets[rows[0]], ends[rows[-1]]
        seg = mod_ids[s:e]
        h = (seg[:, None] * a[None, :] + b[None, :]) % P  # (m, k)
        # reduceat needs strictly in-bounds, sorted segment starts
        starts = offsets[rows] - s
        mins = np.minimum.reduceat(h, starts, axis=0)
        # reduceat merges adjacent equal starts only when a row is empty —
        # excluded above — but rows with gaps (empty rows between nonempty
        # ones) shift segments; handle by computing on nonempty rows only.
        out[rows] = mins
    return out


def _mod_mersenne(x: np.ndarray) -> np.ndarray:
    """x mod (2^31-1) for 0 <= x < 2^62 via shift-add folding (no division)."""
    np.add(x & P, x >> 31, out=x)
    np.add(x & P, x >> 31, out=x)
    x -= (x >= P) * P
    return x


def oph_kernel(
    offsets: np.ndarray,
    flat_ids: np.ndarray,
    k: int,
    a0: int,
    b0: int,
) -> np.ndarray:
    """One-permutation MinHash (Li, Owen, Zhang 2012) with rotation
    densification (Shrivastava & Li 2014).

    One universal hash per shingle: v = (a0*(s%P)+b0) mod P permutes the
    universe; bins are the k equal ranges of [0, P): bin = v*k // P; the
    signature is the min v per bin; empty bins borrow circularly from the
    next filled bin at distance t, offset by t (the densification paper's
    collision-avoidance shift).  O(shingles) work — the production kernel.
    Empty rows → all-P sentinel signature.
    """
    n = offsets.shape[0]
    out = np.full((n, k), P, dtype=np.int64)
    m = flat_ids.shape[0]
    if m == 0:
        return out
    v = flat_ids.astype(np.int64) % P
    v *= a0
    v += b0
    _mod_mersenne(v)
    bins = (v * k) >> 31  # v*k // 2^31 ≈ range partition (v < 2^31)
    np.clip(bins, 0, k - 1, out=bins)
    lens = np.diff(np.append(offsets, m))
    row = np.repeat(np.arange(n, dtype=np.int64), lens)
    if n * k < (1 << 32):
        # scatter-min via pack+sort: np.minimum.at is an unbuffered ufunc
        # (~10× slower than a sort at this size).  Pack (row*k+bin) into the
        # high 32 bits and v (< 2^31) into the low 31; after an ascending
        # sort the first element of each key group IS the per-(row,bin) min.
        packed = ((row * k + bins) << 31) | v
        packed.sort()
        keys = packed >> 31
        first = np.ones(keys.shape[0], dtype=bool)
        np.not_equal(keys[1:], keys[:-1], out=first[1:])
        sel = packed[first]
        out.reshape(-1)[sel >> 31] = sel & P
    else:  # huge batch fallback (n*k keys would overflow the 32-bit pack)
        np.minimum.at(out, (row, bins), v)
    # rotation densification: empty bin j ← nearest filled bin j+t (mod k),
    # value offset by +t*C with C > P (Shrivastava & Li 2014's
    # collision-avoiding constant: borrowed values can never equal a
    # genuinely filled bin's hash in another signature).  Vectorized as a
    # single reverse minimum.accumulate over a doubled bin axis.
    filled = out != P
    empty_rows = ~filled.all(axis=1) & filled.any(axis=1)
    if empty_rows.any():
        sub = out[empty_rows]                       # (e, k)
        subf = filled[empty_rows]
        col2 = np.tile(np.arange(2 * k, dtype=np.int64), (sub.shape[0], 1))
        filled2 = np.concatenate([subf, subf], axis=1)
        cand = np.where(filled2, col2, np.int64(4 * k))
        # nxt[j] = smallest j' >= j with filled2[j']
        nxt = np.flip(np.minimum.accumulate(np.flip(cand, axis=1), axis=1), axis=1)
        nxt_k = nxt[:, :k]                          # for j in [0,k): j' in [j, j+k)
        t = nxt_k - np.arange(k, dtype=np.int64)[None, :]
        vals2 = np.concatenate([sub, sub], axis=1)
        borrowed = np.take_along_axis(vals2, nxt_k, axis=1) + t * (P + 1)
        out[empty_rows] = np.where(subf, sub, borrowed)
    return out


def make_minhash_udf(cfg: DedupConfig):
    """Vectorized UDF: ARRAY<BIGINT> shingle ids → ARRAY<BIGINT>
    signature(num_perm).

    Dispatches on cfg.minhash_mode: 'kperm' (reference semantics, exact
    SQL-oracle parity) or 'oph' (production, O(shingles)).

    Transport (round-7): an **Arrow-native UDF** (Spark 4.1 ``arrow_udf``)
    — the kernel reads the ListArray offsets/values buffers zero-copy and
    returns a ListArray built from the (n, k) signature matrix in one
    shot, with no per-row ndarray on the way in or out.  It replaced the
    pandas UDF transport at bit-identical signatures (checksum-verified at
    56k pages, OPTIMIZATION_r07.md: warm median 1.37 s vs 1.67-1.9 s, and
    a far tighter spread — the pandas path's per-row object churn was
    GC-noisy)."""
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf

    from lsh_rs_spark.functions.arrow_batch import fixed_width_list, list_segments

    a, b = minhash_params(cfg.num_perm, cfg.seed)
    a0, b0 = int(a[0]), int(b[0])
    mode = cfg.minhash_mode
    k = cfg.num_perm

    def _mh_arrow(sids):
        if isinstance(sids, pa.ChunkedArray):
            sids = sids.combine_chunks()
        starts, flat = list_segments(sids)
        if mode == "oph":
            sig = oph_kernel(starts, flat, k, a0, b0)
        else:
            sig = minhash_kernel(starts, flat, a, b)
        return fixed_width_list(sig)

    # the module-level `from __future__ import annotations` stringifies
    # signature hints, which arrow_udf's eval-type inference rejects —
    # attach real type objects instead
    _mh_arrow.__annotations__ = {"sids": pa.Array, "return": pa.Array}
    return arrow_udf(_mh_arrow, ArrayType(LongType()))


def minhash_exact_np(id_sets: list[np.ndarray], a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Oracle-side helper (tests): per-set MinHash, plain loop. (n, k)."""
    out = np.full((len(id_sets), a.shape[0]), P, dtype=np.int64)
    for i, ids in enumerate(id_sets):
        if len(ids):
            h = (np.asarray(ids, dtype=np.int64)[:, None] % P * a[None, :] + b[None, :]) % P
            out[i] = h.min(axis=0)
    return out


# ---------------------------------------------------------------------------
# Declarative (SQL-parity) form — used by the DuckDB-checked driver queries.
# ---------------------------------------------------------------------------

def hash_params_values_sql(cfg: DedupConfig) -> str:
    """VALUES relation (j, a, b) with the driver-generated coefficients —
    valid in both Spark SQL and DuckDB."""
    a, b = minhash_params(cfg.num_perm, cfg.seed)
    rows = ", ".join(f"({j}, {int(a[j])}, {int(b[j])})" for j in range(cfg.num_perm))
    return f"(VALUES {rows}) AS hp(j, a, b)"


def minhash_long_sql(cfg: DedupConfig, shingle_rel: str) -> str:
    """SQL body: (doc_id, j, h) minhash values in long format.

    ``shingle_rel`` exposes (doc_id, sid) distinct shingle ids.
    Identical text runs in Spark SQL and DuckDB.
    """
    return f"""
SELECT s.doc_id, hp.j, MIN(((s.sid % {P}) * hp.a + hp.b) % {P}) AS h
FROM {shingle_rel} s CROSS JOIN {hash_params_values_sql(cfg)}
GROUP BY s.doc_id, hp.j
""".strip()
