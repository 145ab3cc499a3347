"""Pure-NumPy kernel tests (no Spark) — reference-style assertions:
signature length == K, identical inputs → identical signatures
(`lsh-rs/src/hash.rs:305-332`), plus exact agreement between the batched
segment kernels and naive per-row computation, and the MinHash Jaccard
estimator's accuracy on planted sets."""

import hashlib

import numpy as np

from lsh_rs_spark.config import MERSENNE31
from lsh_rs_spark.functions.hashing import (
    md5_64_py,
    minhash_params,
    universal_hash_np,
)
from lsh_rs_spark.functions.minhash import minhash_exact_np, minhash_kernel
from lsh_rs_spark.functions.simhash import simhash_exact_py, simhash_kernel

P = MERSENNE31


def test_md5_64_py_matches_known():
    # same value the Spark/DuckDB expressions produce for 'hello'
    assert md5_64_py("hello") == 419982666956583591
    assert md5_64_py("hello") == int(hashlib.md5(b"hello").hexdigest()[:15], 16)


def test_minhash_params_deterministic():
    a1, b1 = minhash_params(16, 42)
    a2, b2 = minhash_params(16, 42)
    assert (a1 == a2).all() and (b1 == b2).all()
    a3, _ = minhash_params(16, 43)
    assert (a1 != a3).any()
    assert (a1 >= 1).all() and (a1 < P).all()
    assert (b1 >= 0).all() and (b1 < P).all()


def test_minhash_kernel_matches_naive():
    rng = np.random.default_rng(0)
    a, b = minhash_params(32, 7)
    sets = [rng.integers(0, 2**60, size=rng.integers(0, 40)) for _ in range(50)]
    lens = np.array([len(s) for s in sets])
    offsets = np.zeros(len(sets), dtype=np.int64)
    np.cumsum(lens[:-1], out=offsets[1:])
    flat = np.concatenate([s for s in sets if len(s)]) if lens.sum() else np.empty(0, np.int64)
    got = minhash_kernel(offsets, flat.astype(np.int64), a, b)
    want = minhash_exact_np([np.asarray(s) for s in sets], a, b)
    assert got.shape == (50, 32)
    assert (got == want).all()
    # empty sets → sentinel
    for i, s in enumerate(sets):
        if len(s) == 0:
            assert (got[i] == P).all()


def test_minhash_identical_sets_identical_sigs():
    a, b = minhash_params(16, 42)
    ids = np.array([3, 99, 12345, 3], dtype=np.int64)
    s1 = minhash_exact_np([ids], a, b)
    s2 = minhash_exact_np([np.unique(ids)], a, b)  # set semantics: dups no-op
    assert (s1 == s2).all()


def test_minhash_jaccard_estimator():
    # planted overlap: |A∩B|/|A∪B| = 0.8; estimator within ~3 sigma
    rng = np.random.default_rng(1)
    common = rng.integers(0, 2**60, size=800)
    a_only = rng.integers(0, 2**60, size=100)
    b_only = rng.integers(0, 2**60, size=100)
    A = np.concatenate([common, a_only])
    B = np.concatenate([common, b_only])
    k = 256
    a, b = minhash_params(k, 5)
    sigs = minhash_exact_np([A, B], a, b)
    est = (sigs[0] == sigs[1]).mean()
    true_j = 800 / 1000
    assert abs(est - true_j) < 3 * np.sqrt(true_j * (1 - true_j) / k)


def test_universal_hash_matches_sql_formula():
    ids = np.array([0, 1, P - 1, 2**60], dtype=np.int64)
    a = np.array([12345], dtype=np.int64)
    b = np.array([678], dtype=np.int64)
    got = universal_hash_np(ids, a, b)[:, 0]
    want = [((int(x) % P) * 12345 + 678) % P for x in ids]
    assert got.tolist() == want


def test_simhash_kernel_matches_naive():
    rng = np.random.default_rng(2)
    token_lists = [
        ["tok%d" % t for t in rng.integers(0, 50, size=rng.integers(0, 30))]
        for _ in range(40)
    ]
    n_bits = 32
    flat = []
    offsets = []
    pos = 0
    for toks in token_lists:
        offsets.append(pos)
        flat.extend(md5_64_py(t) for t in toks)
        pos += len(toks)
    got = simhash_kernel(
        np.array(offsets, dtype=np.int64), np.array(flat, dtype=np.int64), n_bits
    )
    for i, toks in enumerate(token_lists):
        assert got[i] == simhash_exact_py(toks, n_bits), i


def test_simhash_similar_docs_low_hamming():
    base = ["w%d" % i for i in range(200)]
    variant = base[:190] + ["x%d" % i for i in range(10)]
    other = ["y%d" % i for i in range(200)]
    h1 = simhash_exact_py(base, 48)
    h2 = simhash_exact_py(variant, 48)
    h3 = simhash_exact_py(other, 48)
    d12 = bin(h1 ^ h2).count("1")
    d13 = bin(h1 ^ h3).count("1")
    assert d12 < d13
    assert d12 <= 10


def test_oph_kernel_estimator_and_determinism():
    from lsh_rs_spark.functions.minhash import oph_kernel

    rng = np.random.default_rng(3)
    common = rng.integers(0, 2**60, size=800)
    A = np.concatenate([common, rng.integers(0, 2**60, size=200)])
    B = np.concatenate([common, rng.integers(0, 2**60, size=200)])
    offs = np.array([0, len(A)])
    flat = np.concatenate([A, B])
    k = 256
    s1 = oph_kernel(offs, flat, k, 123456789, 98765)
    s2 = oph_kernel(offs, flat, k, 123456789, 98765)
    assert (s1 == s2).all()
    true_j = 800 / 1200
    est = (s1[0] == s1[1]).mean()
    assert abs(est - true_j) < 4 * np.sqrt(true_j * (1 - true_j) / k)
    # identical sets → identical signatures, all bins filled or densified
    s3 = oph_kernel(np.array([0, len(A)]), np.concatenate([A, A]), k, 7, 9)
    assert (s3[0] == s3[1]).all()
    assert (s3[0] != P).all()


def test_oph_empty_and_sparse_rows():
    from lsh_rs_spark.functions.minhash import oph_kernel

    # row0 empty, row1 single element (densification fills every bin)
    out = oph_kernel(np.array([0, 0]), np.array([42]), 16, 3, 1)
    assert (out[0] == P).all()
    assert (out[1] != P).all()
    # the single filled bin's value appears with rotation offsets
    assert len(np.unique(out[1])) == 16


def test_signing_empty_input(spark):
    """The Arrow signing transports (MinHash ``arrow_udf`` column, SimHash
    ``mapInArrow``) are partition-safe on an input with no rows."""
    from pyspark.sql import functions as F

    from lsh_rs_spark.config import DedupConfig, SimHashConfig
    from lsh_rs_spark.operators.lsh import signatures
    from lsh_rs_spark.operators.simhash_ops import simhash_sketches
    from lsh_rs_spark.sources.webpages import synth_webpages, with_doc_ids

    empty = with_doc_ids(synth_webpages(spark, 20, partitions=2)).where(F.lit(False))
    for fam, mode in (("xxhash64", "oph"), ("md5_64", "kperm")):
        cfg = DedupConfig(num_perm=16, bands=4, rows_per_band=4,
                          hash_family=fam, minhash_mode=mode)
        assert signatures(empty, cfg).count() == 0
    assert simhash_sketches(empty, SimHashConfig(n_bits=32, bands=4)).count() == 0


def test_simhash_swar_kernel_matches_naive_reference():
    """The SWAR bit-parallel vote kernel (byte→lane spread + uint64
    sub-block reduceat) must reproduce the naive per-bit vote definition
    exactly — including empty rows, single-token rows, rows spanning many
    sub-blocks, and every n_bits width."""
    import numpy as np

    from lsh_rs_spark.functions.simhash import simhash_kernel

    def naive(offsets, flat, n_bits):
        n = offsets.shape[0]
        ends = np.append(offsets[1:], flat.shape[0])
        out = np.zeros(n, dtype=np.int64)
        for i in range(n):
            toks = flat[offsets[i]:ends[i]].astype(np.uint64)
            if not toks.shape[0]:
                continue
            v = 0
            for j in range(n_bits):
                votes = int((2 * ((toks >> np.uint64(j)) & np.uint64(1)).astype(np.int64) - 1).sum())
                if votes > 0:
                    v |= 1 << j
            # bit 63 set → wraps to the int64 sign bit, same as the
            # kernel's int64 weight vector
            out[i] = np.uint64(v).astype(np.int64)
        return out

    rng = np.random.default_rng(3)
    for trial in range(4):
        n_rows = 40
        lens = rng.integers(0, 60, n_rows)
        if trial == 1:
            lens[:] = 1
        if trial == 2:
            lens[:] = 0; lens[3] = 7
        if trial == 3:
            lens[0] = 1200  # spans several 200-token SWAR sub-blocks
        offsets = np.zeros(n_rows, dtype=np.int64)
        np.cumsum(lens[:-1], out=offsets[1:])
        flat = rng.integers(-2**63, 2**63 - 1, int(lens.sum()), dtype=np.int64)
        for n_bits in (1, 17, 32, 63, 64):
            got = simhash_kernel(offsets, flat, n_bits)
            want = naive(offsets, flat, n_bits)
            assert (got == want).all(), (trial, n_bits)


def test_oph_kernel_matches_naive_reference():
    """The pack-sort scatter-min + rotation-densification OPH kernel must
    equal a straightforward per-row implementation of Li/Owen/Zhang OPH
    with Shrivastava-Li rotation (value offset t*(P+1))."""
    import numpy as np

    from lsh_rs_spark.config import MERSENNE31 as P
    from lsh_rs_spark.functions.minhash import oph_kernel

    def naive(ids, k, a0, b0):
        out = [P] * k
        for s in ids:
            v = ((int(s) % P) * a0 + b0) % P
            b = min(max((v * k) >> 31, 0), k - 1)
            out[b] = min(out[b], v)
        filled = [x != P for x in out]
        if any(filled) and not all(filled):
            res = list(out)
            for j in range(k):
                if not filled[j]:
                    t = 1
                    while not filled[(j + t) % k]:
                        t += 1
                    res[j] = out[(j + t) % k] + t * (P + 1)
            out = res
        return out

    rng = np.random.default_rng(17)
    a0, b0 = 1103515245, 12345
    for trial, (n_rows, max_len) in enumerate([(50, 40), (30, 3), (20, 200)]):
        lens = rng.integers(0, max_len + 1, n_rows)
        offs = np.zeros(n_rows, dtype=np.int64)
        np.cumsum(lens[:-1], out=offs[1:])
        flat = rng.integers(-2**63, 2**63 - 1, int(lens.sum()), dtype=np.int64)
        for k in (8, 16, 64):
            got = oph_kernel(offs, flat, k, a0, b0)
            ends = np.append(offs[1:], flat.shape[0])
            for i in range(n_rows):
                want = naive(flat[offs[i]:ends[i]], k, a0, b0)
                assert got[i].tolist() == want, (trial, k, i)


def test_fixed_width_list_rejects_int32_offset_overflow():
    """advisor r4: n*k beyond INT32_MAX must raise, not wrap offsets.
    broadcast_to gives the huge logical shape without allocating."""
    import numpy as np
    import pytest

    from lsh_rs_spark.functions.arrow_batch import fixed_width_list

    huge = np.broadcast_to(np.zeros(1, dtype=np.int64), (2**28, 16))
    with pytest.raises(ValueError, match="int32"):
        fixed_width_list(huge)
