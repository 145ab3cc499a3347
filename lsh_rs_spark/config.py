"""Pinned pipeline configuration.

Mirrors the builder surface of the reference LSH wrapper
(`/root/reference/lsh-rs/src/lsh/lsh.rs:334-411`: ``LSH::new(n_projections,
n_hash_tables, dim).seed(..).minhash()/.srp()``) as a frozen dataclass.  The
reference derives every hash table's RNG from one root seed
(`lsh-rs/src/lsh/lsh.rs:108-118,193-204`); we do the same — all randomness is
generated **once on the driver** from ``seed`` and broadcast as literals, so
signatures are identical across partitionings, reruns, and cluster sizes.

Two hash families are supported for shingle ids:

* ``md5_64`` — first 60 bits of MD5, computable bit-identically in Spark SQL
  (``conv(substr(md5(s),1,15),16,10)``) and DuckDB
  (``('0x'||substr(md5(s),1,15))::BIGINT``).  Used wherever results must be
  oracle-checkable.
* ``xxhash64`` — Spark's built-in 64-bit xxHash, the fast production path.

Both feed the same universal-hash MinHash estimator, so the choice only
affects which concrete shingles map to which ids, not the semantics.
"""

from __future__ import annotations

from dataclasses import dataclass, field, asdict
import json

# 2^31 - 1, Mersenne prime. a*(s%P)+b stays < 2^62: no int64 overflow in
# NumPy, Spark, or DuckDB (DuckDB raises on BIGINT overflow, so this bound
# is load-bearing for oracle parity).
MERSENNE31 = (1 << 31) - 1

HASH_FAMILIES = ("md5_64", "xxhash64")
SHINGLE_MODES = ("word", "char")


@dataclass(frozen=True)
class DedupConfig:
    """MinHash-LSH near-duplicate detection configuration.

    ``num_perm`` is the reference's ``n_projections`` * ``n_hash_tables``
    reshaped: we band one length-(bands*rows_per_band) signature instead of
    keeping L physical tables (L == bands, K == rows_per_band; identical
    collision calculus, see SURVEY.md §2.11).
    """

    shingle_mode: str = "word"        # "word" n-grams or "char" n-grams
    shingle_size: int = 3             # n
    lowercase: bool = False           # normalization applied to the *derived*
                                      # shingle column only; `text` is never
                                      # rewritten (byte-identical per url)
    normalize: bool = False           # ROBUST normalization before shingling
                                      # (published webtext-dedup practice:
                                      # lowercase + non-alnum runs → one
                                      # space + trim), so case/punctuation
                                      # rewraps of the same prose dedup
                                      # together; derived shingles only,
                                      # `text` still never rewritten.
                                      # Implies lowercase.
    num_perm: int = 128               # total MinHash functions (b*r)
    bands: int = 16                   # b  (≡ reference n_hash_tables L)
    rows_per_band: int = 8            # r  (≡ reference n_projections K)
    seed: int = 42
    hash_family: str = "md5_64"
    minhash_mode: str = "kperm"       # "kperm": K independent universal
                                      # hashes (reference semantics,
                                      # lsh-rs/src/hash.rs:243-303);
                                      # "oph": one-permutation hashing with
                                      # rotation densification — O(shingles)
                                      # instead of O(shingles*K), the
                                      # web-scale production path
    jaccard_threshold: float = 0.7    # exact-verify threshold for edges
    max_bucket_size: int = 2000       # skew guard: buckets larger than this
                                      # are dropped (counted, never silent)
    cc_max_iters: int = 25
    cc_algorithm: str = "auto"        # "auto" (default): hash-min for a few
                                      # rounds, then large/small-star on the
                                      # label-contracted graph if not yet
                                      # converged — shallow graphs pay pure
                                      # hash-min cost, long boilerplate chains
                                      # finish in O(log n) rounds; "hashmin"/
                                      # "star" force one algorithm (identical
                                      # labels in every case)

    def __post_init__(self) -> None:
        if self.bands * self.rows_per_band != self.num_perm:
            raise ValueError(
                f"bands*rows_per_band ({self.bands}*{self.rows_per_band}) "
                f"!= num_perm ({self.num_perm})"
            )
        if self.hash_family not in HASH_FAMILIES:
            raise ValueError(f"hash_family must be one of {HASH_FAMILIES}")
        if self.shingle_mode not in SHINGLE_MODES:
            raise ValueError(f"shingle_mode must be one of {SHINGLE_MODES}")
        if self.minhash_mode not in ("kperm", "oph"):
            raise ValueError("minhash_mode must be 'kperm' or 'oph'")
        if self.cc_algorithm not in ("hashmin", "star", "auto"):
            raise ValueError("cc_algorithm must be 'hashmin', 'star' or 'auto'")

    @property
    def threshold_estimate(self) -> float:
        """S-curve threshold (1/b)^(1/r) — where collision prob crosses ~0.5."""
        return (1.0 / self.bands) ** (1.0 / self.rows_per_band)

    def to_json(self) -> str:
        return json.dumps(asdict(self), sort_keys=True)

    @classmethod
    def from_json(cls, s: str) -> "DedupConfig":
        return cls(**json.loads(s))


#: Small config used for the DuckDB-oracle-checked driver queries at sf0.01.
#: K=16, b=4, r=4 → S-curve threshold ≈ 0.71; the testdata's planted
#: near-dup pairs sit at Jaccard ≈ 0.95-0.99, so recall is ~1-2e-6 misses.
ORACLE_CONFIG = DedupConfig(
    shingle_mode="word",
    shingle_size=3,
    num_perm=16,
    bands=4,
    rows_per_band=4,
    seed=42,
    hash_family="md5_64",
    jaccard_threshold=0.7,
    max_bucket_size=1000,
)

#: Production default for the spark-submit pipeline (b=16, r=8 → t≈0.707).
#: xxhash64 shingle ids (JVM-fast) + OPH signatures (O(shingles) kernel).
PIPELINE_CONFIG = DedupConfig(hash_family="xxhash64", minhash_mode="oph")


@dataclass(frozen=True)
class SimHashConfig:
    """SimHash / SignRandomProjections configuration.

    Reference: `lsh-rs/src/hash.rs:34-69` draws k Gaussian hyperplanes and
    keeps sign bits.  For text we use the classic Charikar construction:
    each token's 64-bit hash contributes its bits as ±1 votes; the sign of
    each bit-position sum is the sketch bit.  For dense vectors (SRP over
    embeddings) we use Rademacher (±1) hyperplanes derived from the same
    md5 family — a valid sign-random-projection per the LSH literature and
    SQL-expressible for the oracle.
    """

    n_bits: int = 32                  # sketch width (oracle path; prod 64)
    bands: int = 4                    # bands over the sketch for candidate gen
    hamming_threshold: int = 3        # max Hamming distance for a dup edge
    seed: int = 42
    hash_family: str = "md5_64"

    def __post_init__(self) -> None:
        if self.n_bits % self.bands != 0:
            raise ValueError("n_bits must be divisible by bands")
        if not (0 < self.n_bits <= 63):
            raise ValueError("n_bits must be in (0, 63] (sketches are signed int64)")

    @property
    def bits_per_band(self) -> int:
        return self.n_bits // self.bands


ORACLE_SIMHASH = SimHashConfig(n_bits=32, bands=4, hamming_threshold=3)


@dataclass(frozen=True)
class SRPConfig:
    """Sign-random-projection config for dense embeddings (cosine family)."""

    n_bits: int = 16
    bands: int = 4
    dim: int = 64
    seed: int = 42

    @property
    def bits_per_band(self) -> int:
        return self.n_bits // self.bands


ORACLE_SRP = SRPConfig()


@dataclass(frozen=True)
class MIPSConfig:
    """Maximum-inner-product-search config (ALSH transform + L2 family).

    Mirrors the reference's ``MIPS::new(dim, r, U, m, n_projections, seed)``
    (`lsh-rs/src/hash.rs:152-161`): the L2 hasher operates on dim+m after
    the asymmetric transform.  ``U`` shrinks stored norms below 1 so the
    appended ``norm_sq^i`` terms vanish geometrically.
    """

    dim: int = 64
    U: float = 0.83
    m: int = 3
    n_tables: int = 2                 # L2 hash tables (L)
    k_hash: int = 4                   # projections per table (K)
    r: float = 4.0                    # p-stable bucket width
    seed: int = 42

    @property
    def hash_dim(self) -> int:
        return self.dim + self.m


ORACLE_MIPS = MIPSConfig()
