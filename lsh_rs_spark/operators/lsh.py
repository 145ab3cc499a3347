"""Core LSH dataflow operators: signatures → bands → buckets → candidates.

Spark translation of the reference's hash-table machinery:

* band explosion ≙ storing into L hash tables (`lsh-rs/src/lsh/lsh.rs:265-274`
  outer loop over hashers); `band_idx` ≙ ``table_idx``, `band_key` ≙ the
  serialized K-length hash (`lsh-rs/src/table/sqlite.rs:13-21` blob key).
* bucket construction ≙ `HashTables::put` grouping ids by identical hash
  (`lsh-rs/src/table/mem.rs:69-74`).
* candidate pairing ≙ the implicit "ids sharing a bucket collide" semantics
  of `query_bucket` (`lsh-rs/src/table/mem.rs:139-145`) turned into a
  within-bucket self-join with canonical ``src < dst`` order.
* bucket_stats ≙ `describe` (`lsh-rs/src/table/mem.rs:156-197`, SQLite
  variant `sqlite.rs:284-321`) — our skew monitor.

Skew policy (north rule: explicit, never silent): buckets larger than
``max_bucket_size`` are *dropped before pairing* and surfaced through
``bucket_stats``/``dropped_buckets`` counters.  O(m²) pair blowup inside a
hot bucket (boilerplate pages, empty text) is the one failure mode AQE
cannot fix; capping + the exact-verify stage keeps recall loss measurable.
At 100 TB the bucket table is additionally salted by ``pmod(band_key, S)``
purely for write parallelism — the join keys stay (band_idx, band_key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, Window

from lsh_rs_spark.config import DedupConfig
from lsh_rs_spark.functions.minhash import make_minhash_udf
from lsh_rs_spark.functions.shingles import shingle_ids_col


def signatures(
    docs: DataFrame, cfg: DedupConfig, id_col: str = "doc_id"
) -> DataFrame:
    """docs(id, text) → (id, shingles ARRAY<BIGINT>, minhash ARRAY<BIGINT>).

    Production path: shingling/hashing JVM-side, MinHash in one Arrow kernel.

    Transport: one Arrow-native UDF column (``make_minhash_udf``) — the
    shingle arrays cross into Python ONE way and only the signature comes
    back; doc_id and the shingles stay JVM-side.  A ``mapInArrow`` body
    would round-trip doc_id+shingles through the Python worker to emit
    them again (measured slower in the dedup chain, BASELINE.md round 4).
    Contrast simhash_sketches, where mapInArrow IS the transport because
    its output drops the token-hash column entirely."""
    from lsh_rs_spark.tuning import scan_parallelism_boost

    # a one-file parquet corpus scans as ONE task and the whole
    # shingle+sign stage then runs serially — spread narrow file-backed
    # inputs across the cores first (no-op for wide/in-memory inputs)
    docs = scan_parallelism_boost(docs, id_col)
    if cfg.hash_family == "xxhash64" and cfg.shingle_mode == "word":
        # production fast path: per-word hash + fixed-width gram combine —
        # no n-gram strings materialized (~8× on the shingle stage); the
        # md5_64 oracle family keeps the string-gram builder, which the
        # DuckDB twins replicate exactly
        from lsh_rs_spark.functions.shingles import word_hash_shingle_ids

        sh = word_hash_shingle_ids(docs, cfg, id_col)
    else:
        sh = docs.where(F.col("text").isNotNull()).select(
            F.col(id_col).alias("doc_id"),
            shingle_ids_col(cfg).alias("shingles"),
        )
    return sh.withColumn("minhash", make_minhash_udf(cfg)("shingles"))


def explode_bands(sig: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(doc_id, minhash) → long (band_idx, band_key, doc_id).

    Oracle family (md5_64): band_key is the '-'-joined slice of r minhash
    values — the Spark equivalent of the reference's serialized hash blob
    key, and exactly what the DuckDB twins compute.

    Production family (xxhash64): band_key is ``xxhash64(slice)`` — an
    8-byte long instead of an ~88-char string.  The key only ever feeds
    equality grouping/joins, so hashing it preserves semantics up to
    64-bit collisions, and a collision merely merges two buckets whose
    spurious candidate pairs the exact-verify stage then rejects — recall
    can only go up.  At scale this cuts the pairing-shuffle key bytes
    ~10×, which is the dominant shuffle of the whole pipeline.
    """
    r = cfg.rows_per_band
    if cfg.hash_family == "xxhash64":
        def key(bi):
            # element refs, not slice(): a STATIC xxhash64 over r scalar
            # element_at's stays inside whole-stage codegen, where the
            # former slice() allocated an r-array per band per row
            return F.xxhash64(
                *[F.element_at("minhash", bi * r + 1 + j) for j in range(r)]
            )
    else:
        def key(bi):
            return F.concat_ws(
                "-",
                *[
                    F.element_at("minhash", bi * r + 1 + j).cast("string")
                    for j in range(r)
                ],
            )
    # static array of per-band structs instead of transform(sequence(...)):
    # higher-order functions are interpreted per element in Spark, and this
    # stage's lambda overhead was ~36 s CPU at 56k pages (round-7 event
    # log); the unrolled form whole-stage-codegens.  Same values, same
    # band order → identical bucket table.
    bands = F.array(
        *[
            F.struct(
                F.lit(bi).cast("int").alias("band_idx"),
                key(bi).alias("band_key"),
            )
            for bi in range(cfg.bands)
        ]
    )
    return (
        sig.select("doc_id", F.explode(bands).alias("b"))
        .select("b.band_idx", "b.band_key", "doc_id")
    )


def bucket_sizes(buckets: DataFrame) -> DataFrame:
    return buckets.groupBy("band_idx", "band_key").agg(
        F.count("*").alias("bucket_size")
    )


def bucket_stats(buckets: DataFrame) -> DataFrame:
    """`describe` analogue (A3): per band, bucket-count / avg / std / min /
    max / skew feed.

    Full reference parity (`lsh-rs/src/table/mem.rs:156-197`;
    `sqlite.rs:284-321`): avg + population std-dev + min + max of bucket
    sizes.  The std-dev is computed exactly like the reference's SQL variant
    — ``sqrt(avg(c*c) - avg(c)*avg(c))`` — which is also the expression the
    DuckDB oracle runs, so the doubles match bit-for-bit (sums of ints are
    exact, the divisions/products/sqrt are IEEE-deterministic); rounded to
    9 decimals on both sides as ulp insurance.  The std-dev is the skew
    signal the tuning loop consumes (tuning.describe_cost)."""
    c = F.col("bucket_size")
    return (
        bucket_sizes(buckets)
        .groupBy("band_idx")
        .agg(
            F.count("*").alias("n_buckets"),
            F.sum("bucket_size").alias("n_entries"),
            F.avg("bucket_size").alias("avg_bucket_size"),
            F.round(
                # GREATEST(0, ·) clamp: FP rounding can drive the variance
                # a last-ulp negative and sqrt(neg)=NaN (mirrored in the
                # DuckDB twin so the doubles still match bit-for-bit)
                F.sqrt(F.greatest(F.lit(0.0), F.avg(c * c) - F.avg(c) * F.avg(c))), 9
            ).alias("std_bucket_size"),
            F.min("bucket_size").alias("min_bucket_size"),
            F.max("bucket_size").alias("max_bucket_size"),
            F.sum(F.when(F.col("bucket_size") > 1, 1).otherwise(0)).alias(
                "n_colliding_buckets"
            ),
        )
        .orderBy("band_idx")
    )


def bucket_stats_sampled(buckets: DataFrame, sample_mod: int = 16) -> DataFrame:
    """Sampled `describe` — the reference bounds bucket-stats cost with
    ``DESCRIBE_MAX = 5000`` (`lsh-rs/src/constants.rs:1`); at 100 TB a full
    ``bucket_stats`` pass costs a whole extra shuffle of the bucket table.

    Deterministic 1/sample_mod hash-sample of *bucket keys* (not rows — a
    bucket is either fully in or fully out, so per-bucket sizes are exact).
    ``n_buckets``/``n_entries``/``n_colliding_buckets`` are scaled back up
    (unbiased estimates); ``avg_bucket_size`` is the sample average;
    ``max_bucket_size`` is a lower bound (the true max is in the sample
    with prob 1/sample_mod) — use ``dropped_buckets`` for exact hot-bucket
    accounting.
    """
    sampled = buckets.where(
        F.pmod(F.xxhash64("band_key"), F.lit(sample_mod)) == 0
    )
    m = F.lit(sample_mod)
    return (
        bucket_sizes(sampled)
        .groupBy("band_idx")
        .agg(
            (F.count("*") * m).alias("n_buckets_est"),
            (F.sum("bucket_size") * m).alias("n_entries_est"),
            F.avg("bucket_size").alias("avg_bucket_size"),
            F.max("bucket_size").alias("max_bucket_size_lb"),
            (F.sum(F.when(F.col("bucket_size") > 1, 1).otherwise(0)) * m).alias(
                "n_colliding_buckets_est"
            ),
        )
        .orderBy("band_idx")
    )


def capped_buckets(buckets: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Drop hot buckets (> max_bucket_size) — the explicit skew guard.

    Window-count keeps a single shuffle on (band_idx, band_key); the same
    partitioning immediately feeds the pairing self-join.
    """
    w = Window.partitionBy("band_idx", "band_key")
    return (
        buckets.withColumn("bucket_size", F.count("*").over(w))
        .where(
            (F.col("bucket_size") >= 2)
            & (F.col("bucket_size") <= cfg.max_bucket_size)
        )
        .drop("bucket_size")
    )


def dropped_buckets(buckets: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Counter stream for the lineage manifest: what the cap removed."""
    return bucket_sizes(buckets).where(F.col("bucket_size") > cfg.max_bucket_size)


def candidate_pairs(buckets: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Within-bucket pairing → distinct (src, dst), src < dst.

    Single shuffle on the bucket key with map-side partial aggregation
    (collect_list), then in-row pair explosion — replaces the self-join
    formulation, which shuffled the bucket table twice (window count + join
    sides).  Per-bucket fanout is bounded by the cap (m² pairs materialize
    transiently inside one task row; cap=2000 → ≤ 2M structs ≈ 32 MB).
    Skew note: a hot band_key still lands on one reducer, but its work is
    bounded by the cap; dropped hot buckets are counted via
    ``dropped_buckets`` (never silent).

    Production family (xxhash64): (band_idx, band_key) is FOLDED map-side
    into one 8-byte key ``xxhash64(band_idx, band_key)`` — the dominant
    exchange of the pipeline then carries 2 longs per row instead of
    (int, long, long), and the guard window + aggregation sort/group a
    single column.  Grouping semantics are unchanged up to a 2^-64 key
    collision, which merely merges two buckets — the exact-verify stage
    rejects any spurious pair (the same argument that justifies hashed
    band keys at all, explode_bands docstring).  The md5_64 oracle family
    keeps the exact (band_idx, band_key) grouping — gates stay
    assumption-free."""
    if cfg.hash_family == "xxhash64":
        folded = buckets.select(
            F.xxhash64("band_idx", "band_key").alias("_bkey"), "doc_id"
        )
        return pairs_from_buckets(
            folded, ["_bkey"], cfg.max_bucket_size, id_col="doc_id"
        )
    return pairs_from_buckets(
        buckets, ["band_idx", "band_key"], cfg.max_bucket_size, id_col="doc_id"
    )


def bucket_guard(
    long_df: DataFrame, key_cols: list[str], max_bucket_size: int
) -> DataFrame:
    """THE hot-bucket guard, shared by every within-bucket pairing plan
    (MinHash ``pairs_from_buckets``, the fused SimHash pairing): keep only
    buckets with [2, max_bucket_size] members, counted by a window on the
    same partitioning the downstream aggregation reuses — one exchange,
    one semantics (so the skew policy can never drift between families).

    The exchange is PINNED at the session's shuffle-partition count
    (round-7): AQE's byte-based coalescing is right for shuffle-bound
    stages but squeezed these CPU-bound ones — the post-shuffle stage
    carries the in-row pair explosion, whose cost is quadratic in bucket
    size and unrelated to its input bytes, and a few-MB bucket table ran
    it on 1 core (1.8 s of a 2.9 s SimHash query, round-7 event log).
    At scale the pinned count is the data-sized
    ``spark.sql.shuffle.partitions`` where coalescing was a no-op anyway;
    the window and the downstream groupBy both reuse this one exchange."""
    from lsh_rs_spark.tuning import pinned_key_partitions

    long_df = pinned_key_partitions(long_df, *key_cols)
    w = Window.partitionBy(*key_cols)
    return (
        long_df.withColumn("_bs", F.count("*").over(w))
        .where((F.col("_bs") >= 2) & (F.col("_bs") <= max_bucket_size))
        .drop("_bs")
    )


def pairs_from_buckets(
    long_df: DataFrame,
    key_cols: list[str],
    max_bucket_size: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Generic within-bucket pairing: groupBy(bucket key) + in-row pair
    explosion → distinct canonical (src, dst).  Shared by the MinHash,
    SimHash and SRP paths.

    Hot buckets are filtered **before** the collect_list via a window count
    on the same partitioning (no extra exchange — the window's shuffle is
    reused by the aggregation), so an oversized bucket never materializes
    its full id list in a single aggregation buffer.  The size guard on the
    aggregated list is kept as a second line of defense for callers that
    pass pre-grouped data."""
    long_df = bucket_guard(long_df, key_cols, max_bucket_size)
    pair_expr = F.explode(
        F.flatten(
            F.transform(
                "ds",
                lambda x, i: F.transform(
                    F.slice("ds", i + 2, F.size("ds")),
                    lambda y: F.struct(
                        F.least(x, y).alias("src"), F.greatest(x, y).alias("dst")
                    ),
                ),
            )
        )
    )
    return (
        long_df.groupBy(*key_cols)
        .agg(F.collect_list(id_col).alias("ds"))
        .where((F.size("ds") >= 2) & (F.size("ds") <= max_bucket_size))
        .select(pair_expr.alias("p"))
        .select("p.src", "p.dst")
        .distinct()
    )


def salted_hot_bucket_pairs(
    buckets: DataFrame, cfg: DedupConfig, n_salt: int = 16
) -> DataFrame:
    """Partial-coverage pair recovery for buckets ABOVE the cap.

    Each doc gets one deterministic salt cell (pmod(xxhash64(doc_id), S));
    pairs are generated within cells only, bounding per-cell work to
    (size/S)² while recovering ≈ 1/S of the hot bucket's pairs — the
    published salting practice when dropping hot buckets outright is too
    lossy.  Preferred order of levers: exact-prededup (collapses identical
    texts, usually eliminates the hot bucket) → cap+count → salting.
    Coverage is explicit: callers should log n_salt next to the
    dropped_buckets counters (no silent truncation).
    """
    hot_keys = bucket_sizes(buckets).where(
        F.col("bucket_size") > cfg.max_bucket_size
    ).select("band_idx", "band_key")
    salted = buckets.join(hot_keys, ["band_idx", "band_key"]).withColumn(
        "salt", F.pmod(F.xxhash64("doc_id"), F.lit(n_salt))
    )
    return pairs_from_buckets(
        salted, ["band_idx", "band_key", "salt"], cfg.max_bucket_size, "doc_id"
    )


def candidate_pairs_join(buckets: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Self-join formulation (J2, `lsh-rs/src/table/mem.rs:69-74` semantics) —
    kept for cross-checking; identical output to candidate_pairs."""
    b = capped_buckets(buckets, cfg)
    l, r_ = b.alias("l"), b.alias("r")
    return (
        l.join(r_, ["band_idx", "band_key"])
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(F.col("l.doc_id").alias("src"), F.col("r.doc_id").alias("dst"))
        .distinct()
    )
