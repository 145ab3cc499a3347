"""Parameter grid search — the reference's optimize_* helpers, Spark-shaped.

Reference: `optimize_srp_params` / `optimize_l2_params`
(`lsh-rs/src/stats.rs:104-163`) grid-search K with L derived from
``estimate_l(delta, p1, k)``, build an LSH per combo on sample vectors and
report bucket-length stats + timings (`OptRes`, `stats.rs:47-57`).

Here each combo signs a *sample DataFrame* and aggregates the bucket-size
distribution (the `describe` analogue) — the same signal the reference's
cost model uses (`examples/reverse-img-search/src/prepare.rs:67-89`:
total = hash_time + search_time * N_total/n_sample), plus the collision
stats that feed hot-bucket salting decisions.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from lsh_rs_spark.functions.l2 import l2_band_table
from lsh_rs_spark.functions.simhash import sketch_bands
from lsh_rs_spark.stats import collision_prob_cosine, collision_prob_l2, estimate_l
from lsh_rs_spark.config import SRPConfig


@dataclass
class OptResult:
    """≙ reference OptRes (`lsh-rs/src/stats.rs:47-57`)."""

    k: int
    l: int
    hash_seconds: float
    n_buckets: int
    min_len: int
    max_len: int
    avg_len: float
    std_len: float = 0.0
    extras: dict = field(default_factory=dict)

    def cost_estimate(self, n_total: int, n_sample: int) -> float:
        """hash_time + expected probe work scaled to the full corpus.

        Probe work is the SIZE-BIASED mean bucket length — a random probe
        lands in a bucket with probability proportional to its size, so the
        expected candidates scanned per query is E[s²]/E[s] =
        avg + var/avg, not the plain average.  That is exactly where the
        bucket-size std-dev (reference `describe`, mem.rs:156-197) enters
        the cost model: a skewed distribution at the same average costs
        more per probe.
        """
        probe = self.avg_len + (self.std_len**2) / max(self.avg_len, 1e-12)
        return self.hash_seconds * (n_total / max(1, n_sample)) + probe


def _bucket_stats(bands: DataFrame) -> tuple[int, int, int, float, float]:
    c = F.col("count")
    row = (
        bands.groupBy("band_key").count()
        .agg(
            F.count("*").alias("n"),
            F.min("count").alias("mn"),
            F.max("count").alias("mx"),
            F.avg("count").alias("av"),
            # population std-dev via the reference's avg(c²)−avg(c)² form;
            # clamped at 0: FP rounding can make the difference slightly
            # negative, and sqrt(neg)=NaN would poison cost_estimate ranking
            F.sqrt(F.greatest(F.lit(0.0), F.avg(c * c) - F.avg(c) * F.avg(c))).alias("sd"),
        )
        .first()
    )
    return (
        int(row["n"] or 0),
        int(row["mn"] or 0),
        int(row["mx"] or 0),
        float(row["av"] or 0.0),
        float(row["sd"] or 0.0),
    )


def optimize_l2_params(
    sample: DataFrame,
    dim: int,
    ks: list[int],
    delta: float = 0.1,
    r: float = 4.0,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[OptResult]:
    p1 = collision_prob_l2(r, 1.0)
    out = []
    for k in ks:
        l = max(1, estimate_l(delta, p1, k))
        t0 = time.time()
        bands = l2_band_table(sample, l, k, dim, r, seed, id_col, vec_col).persist()
        n, mn, mx, av, sd = _bucket_stats(bands)
        bands.unpersist()
        out.append(OptResult(k, l, round(time.time() - t0, 3), n, mn, mx, av, sd,
                             extras={"p1": p1, "r": r}))
    return out


def optimize_srp_params(
    sample: DataFrame,
    dim: int,
    ks: list[int],
    cosine_sim: float = 0.8,
    delta: float = 0.1,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[OptResult]:
    from lsh_rs_spark.operators.ann import srp_sketches

    p1 = collision_prob_cosine(cosine_sim)
    out = []
    for k in ks:
        l = max(1, estimate_l(delta, p1, k))
        n_bits = k * l
        if n_bits > 63:
            # sketch width bound: split across several 63-bit sketches
            # would be needed; cap to the largest feasible L for this k
            l = max(1, 63 // k)
            n_bits = k * l
        t0 = time.time()
        cfg = SRPConfig(n_bits=n_bits, bands=l, dim=dim, seed=seed)
        sk = srp_sketches(sample, cfg, id_col, vec_col, use_udf=True)
        bands = sketch_bands(sk, "srp", "vec_id", cfg.bands, cfg.bits_per_band, "vec_id")
        bands = bands.withColumn(
            "band_key", F.concat_ws(":", "band_idx", "band_key")
        ).persist()
        n, mn, mx, av, sd = _bucket_stats(bands)
        bands.unpersist()
        out.append(OptResult(k, l, round(time.time() - t0, 3), n, mn, mx, av, sd,
                             extras={"p1": p1, "requested_l": max(1, estimate_l(delta, p1, k))}))
    return out


def best_params(results: list[OptResult], n_total: int, n_sample: int) -> OptResult:
    """argmin of the reference's cost model over the grid."""
    return min(results, key=lambda x: x.cost_estimate(n_total, n_sample))


#: Measured shuffle volume per input document for the dedup pipeline's two
#: heavy exchanges (event-log task metrics on the 5.6M-doc synthetic web
#: corpus, BASELINE.md round-6 item 3): candidate-pair emission ~310 B/doc
#: (folded band keys x bands, map-side-distinct pairs), exact-verify
#: join-backs ~1.7 kB/doc (pruned shingle arrays crossing two joins).  Used
#: for partition sizing; corpora with much longer documents should scale
#: these by avg_doc_bytes/750.
PAIRS_SHUFFLE_BYTES_PER_DOC = 310
EDGES_SHUFFLE_BYTES_PER_DOC = 1690


def suggest_shuffle_partitions(
    n_docs: int,
    cores: int,
    target_partition_bytes: int = 64 << 20,
    avg_doc_bytes: int = 750,
    pairs_bytes_per_doc: int | None = None,
    edges_bytes_per_doc: int | None = None,
) -> int:
    """``spark.sql.shuffle.partitions`` for a dedup run of ``n_docs``.

    Two constraints, take the max:

    * **size** — the heaviest exchange (the verify join-backs) divided by
      the ~64 MB post-shuffle partition target that keeps a task's sort
      comfortably inside its execution-memory share.  Setting partitions =
      cores exactly (one task wave) pushed the decoded partition beyond
      the per-task memory share on the 5.6M-doc corpus and triggered
      external-sort spill on BOTH heavy stages (pairs 2.0 GB, edges
      4.7 GB spilled at 8 cores); at 4x cores the spill disappeared and
      the 8-core leg ran 18% faster end to end (round-6 A/B, BASELINE.md
      round-6 items 3-4).
    * **waves** — at least 2 tasks per core so a straggler costs a
      fraction of a wave, the standard sizing guidance.

    AQE (adaptive coalescing) merges partitions that come out smaller
    than the advisory size, so overshooting is cheap; undershooting
    (spill) is not.  At 100 TB the size constraint dominates and the
    result is ~tens of thousands of partitions — exactly how a real
    cluster should be sized, while the waves floor keeps tiny corpora
    from underusing a big executor fleet.
    """
    if pairs_bytes_per_doc is not None or edges_bytes_per_doc is not None:
        # calibrated constants (calibrate_shuffle_constants) already embed
        # the corpus's document lengths — no avg_doc_bytes rescaling
        heavy_bytes = max(
            pairs_bytes_per_doc or PAIRS_SHUFFLE_BYTES_PER_DOC,
            edges_bytes_per_doc or EDGES_SHUFFLE_BYTES_PER_DOC,
        ) * n_docs
    else:
        heavy_bytes = max(
            PAIRS_SHUFFLE_BYTES_PER_DOC, EDGES_SHUFFLE_BYTES_PER_DOC
        ) * n_docs * (avg_doc_bytes / 750.0)
    by_size = -(-int(heavy_bytes) // target_partition_bytes)
    return max(2 * cores, by_size)


def _conf_bytes(spark, key: str, default: int) -> int:
    try:
        v = spark.conf.get(key)
        return int(
            spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils
            .byteStringAsBytes(v)
        )
    except Exception:
        return default


def _plan_walk(df) -> tuple[set, list]:
    """(inner-node class names, leaf nodes) of ``df``'s optimized plan —
    plan metadata only, no job.  The one walk behind both the scan-task
    estimate (``scan_parallelism_boost``) and the row estimate
    (``estimate_rows``)."""
    inner, leaves = set(), []
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        kids = node.children()
        if kids.size():
            inner.add(node.getClass().getSimpleName())
            stack.extend(kids.apply(i) for i in range(kids.size()))
        else:
            leaves.append(node)
    return inner, leaves


def _scan_tasks(leaves, target: int, maxpb: int) -> int | None:
    """Estimated scan tasks of a plan's leaves: Σ ceil(file_size /
    maxPartitionBytes) over the distinct files of its file relations.  A
    plan without files counts cached partitions, RDD partitions, Range
    slices and local relations instead, and is None when a leaf is none of
    these.  Stops early once the file estimate reaches ``target``."""
    files: set = set()
    file_tasks = other = 0
    unknown = False
    for leaf in leaves:
        cls = leaf.getClass().getSimpleName()
        if cls == "LogicalRelation" and (
            leaf.relation().getClass().getSimpleName() == "HadoopFsRelation"
        ):
            listed = leaf.relation().location().allFiles()
            for i in range(listed.size()):
                f = listed.apply(i)
                path = f.getPath().toString()
                if path not in files:
                    files.add(path)
                    file_tasks += -(-f.getLen() // maxpb)
                    if file_tasks >= target:
                        return file_tasks
        elif cls == "InMemoryRelation":
            other += leaf.cacheBuilder().cachedColumnBuffers().getNumPartitions()
        elif cls == "LogicalRelation":
            other += -(-leaf.computeStats().sizeInBytes() // maxpb)
        elif cls == "LogicalRDD":
            other += leaf.rdd().getNumPartitions()
        elif cls == "Range":
            ns = leaf.numSlices()
            other += ns.get() if ns.isDefined() else target
        elif cls in ("LocalRelation", "OneRowRelation"):
            other += 1
        else:
            unknown = True
    if files:
        return file_tasks
    return None if unknown else other


def scan_parallelism_boost(df, *key_cols: str):
    """Repartition a NARROW file-backed input up to ``defaultParallelism``
    before a CPU-heavy per-document kernel (guide §2.5 "input skew" /
    §4: a one-file parquet table scans as ONE task, and every downstream
    narrow stage — shingling, signing, winnowing — then runs serially
    while the rest of the cluster idles; round-7 event logs showed the
    whole documents-table chain executing on 1 core).

    The decision is made from plan METADATA only (no job, no plan
    execution): the estimated scan tasks of the optimized plan's leaves
    (``_scan_tasks``).  It boosts only when that estimate is below the
    core count — which bounds the repartition shuffle to <
    maxPartitionBytes × cores by construction, so a large corpus (many
    files / big files) is NEVER repartitioned and pays only the listing
    lookup (early-exited after the first `cores` tasks).  A file-less plan
    is sized from its cached relations' actual partition count, RDD
    partitions and Range slices; any other leaf leaves ``df`` unchanged
    (always correct).  The repartition key is the given id column
    (deterministic hash assignment — survives task retries, SPARK-38388)
    when provided, round-robin otherwise.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    maxpb = _conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
    try:
        est = _scan_tasks(_plan_walk(df)[1], target, maxpb)
    except Exception:
        return df
    if est is None or est <= 0 or est >= target:
        return df
    if key_cols:
        return df.repartition(target, *[F.col(c) for c in key_cols])
    return df.repartition(target)


#: Byte cap of every size-driven broadcast hint — probe keys, re-rank
#: query vectors, verify's participant ids.  An F.broadcast hint is
#: honored whatever the side's real size, so the estimate must stay far
#: below executor memory: a corpus-fraction query side hint-broadcast at
#: 100× scale OOMs executors.  Above the cap AQE picks the join at run
#: time (sort-merge, or its own runtime broadcast).
BROADCAST_BYTE_CAP = 32 << 20
#: Estimated bytes per broadcast row, priced by side.
PROBE_KEY_BYTES = 24  # (band_idx, band_key, query_id)
ID_BYTES = 8  # one participant id; also the id of a vector row


def vector_row_bytes(dim: int) -> int:
    """A re-rank query row: ``dim`` doubles plus its id."""
    return dim * 8 + ID_BYTES


#: Inner plan nodes that keep their input's row count (Union sums it).
_ROW_KEEPING = frozenset({
    "Project", "Repartition", "RepartitionByExpression", "Union",
    "ArrowEvalPython", "BatchEvalPython",
})
#: Inner nodes that change the row count without pairing rows: the
#: estimate runs one bounded count through them.
_ROW_CHANGING = frozenset({
    "Filter", "Sample", "GlobalLimit", "LocalLimit", "Generate",
    "MapInPandas", "MapInArrow",
})

#: Bounded counts behind ``estimate_rows``, keyed by the analyzed plan's
#: semanticHash (and the bound), so predict-in-a-loop over one query frame
#: counts once.  The hash identifies the PLAN, not the data, so entries
#: expire: cached/persisted plans (data pinned) after ``_COUNT_MEMO_TTL``
#: seconds, plans that re-read their source on every action much sooner —
#: a stale "small" count would force a hint on a table that has since
#: grown.  FIFO-bounded; mutated from user threads.
_COUNT_MEMO: dict = {}
_COUNT_MEMO_MAX = 256
_COUNT_MEMO_TTL = 300.0
_COUNT_MEMO_TTL_UNCACHED = 60.0
_COUNT_MEMO_LOCK = threading.Lock()


def _bounded_count(df: DataFrame) -> int:
    """``df``'s rows, counted up to the most rows any side can fit."""
    bound = BROADCAST_BYTE_CAP // ID_BYTES  # no side is narrower than an id
    try:
        key = (df._jdf.queryExecution().analyzed().semanticHash(), bound)
        ttl = _COUNT_MEMO_TTL if df.is_cached else _COUNT_MEMO_TTL_UNCACHED
    except Exception:  # plan not analyzable — count without the memo
        key = None
    now = time.monotonic()
    with _COUNT_MEMO_LOCK:
        hit = _COUNT_MEMO.get(key) if key is not None else None
        if hit is not None and now - hit[1] <= ttl:
            return hit[0]
    n = df.limit(bound + 1).count()  # job runs outside the lock
    if key is not None:
        with _COUNT_MEMO_LOCK:
            if len(_COUNT_MEMO) >= _COUNT_MEMO_MAX:
                _COUNT_MEMO.pop(next(iter(_COUNT_MEMO)))
            _COUNT_MEMO[key] = (n, now)
    return n


def _leaf_rows(leaf) -> int | None:
    """Rows of a plan leaf from its statistics; None when they hold none
    worth trusting (an RDD or checkpoint keeps its pre-materialization
    estimate, an unmaterialized cache reports its plan's guess)."""
    cls = leaf.getClass().getSimpleName()
    if cls == "LocalRelation":
        return leaf.data().size()
    if cls == "OneRowRelation":
        return 1
    if cls == "LogicalRelation":
        # file bytes over the schema's default row width: statistics carry
        # no row count for a path-read table, and a compressed file
        # understates its rows — the cap's margin absorbs that
        return -(-leaf.stats().sizeInBytes() // (8 + leaf.schema().defaultSize()))
    if cls == "Range" or (
        cls == "InMemoryRelation" and leaf.cacheBuilder().isCachedColumnBuffersLoaded()
    ):
        rc = leaf.stats().rowCount()
        return int(rc.get()) if rc.isDefined() else None
    return None


def estimate_rows(df: DataFrame) -> int | None:
    """Rows of ``df`` for a size decision, or None — no estimate.

    * file-backed and materialized cached leaves, Range and local rows
      under row-keeping nodes: summed from plan statistics, no job;
    * a filter, sample, explode or Python map over leaves, and any leaf
      without trusted statistics (a checkpoint, an RDD, an unmaterialized
      cache): one bounded count, memoized (``_bounded_count``);
    * a join, aggregate, window or distinct anywhere in the plan: None —
      a live pairing DAG is never executed just to make a decision.
    """
    try:
        inner, leaves = _plan_walk(df)
        if not inner <= _ROW_KEEPING | _ROW_CHANGING:
            return None
        rows = [_leaf_rows(leaf) for leaf in leaves]
    except Exception:  # plan not readable (e.g. Spark Connect)
        return None
    if inner & _ROW_CHANGING or None in rows:
        return _bounded_count(df)
    return sum(rows)


def broadcast_hint(
    side: DataFrame,
    sized: DataFrame,
    row_bytes: int,
    force: bool | None = None,
    distinct: bool = False,
) -> DataFrame:
    """``side``, hinted for broadcast when ``sized`` — the frame each of
    whose rows becomes ``row_bytes`` of ``side`` — is estimated under
    ``BROADCAST_BYTE_CAP``; otherwise unchanged, and AQE plans the join.
    ``force`` True/False overrides the estimate (no job); ``distinct``
    deduplicates the broadcast copy.  Every size-driven broadcast hint in
    the package is decided here."""
    if force is None:
        rows = estimate_rows(sized)
        force = rows is not None and rows * row_bytes <= BROADCAST_BYTE_CAP
    if not force:
        return side
    return F.broadcast(side.distinct() if distinct else side)


def pinned_key_partitions(df, *key_cols: str):
    """Exchange ``df`` by ``key_cols`` at the session's FULL shuffle
    partition count, pinned against AQE coalescing — for exchanges that
    feed CPU-heavy work (per-group Python kernels, in-row pair explosion).

    AQE sizes post-shuffle partitions by BYTES (advisory 64 MB), which is
    right for shuffle-bound stages but serializes compute-bound ones: a
    ~10 MB anchor-group stream coalesces to ~1-6 partitions and the
    suffix-array kernel then runs on 1-6 cores (round-7 event log: 5.7 s
    of a 7.1 s query in one 6-task stage).  A downstream
    groupBy/Window on the same keys reuses this exchange (identical hash
    partitioning), so no second shuffle is added; at scale the pinned
    count is the data-sized ``spark.sql.shuffle.partitions`` the session
    already runs, where AQE coalescing would have been a no-op anyway.
    """
    from pyspark.sql import functions as _F

    spark = df.sparkSession
    try:
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        n = spark.sparkContext.defaultParallelism * 2
    return df.repartition(n, *[_F.col(c) for c in key_cols])


def _shuffle_write_by_stage(spark) -> dict:
    """{stageId: shuffle-write bytes} over the stages the app status store
    retains — the numbers the UI's stage table shows, read headless.
    Per-stage (not a grand total) so callers can attribute bytes to the
    stages that appeared between two snapshots even while the store evicts
    old stages (spark.ui.retainedStages).  Uses the same py4j surface the
    UI backend reads; if a Spark upgrade moves it, callers get a clear
    RuntimeError (calibration is an offline tuning step, never on a query
    path)."""
    try:
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        # Spark 4 signature: stageList(statuses, details, withSummaries,
        # unsortedQuantiles, taskStatus) — empty filters mean "all stages"
        stages = store.stageList(
            jvm.java.util.ArrayList(), False, False,
            sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList())
        it = stages.iterator()
        out = {}
        while it.hasNext():
            s = it.next()
            out[(s.stageId(), s.attemptId())] = s.shuffleWriteBytes()
        return out
    except Exception as exc:  # pragma: no cover - depends on Spark internals
        raise RuntimeError(
            "cannot read shuffle metrics from the Spark status store; "
            "fall back to the module constants PAIRS/EDGES_SHUFFLE_BYTES_PER_DOC"
        ) from exc


def _new_stage_bytes(after: dict, before: dict) -> int:
    return sum(v for k, v in after.items() if k not in before)


def calibrate_shuffle_constants(spark, docs: DataFrame) -> dict:
    """Measure the dedup pipeline's per-document shuffle volume on THIS
    corpus (sampled or full) and return calibrated constants for
    :func:`suggest_shuffle_partitions`.

    The module defaults (310 / 1690 B/doc) were measured on the synthetic
    web corpus (BASELINE.md round-6 item 3); corpora with different
    document lengths, dup rates or shingle densities shift them.  Both
    heavy exchanges are O(n_docs), so constants measured on a ~100k-doc
    sample extrapolate linearly — run this once per new corpus family and
    pass the results to ``suggest_shuffle_partitions(...,
    pairs_bytes_per_doc=..., edges_bytes_per_doc=...)``.

    Runs the production chain (``plans.pipeline.dedup_chain``, exact
    prededup included) with the production config, checkpointed in memory,
    and attributes shuffle-WRITE bytes by differencing the app-status-store
    per-stage totals around the candidate_pairs and edges stages (valid
    because the stages are materialized sequentially; concurrent foreign
    jobs on the same session would pollute the diff — calibrate on a quiet
    session).
    """
    from lsh_rs_spark.config import PIPELINE_CONFIG
    from lsh_rs_spark.plans.pipeline import MemoryStages, dedup_chain

    mem = MemoryStages()
    snaps: dict = {}

    def measured(name, build, parents, **kw):
        df = mem(name, build, parents, **kw)
        if name == "signatures":
            df.count()  # sign before the baseline: only pairing is diffed
        snaps[name] = _shuffle_write_by_stage(spark)
        return df

    docs = docs.persist()
    n = docs.count()
    try:
        dedup_chain(docs, PIPELINE_CONFIG, measured)
    finally:
        mem.release()
        docs.unpersist()
    base, after_pairs, after_edges = (
        snaps["signatures"], snaps["candidate_pairs"], snaps["edges"])
    return {
        "n_docs": n,
        "pairs_bytes_per_doc": max(
            1, -(-_new_stage_bytes(after_pairs, base) // n)),
        "edges_bytes_per_doc": max(
            1, -(-_new_stage_bytes(after_edges, after_pairs) // n)),
    }
