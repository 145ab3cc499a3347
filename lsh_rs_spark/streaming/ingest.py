"""Incremental signature ingest via Structured Streaming.

The reference supports incremental point updates (`store_vec`
`lsh-rs/src/lsh/lsh.rs:434-445`, `update_by_idx` `:453-462`) on top of its
batch bulk load; the north rule's pipeline is batch spark-submit
(SURVEY.md §2.8), so streaming here is the *ingest* analogue: newly crawled
pages land as parquet files, a file-source stream signs and bands them
exactly like the batch path (same broadcast hash parameters → identical
signatures), and appends to the bucket store.  Because MinHash signatures
are per-document, no watermark/stateful operator is required for ingest;
late data simply appends.

``stream_dedup_flags`` additionally shows the stateful side: a
``dropDuplicates`` on exact content hash with a processing-time watermark —
streaming exact-dedup of the incoming page stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from lsh_rs_spark.config import DedupConfig
from lsh_rs_spark.operators.lsh import explode_bands, signatures

PAGE_DDL = (
    "url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING"
)

#: Bump whenever the on-disk encoding of the streaming store changes —
#: band_key type (string → xxhash64 long in round 3), shingle-id hash
#: family wiring, signature store columns.  A resume against a workdir
#: written under a different format would otherwise fail SILENTLY: new
#: long band keys equi-joined against stored string keys cast to NULL
#: (every equality false), probes drop to zero, and Jaccard is computed
#: across incompatible shingle-id spaces (ADVICE r3, medium).
STREAM_FORMAT_VERSION = 2
FORMAT_MARKER = "_FORMAT.json"


def _format_fingerprint(family: str, cfg) -> str:
    """Canonical JSON of everything that determines the stored bytes'
    meaning: code format version + hash family + full config."""
    import json
    from dataclasses import asdict

    return json.dumps(
        {
            "stream_format_version": STREAM_FORMAT_VERSION,
            "family": family,
            "config": asdict(cfg),
        },
        sort_keys=True,
    )


def read_page_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 16
) -> DataFrame:
    return (
        spark.readStream.schema(PAGE_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
        .withColumn("doc_id", F.xxhash64("url"))
    )


def stream_signatures(pages: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Streaming docs → (doc_id, shingles, minhash): stateless map, same
    kernels as batch (signatures() is trigger-agnostic)."""
    return signatures(pages, cfg)


def stream_buckets(pages: DataFrame, cfg: DedupConfig) -> DataFrame:
    return explode_bands(stream_signatures(pages, cfg), cfg)


def stream_exact_dedup(pages: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup: first occurrence of each text hash wins.

    Uses dropDuplicatesWithinWatermark so state is bounded by the watermark
    horizon (at web scale: content hash state ~16B/doc/horizon).
    """
    hashed = pages.withColumn("content_hash", F.xxhash64("text")).withColumn(
        "event_ts", F.coalesce(F.col("warc_ts"), F.current_timestamp())
    )
    return hashed.withWatermark("event_ts", delay).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )


def _read_if_exists(
    spark: SparkSession, path: str, schema=None
) -> DataFrame | None:
    """spark.read.parquet(path) or None if the path does not exist.

    Probes through Spark (AnalysisException on a missing path) rather than
    driver-local ``os.path.exists`` — on HDFS/S3 a local stat would read an
    existing store as absent and silently skip the new-vs-stored probe.
    With ``schema`` (a store whose schema the caller already knows) the
    read is pinned to it and runs no schema-inference job."""
    from pyspark.errors import AnalysisException

    reader = spark.read if schema is None else spark.read.schema(schema)
    try:
        df = reader.parquet(path)
        df.schema  # force resolution now, not at first action
        return df
    except AnalysisException:
        return None


def _check_or_write_format(workdir: str, fingerprint: str, spark, buckets_dir: str) -> None:
    """Fail fast on a format/config mismatch before touching the store.

    Bootstrap (no marker, no store) writes the marker atomically; a marker
    that disagrees with the current fingerprint, or a pre-existing store
    with no marker at all (legacy / foreign workdir), raises instead of
    silently producing zero probes."""
    import os

    path = os.path.join(workdir, FORMAT_MARKER)
    if os.path.exists(path):
        with open(path) as f:
            stored = f.read()
        if stored != fingerprint:
            raise ValueError(
                f"streaming workdir {workdir!r} was written under a different "
                f"format/config — resuming would silently drop every probe.\n"
                f"stored:  {stored}\ncurrent: {fingerprint}\n"
                "Use a fresh workdir (or rebuild the store) instead."
            )
        return
    if _read_if_exists(spark, buckets_dir) is not None:
        raise ValueError(
            f"streaming workdir {workdir!r} has a bucket store but no "
            f"{FORMAT_MARKER} marker; cannot verify the stored format is "
            "compatible with the current code/config. Use a fresh workdir."
        )
    os.makedirs(workdir, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(fingerprint)
    os.replace(tmp, path)


def _incremental_processor(
    workdir: str,
    sign_fn,
    band_fn,
    verify_fn,
    sig_cols: list[str],
    max_bucket_size: int,
    compact_every: int,
    format_fingerprint: str = "",
):
    """foreachBatch body shared by every hash family (MinHash, SimHash):
    sign → probe store → verify → append; hot-bucket guard maintained
    incrementally.  ``sign_fn(batch_df) → sig``, ``band_fn(sig) →
    (band_idx, band_key, doc_id)``, ``verify_fn(pairs, all_sig) → edges``;
    ``sig_cols`` is what the signature store persists (what verify needs).

    Each per-batch intermediate is computed once: the hot set is ONE
    collect over the batch's keys (its joins use a local table of just
    those keys), the candidate pairs are checkpointed before verify so
    verify's participant prune and the edge write read the same rows, and
    every store read is pinned to the schema the batch already holds (no
    schema-inference job).  Cached blocks are released even when the batch
    raises, so a replayed batch does not stack a second copy.
    """
    import json
    import os
    import uuid

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from lsh_rs_spark.operators.lsh import pairs_from_buckets

    buckets_dir = f"{workdir}/buckets"
    edges_dir = f"{workdir}/edges"
    sig_dir = f"{workdir}/signatures"
    counts_dir = f"{workdir}/bucket_counts"
    hot_dir = f"{workdir}/hot_buckets"
    metrics_dir = f"{workdir}/metrics"
    KEY = ["band_idx", "band_key"]

    def hot_keys(spark, batch_counts: DataFrame, metrics: dict):
        """(hot, newly_hot): the batch keys that are hot — already in
        ``hot_buckets`` or past the cap once this batch is counted — and
        the newly hot subset, as local tables (None when nothing turned
        hot); fills the three hot-guard metrics.  A key can only turn hot
        in a batch that touches it, and every hot join is against batch
        keys, so the batch's share of the hot set is exact."""
        key_schema = batch_counts.select(*KEY).schema
        prev_hot = _read_if_exists(spark, hot_dir, key_schema)
        counts_log = _read_if_exists(spark, counts_dir, batch_counts.schema)
        cum, n_cum = batch_counts, F.col("n")
        if counts_log is not None:
            # cumulative sizes for THIS batch's keys only: count-log scan
            # restricted by a broadcast semi-join on the batch keys (3 int
            # columns, no doc ids — never the bucket store itself)
            prior = (
                counts_log.join(F.broadcast(batch_counts.select(*KEY)), KEY)
                .groupBy(*KEY)
                .agg(F.sum("n").alias("n_prior"))
            )
            cum = cum.join(prior, KEY, "left")
            n_cum = n_cum + F.coalesce("n_prior", F.lit(0))
        was_hot = F.lit(False)
        if prev_hot is not None:
            cum = cum.join(
                F.broadcast(prev_hot.withColumn("was_hot", F.lit(True))), KEY, "left"
            )
            was_hot = F.coalesce("was_hot", F.lit(False))
        hot = {
            (r.band_idx, r.band_key): (r.n, r.was_hot)
            for r in cum.where(was_hot | (n_cum > max_bucket_size))
            .select(*KEY, "n", was_hot.alias("was_hot"))
            .collect()
        }
        newly_hot = [k for k, (_, was) in hot.items() if not was]
        metrics["newly_hot_buckets"] = len(newly_hot)
        metrics["hot_buckets_total"] = len(newly_hot) + (
            prev_hot.count() if prev_hot is not None else 0
        )
        metrics["probe_rows_skipped_hot"] = sum(n for n, _ in hot.values())

        arrow_schema = to_arrow_schema(key_schema)

        def local(keys) -> DataFrame:
            rows = [dict(zip(KEY, k)) for k in keys]
            return spark.createDataFrame(pa.Table.from_pylist(rows, schema=arrow_schema))

        return local(hot), (local(newly_hot) if newly_hot else None)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if format_fingerprint:
            _check_or_write_format(workdir, format_fingerprint, spark, buckets_dir)
        metrics: dict = {"batch_id": batch_id}
        cached: list[DataFrame] = []

        def persist(df: DataFrame) -> DataFrame:
            cached.append(df.persist())
            return df

        try:
            sig = persist(sign_fn(batch_df))
            new_buckets = persist(band_fn(sig))
            batch_counts = persist(
                new_buckets.groupBy(*KEY).agg(F.count("*").alias("n"))
            )
            hot_table, newly_hot = hot_keys(spark, batch_counts, metrics)
            hot = F.broadcast(hot_table)

            # -- probe: new keys vs stored keys (new×old), plus new×new --
            # hot-bucket guard: a boilerplate bucket past the cap would fan
            # every colliding new doc out against its whole membership.  The
            # guard covers BOTH probe directions — new×stored AND intra-batch
            # new×new — so streaming matches batch semantics (batch drops a
            # hot bucket entirely; a globally-hot but batch-locally-small key
            # must not leak intra pairs).  Guarded rows are counted, not
            # silently dropped (ADVICE r2/r3).
            probed = new_buckets.join(hot, KEY, "left_anti")
            intra = pairs_from_buckets(probed, KEY, max_bucket_size)
            store = _read_if_exists(spark, buckets_dir, new_buckets.schema)
            sig_store = sig.select(*sig_cols)
            pairs, all_sig = intra, sig
            if store is not None:
                store = store.join(hot, KEY, "left_anti")
                probe = probed.alias("nb").join(
                    store.alias("st"), KEY
                ).select(
                    F.col("nb.doc_id").alias("src_new"),
                    F.col("st.doc_id").alias("dst_old"),
                ).where(F.col("src_new") != F.col("dst_old")).select(
                    F.least("src_new", "dst_old").alias("src"),
                    F.greatest("src_new", "dst_old").alias("dst"),
                ).distinct()
                pairs = probe.unionByName(intra).distinct()
                all_sig = spark.read.schema(sig_store.schema).parquet(
                    sig_dir
                ).unionByName(sig_store)
            # materialized once: verify's participant prune and the edge
            # write both read these rows instead of re-running the probe
            pairs = pairs.localCheckpoint(eager=True)
            verify_fn(pairs, all_sig).write.mode("append").parquet(edges_dir)
            new_buckets.write.mode("append").parquet(buckets_dir)
            sig_store.write.mode("append").parquet(sig_dir)

            # -- maintenance appends --------------------------------------
            batch_counts.write.mode("append").parquet(counts_dir)
            if newly_hot is not None:
                newly_hot.write.mode("append").parquet(hot_dir)
            if compact_every and (batch_id + 1) % compact_every == 0:
                compacted = (
                    spark.read.schema(batch_counts.schema)
                    .parquet(counts_dir)
                    .groupBy(*KEY)
                    .agg(F.sum("n").alias("n"))
                    .localCheckpoint(eager=True)  # sever lineage before overwrite
                )
                compacted.coalesce(4).write.mode("overwrite").parquet(counts_dir)
                metrics["counts_log_compacted"] = True
        finally:
            for df in cached:
                df.unpersist()
        os.makedirs(metrics_dir, exist_ok=True)
        tmp = os.path.join(metrics_dir, f".batch_{batch_id}_{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump(metrics, f)
        os.replace(tmp, os.path.join(metrics_dir, f"batch_{batch_id}.json"))

    return process


def _start(pages: DataFrame, process, workdir: str, trigger_available_now: bool):
    w = pages.writeStream.foreachBatch(process).option(
        "checkpointLocation", f"{workdir}/_checkpoint"
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def start_incremental_dedup(
    pages: DataFrame,
    cfg: DedupConfig,
    workdir: str,
    trigger_available_now: bool = True,
    compact_every: int = 16,
):
    """Incremental MinHash near-dup detection: the reference's `store_vec` +
    query lifecycle (`lsh-rs/src/lsh/lsh.rs:434-445`) as a streaming job.

    Per micro-batch (foreachBatch, so the batch operators are reused
    verbatim):
      1. sign + band the new docs (same broadcast params as batch),
      2. probe the ACCUMULATED bucket store with the new docs' band keys —
         candidate pairs are (new × all-so-far), never all × all,
      3. exact-verify (Jaccard) and append edges to ``{workdir}/edges``,
      4. append the new bucket rows to ``{workdir}/buckets``.

    Hot-bucket guard, maintained INCREMENTALLY (not a per-batch full-store
    groupBy): ``{workdir}/bucket_counts`` is an append-only per-batch count
    log (O(batch) rows written per trigger, compacted to one row per key
    every ``compact_every`` batches), and ``{workdir}/hot_buckets`` is the
    materialized set of keys whose cumulative size crossed
    ``cfg.max_bucket_size``.  A key can only become hot in a batch that
    touches it, so the hot update scans the count log restricted to the
    batch's keys (broadcast semi-join) in ONE collect that returns the
    batch's hot keys; the metrics come from those rows on the driver and
    the probe's guard joins a local table of just those keys — never
    re-aggregates the store.  Rows the guard excludes are COUNTED per
    batch (``{workdir}/metrics``), matching the batch path's
    dropped/capped counters — drops are never silent.

    Fixed per-batch cost is kept to one pass per intermediate: the
    candidate pairs are checkpointed once and feed both verify's
    participant prune and the edge write, and every store read is pinned
    to the schema the batch already holds, so no read runs a
    schema-inference job.

    The bucket store is the growing index (parquet here; Iceberg/Delta on a
    real deployment for snapshot isolation); each batch's shuffle is
    proportional to the batch × its collisions, so a long-running crawl
    ingest stays O(new data) per trigger.  Batch 0 bootstraps the store.
    Exactly-once: the streaming checkpoint replays an incomplete batch;
    edge/bucket appends are idempotently deduped downstream by (src, dst) /
    (band_idx, band_key, doc_id) — same contract as the batch StageStore.
    A replayed batch may double-count in the count log; that only makes the
    guard trip earlier (conservative: more counted drops, never more pairs).
    """
    from lsh_rs_spark.operators.verify import jaccard_edges

    process = _incremental_processor(
        workdir,
        sign_fn=lambda b: signatures(b, cfg),
        band_fn=lambda s: explode_bands(s, cfg),
        verify_fn=lambda pairs, all_sig: jaccard_edges(pairs, all_sig, cfg),
        sig_cols=["doc_id", "shingles"],
        max_bucket_size=cfg.max_bucket_size,
        compact_every=compact_every,
        format_fingerprint=_format_fingerprint("minhash", cfg),
    )
    return _start(pages, process, workdir, trigger_available_now)


def start_incremental_simhash_dedup(
    pages: DataFrame,
    cfg,
    workdir: str,
    max_bucket_size: int = 10_000,
    trigger_available_now: bool = True,
    compact_every: int = 16,
):
    """Incremental SimHash near-dup detection — the same store_vec lifecycle
    as :func:`start_incremental_dedup`, Hamming-LSH family: sketch the new
    docs, band the sketch, probe the accumulated store, verify with exact
    ``bit_count(xor)``.  The signature store persists (doc_id, simhash) —
    8 bytes/doc, so verification joins stay tiny.  ``cfg`` is a
    SimHashConfig."""
    from lsh_rs_spark.functions.simhash import sketch_bands
    from lsh_rs_spark.operators.simhash_ops import simhash_sketches
    from lsh_rs_spark.operators.verify import hamming_edges

    process = _incremental_processor(
        workdir,
        sign_fn=lambda b: simhash_sketches(b, cfg),
        band_fn=lambda s: sketch_bands(
            s, "simhash", "doc_id", cfg.bands, cfg.bits_per_band, "doc_id"
        ),
        verify_fn=lambda pairs, all_sig: hamming_edges(pairs, all_sig, cfg),
        sig_cols=["doc_id", "simhash"],
        max_bucket_size=max_bucket_size,
        compact_every=compact_every,
        format_fingerprint=_format_fingerprint("simhash", cfg),
    )
    return _start(pages, process, workdir, trigger_available_now)


def start_bucket_sink(
    buckets: DataFrame, out_path: str, checkpoint: str, trigger_available_now: bool = True
):
    """Append band/bucket rows to parquet with exactly-once file-sink
    semantics (checkpointed offsets — the streaming counterpart of the
    batch StageStore commit)."""
    w = (
        buckets.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()
