"""The benchmark workloads.

Each workload generates its corpus from the seed (``prepare``), runs the
program once per iteration in a fresh work directory (``run_once``, the
timed part) and then checks that iteration's output (``check``, untimed).
The first iteration of a run is an untimed warm-up.
The program sees only the generated parquet files.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass, field

from corpus import make_corpus, write_parquet
from hostmetrics import pair_recall

MIN_RECALL = 0.99
#: a run must end within 180 s; a stuck stream fails the iteration instead
DRAIN_TIMEOUT_S = 100


@dataclass
class Check:
    ok: bool
    recall: float
    digest: str
    detail: dict = field(default_factory=dict)


class Workload:
    name = ""
    n_pages = 0
    n_files = 1

    def __init__(self, spark, root: str):
        self.spark = spark
        self.root = root
        self.n_docs = 0
        self.truth: list[tuple[int, int]] = []
        self.reference: Check | None = None

    def prepare(self, seed: int) -> None:
        """Generate the corpus, register it with Spark, map the planted
        twin URLs to the program's doc ids."""
        from pyspark.sql import functions as F

        corpus = make_corpus(self.n_pages, seed)
        in_dir = os.path.join(self.root, "input")
        shutil.rmtree(in_dir, ignore_errors=True)
        self.files = write_parquet(corpus, in_dir, self.n_files)
        self.input_dir = in_dir
        self.docs = self.spark.read.parquet(in_dir).withColumn(
            "doc_id", F.xxhash64("url")
        )
        ids = dict(self.docs.select("url", "doc_id").collect())
        self.n_docs = len(corpus)
        self.truth = [(ids[a], ids[b]) for a, b in corpus.twins]

    def workdir(self, i: int) -> str:
        return os.path.join(self.root, f"run{i}")

    def run_once(self, i: int, warmup: bool = False):
        raise NotImplementedError

    def check(self, result) -> Check:
        raise NotImplementedError

    def verify(self, result) -> Check:
        """``check`` plus the cross-iteration rule: every iteration's output
        digest equals the first iteration's."""
        c = self.check(result)
        if self.reference is None:
            self.reference = c
        elif c.digest != self.reference.digest:
            c.ok = False
            c.detail["mismatch"] = "output differs from the first iteration"
        return c

    def clean(self, i: int) -> None:
        shutil.rmtree(self.workdir(i), ignore_errors=True)


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
    return h.hexdigest()


class CrawlDedup(Workload):
    """The pipeline's batch job with ``--span-cleaning``: ``DedupPipeline.run``
    over the corpus, then ``run_span_cleaning`` over the kept documents."""

    name = "crawl_dedup"
    n_pages = 6000
    n_files = 4

    def run_once(self, i: int, warmup: bool = False):
        from pyspark.sql import functions as F

        from lsh_rs_spark.config import PIPELINE_CONFIG
        from lsh_rs_spark.plans.pipeline import DedupPipeline

        pipe = DedupPipeline(self.spark, PIPELINE_CONFIG, self.workdir(i))
        keep = pipe.run(self.docs, resume=False)
        survivors = self.docs.join(
            keep.where(F.col("is_representative")).select("doc_id"),
            "doc_id", "left_semi",
        )
        clean = pipe.run_span_cleaning(survivors, resume=False)
        return keep, clean, clean.count()

    def check(self, result) -> Check:
        from pyspark.sql import functions as F

        keep, clean, n_clean = result
        rows = keep.select("doc_id", "cluster_id", "is_representative").collect()
        labels = {r[0]: r[1] for r in rows}
        kept = [r[0] for r in rows if r[2]]
        recall = pair_recall(self.truth, labels)
        spans = (
            clean.join(self.docs.select("doc_id", "text"), "doc_id")
            .select(
                "doc_id",
                F.sha2("clean_text", 256),
                F.octet_length("text") - F.octet_length("clean_text"),
            )
            .collect()
        )
        removed_bytes = sum(r[2] for r in spans)
        ok = (
            len(rows) == self.n_docs
            and n_clean == len(spans) == len(kept)
            and removed_bytes > 0
            and recall >= MIN_RECALL
        )
        digest = _digest(
            [("keep", d, "") for d in kept] + [("span", d, h) for d, h, _ in spans]
        )
        return Check(ok, recall, digest, {
            "kept": len(kept), "removed_bytes": removed_bytes,
        })


class IncrementalIngest(Workload):
    """``start_incremental_dedup`` draining the corpus one file per
    trigger (``availableNow``): one closed-loop stream query.  The warm-up
    drains the same files two per trigger, which runs the same code in
    half the batches."""

    name = "incremental_ingest"
    n_pages = 1500
    n_files = 3
    warmup_files_per_trigger = 2

    def run_once(self, i: int, warmup: bool = False):
        from lsh_rs_spark.config import PIPELINE_CONFIG
        from lsh_rs_spark.streaming.ingest import (
            read_page_stream, start_incremental_dedup,
        )

        per_trigger = self.warmup_files_per_trigger if warmup else 1
        pages = read_page_stream(
            self.spark, self.input_dir, max_files_per_trigger=per_trigger
        )
        q = start_incremental_dedup(pages, PIPELINE_CONFIG, self.workdir(i))
        if not q.awaitTermination(DRAIN_TIMEOUT_S):
            q.stop()
            raise TimeoutError(f"drain took over {DRAIN_TIMEOUT_S} s")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        return {"run_id": str(q.runId), "progress": batches, "workdir": self.workdir(i)}

    def latencies(self, result) -> list[float]:
        return [p["durationMs"]["triggerExecution"] / 1e3 for p in result["progress"]]

    def check(self, result) -> Check:
        edges = self.spark.read.parquet(os.path.join(result["workdir"], "edges"))
        pairs = {(r[0], r[1]) for r in edges.select("src", "dst").collect()}
        recall = pair_recall(self.truth, pairs)
        rows_in = sum(p["numInputRows"] for p in result["progress"])
        ok = rows_in == self.n_docs and recall >= MIN_RECALL
        return Check(ok, recall, str(len(pairs)),
                     {"edges": len(pairs), "batches": len(result["progress"])})


WORKLOADS = {w.name: w for w in (CrawlDedup, IncrementalIngest)}
