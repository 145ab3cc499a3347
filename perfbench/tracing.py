"""Spans around the calls into each layer, and the per-layer numbers behind them.

Nothing here edits the program.  ``Tracer.install`` wraps, at run time,
``StageStore.write`` (one span per pipeline stage, each with its own Spark
job group named after the span) and the operator functions the pipeline
and the streaming processor call while building plans.  Spans are kept in
memory.  After a traced iteration, ``layer_metrics`` joins them with the
Spark status REST API (the UI runs on localhost in the traced run only):
jobs by group for stages, jobs by submission time for plan spans, and jobs
by the ``batch = N`` description Spark gives each micro-batch.
"""

from __future__ import annotations

import datetime
import importlib
import json
import os
import re
import statistics
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

STAGES = (
    "exact_groups", "signatures", "buckets", "bucket_stats",
    "dropped_buckets", "candidate_pairs", "edges", "components",
    "keep_list", "substring_spans", "clean_docs",
)
STAGE_FIELDS = (
    "wall_s", "jobs", "tasks", "rows_out", "executor_cpu_s",
    "shuffle_write_bytes", "spill_bytes", "task_skew",
)
#: (module, attribute) of every plan-building function a span wraps; the
#: streaming processor binds ``signatures``/``explode_bands`` by name, so
#: its module is patched too.
PLAN_FUNCTIONS = (
    ("lsh_rs_spark.operators.lsh", "signatures"),
    ("lsh_rs_spark.operators.lsh", "explode_bands"),
    ("lsh_rs_spark.operators.lsh", "candidate_pairs"),
    ("lsh_rs_spark.operators.verify", "jaccard_edges"),
    ("lsh_rs_spark.operators.components", "connected_components_auto"),
    ("lsh_rs_spark.operators.suffix", "substring_dup_spans"),
    ("lsh_rs_spark.operators.suffix", "strip_spans"),
    ("lsh_rs_spark.streaming.ingest", "signatures"),
    ("lsh_rs_spark.streaming.ingest", "explode_bands"),
)
PLAN_NAMES = tuple(dict.fromkeys(attr for _, attr in PLAN_FUNCTIONS))
INGEST_FIELDS = (
    "add_batch_s", "query_planning_s", "commit_s", "jobs_per_batch",
    "tasks_per_batch", "executor_cpu_s_per_batch",
    "store_read_bytes_per_batch", "probe_rows_skipped_hot",
)


def per_layer_names() -> list[str]:
    """Every per-layer metric name, in output order."""
    names = [f"stage.{s}.{f}" for s in STAGES for f in STAGE_FIELDS]
    names += [f"plan.{p}.{f}" for p in PLAN_NAMES for f in ("wall_s", "jobs")]
    names += [f"ingest.{f}" for f in INGEST_FIELDS]
    names += [
        "stage.edges.verify_yield", "stage.signatures.prededup_ratio",
        "ingest.hot_skip_ratio", "iter.unattributed_s", "trace.overhead_ratio",
    ]
    return names


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    end: float = 0.0
    rows_out: int | None = None
    children_s: float = 0.0

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.children_s


@dataclass
class Tracer:
    spark: object
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _saved: list[tuple] = field(default_factory=list)

    # -- spans ----------------------------------------------------------
    @contextmanager
    def span(self, name: str, job_group: bool = False):
        sc = self.spark.sparkContext
        idx = len(self.spans)
        s = Span(name, time.time(), self._stack[-1] if self._stack else None)
        self.spans.append(s)
        self._stack.append(idx)
        if job_group:
            sc.setJobGroup(name, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if s.parent is not None:
                self.spans[s.parent].children_s += s.end - s.start
            if job_group:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def install(self) -> None:
        from lsh_rs_spark.sources.storage import StageStore

        tracer = self
        write = StageStore.write

        def traced_write(store, df, name, *args, **kwargs):
            with tracer.span(f"stage.{name}", job_group=True) as s:
                manifest = write(store, df, name, *args, **kwargs)
                s.rows_out = manifest["rows"]
            return manifest

        self._saved.append((StageStore, "write", write))
        StageStore.write = traced_write
        for mod_name, attr in PLAN_FUNCTIONS:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            self._saved.append((mod, attr, fn))
            setattr(mod, attr, self._wrap_plan(attr, fn))

    def _wrap_plan(self, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            # no job group here: inside foreachBatch the micro-batch's jobs
            # must keep the group Spark gives them (the query's runId)
            with tracer.span(f"plan.{name}"):
                return fn(*args, **kwargs)

        return traced

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved.clear()

    # -- status REST API --------------------------------------------------
    def _rest(self, path: str):
        sc = self.spark.sparkContext
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=60) as r:
            return json.load(r)

    def drain_listener(self) -> None:
        """Wait until the status store has seen every finished job."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def max_job_id(self) -> int:
        self.drain_listener()
        return max((j["jobId"] for j in self._rest("jobs")), default=-1)

    def layer_metrics(self, after_job: int, iter_start: float, iter_wall: float,
                      n_docs: int, ingest: dict | None) -> dict[str, float]:
        """Per-layer numbers of one traced iteration: the spans recorded
        since ``iter_start`` and the jobs numbered above ``after_job``."""
        self.drain_listener()
        jobs = [j for j in self._rest("jobs") if j["jobId"] > after_job]
        stages = {
            s["stageId"]: s
            for s in self._rest("stages?status=complete&details=true")
        }
        spans = [s for s in self.spans if s.start >= iter_start]
        out = dict.fromkeys(per_layer_names(), 0.0)

        for st in STAGES:
            mine = [s for s in spans if s.name == f"stage.{st}"]
            if not mine:
                continue
            js = [j for j in jobs if j.get("jobGroup") == f"stage.{st}"]
            agg = _stage_totals(js, stages)
            out[f"stage.{st}.wall_s"] = sum(s.self_s for s in mine)
            out[f"stage.{st}.jobs"] = len(js)
            out[f"stage.{st}.rows_out"] = sum(s.rows_out or 0 for s in mine)
            for k in STAGE_FIELDS:
                if k in agg:
                    out[f"stage.{st}.{k}"] = agg[k]

        submitted = [_epoch(j["submissionTime"]) for j in jobs]
        for p in PLAN_NAMES:
            mine = [s for s in spans if s.name == f"plan.{p}"]
            out[f"plan.{p}.wall_s"] = sum(s.self_s for s in mine)
            # REST times have millisecond resolution
            out[f"plan.{p}.jobs"] = sum(
                1 for t in submitted
                if any(s.start - 0.001 <= t <= s.end + 0.001 for s in mine)
            )

        rows = {st: out[f"stage.{st}.rows_out"] for st in STAGES}
        if rows["candidate_pairs"]:
            out["stage.edges.verify_yield"] = rows["edges"] / rows["candidate_pairs"]
        if rows["signatures"]:
            out["stage.signatures.prededup_ratio"] = rows["signatures"] / n_docs
        if ingest is not None:
            out.update(_ingest_metrics(ingest, jobs, stages))
        top = sum(s.end - s.start for s in spans if s.parent is None)
        out["iter.unattributed_s"] = max(0.0, iter_wall - top)
        return out


def _epoch(stamp: str) -> float:
    """Spark REST time ('2026-01-01T00:00:00.123GMT') → epoch seconds."""
    dt = datetime.datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=datetime.timezone.utc).timestamp()


def _stage_totals(jobs: list[dict], stages: dict) -> dict[str, float]:
    """Executor totals over the completed stages of ``jobs`` (a stage that
    several jobs share, or that a job skipped, is counted once or never)."""
    ids = {sid for j in jobs for sid in j["stageIds"] if sid in stages}
    mine = [stages[i] for i in ids]
    durations = [
        t["duration"] for s in mine for t in (s.get("tasks") or {}).values()
        if t.get("duration") is not None
    ]
    skew = 0.0
    if durations and statistics.median(durations) > 0:
        skew = max(durations) / statistics.median(durations)
    return {
        "tasks": sum(s["numTasks"] for s in mine),
        "executor_cpu_s": sum(s["executorCpuTime"] for s in mine) / 1e9,
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in mine),
        "spill_bytes": sum(s["diskBytesSpilled"] for s in mine),
        "task_skew": skew,
        "input_bytes": sum(s["inputBytes"] for s in mine),
    }


BATCH_RE = re.compile(r"batch = (\d+)")


def _ingest_metrics(ingest: dict, jobs: list[dict], stages: dict) -> dict:
    """Per-micro-batch medians of one traced drain, over the batches that
    probe the store: batch 0 only bootstraps it.

    ``ingest`` holds the query's ``run_id``, its ``progress`` list, the
    mean input ``file_bytes``, and the ``skipped`` (from the program's
    ``metrics/batch_*.json``) and ``probed`` row totals."""
    progress = [p for p in ingest["progress"] if p["batchId"] > 0]
    by_batch: dict[int, list[dict]] = {}
    for j in jobs:
        m = BATCH_RE.search(j.get("description") or "")
        if j.get("jobGroup") == ingest["run_id"] and m and int(m.group(1)) > 0:
            by_batch.setdefault(int(m.group(1)), []).append(j)
    per = [_stage_totals(js, stages) for _, js in sorted(by_batch.items())]
    store_read = [max(0, p["input_bytes"] - ingest["file_bytes"]) for p in per]
    med = statistics.median
    dur = [p["durationMs"] for p in progress]
    return {
        "ingest.add_batch_s": med(d.get("addBatch", 0) for d in dur) / 1e3,
        "ingest.query_planning_s": med(d.get("queryPlanning", 0) for d in dur) / 1e3,
        "ingest.commit_s": med(
            d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur
        ) / 1e3,
        "ingest.jobs_per_batch": med(len(js) for js in by_batch.values()),
        "ingest.tasks_per_batch": med(p["tasks"] for p in per),
        "ingest.executor_cpu_s_per_batch": med(p["executor_cpu_s"] for p in per),
        "ingest.store_read_bytes_per_batch": med(store_read),
        "ingest.probe_rows_skipped_hot": ingest["skipped"],
        "ingest.hot_skip_ratio": (
            ingest["skipped"] / ingest["probed"] if ingest["probed"] else 0.0
        ),
    }


def batch_metrics(metrics_dir: str) -> list[dict]:
    """The program's own per-batch metrics files, in batch order."""
    files = sorted(
        (f for f in os.listdir(metrics_dir) if re.fullmatch(r"batch_\d+\.json", f)),
        key=lambda f: int(f[6:-5]),
    )
    out = []
    for f in files:
        with open(os.path.join(metrics_dir, f)) as fh:
            out.append(json.load(fh))
    return out
