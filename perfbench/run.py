#!/usr/bin/env python3
"""Benchmark of the lsh_rs_spark dedup engine, one workload per run.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_dedup --seed 1 --seconds 12 --trace 0

A run starts one ``local[nproc]`` Spark session from this process and goes
through three phases:

1. Set-up: import the program, start the SparkSession (this launches the
   JVM), generate the corpus from the seed and register it, then run one
   untimed warm-up iteration.  ``setup_s`` is the time from process start
   to the end of the warm-up (its output check excluded): a
   ``spark-submit`` user pays these cold costs on every job.
2. Timed iterations until ``--seconds`` have passed (at least one).  Each
   records wall time, process-tree CPU and host steal; each is checked.
3. With ``--trace 1`` the timed iterations alternate untraced and traced
   (spans + Spark status REST API); the per-layer metrics come from the
   traced ones and the result reports traced/untraced ``job_s``.

The last stdout line is the result object; the line before it holds the
per-iteration details (host diagnostics, batch latencies, errors).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

#: taken before anything heavy is imported; ``setup_s`` counts from here
PROCESS_START = time.perf_counter()

import hostmetrics as H  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def per_layer_unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[1]
    if leaf.endswith("_s") or leaf.endswith("_s_per_batch"):
        return "s"
    if "bytes" in leaf:
        return "bytes"
    if leaf.startswith(("jobs", "tasks", "rows", "probe_rows")):
        return "count"
    return "ratio"


END_TO_END_UNITS = {
    "setup_s": "s",
    "job_s": "s",
    "docs_per_s": "docs/s",
    "cpu_s_per_kdoc": "s",
    "dup_pair_recall": "ratio",
}


def start_session(work: str, trace: bool):
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.catalogImplementation", "in-memory")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "true" if trace else "false")
    )
    if trace:
        b = (
            b.config("spark.ui.port", "0")
            .config("spark.ui.retainedJobs", "100000")
            .config("spark.ui.retainedStages", "100000")
            .config("spark.ui.retainedTasks", "1000000")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_all(spark) -> None:
    """Stop Spark and its JVM, then wait until no child process is left."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 60
    while len(H.process_tree(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for pid in H.process_tree(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def run(args, work: str) -> tuple[dict, dict]:
    session: list = []  # the live SparkSession, for stop_all
    try:
        return measure(args, work, session)
    finally:
        stop_all(session[-1] if session else None)


def measure(args, work: str, session: list) -> tuple[dict, dict]:
    from tracing import Tracer, per_layer_names

    t = time.perf_counter()
    import lsh_rs_spark.plans.pipeline  # noqa: F401
    import lsh_rs_spark.streaming.ingest  # noqa: F401

    spark = start_session(work, args.trace)
    session.append(spark)
    setup = {"session_s": time.perf_counter() - t}
    t = time.perf_counter()
    wl = WORKLOADS[args.workload](spark, work)
    wl.prepare(args.seed)
    setup["prepare_s"] = time.perf_counter() - t

    attempted = failed = 0
    errors: list[str] = []
    recalls: list[float] = []

    def iterate(i: int, tracer: Tracer | None = None, warmup: bool = False) -> dict:
        nonlocal attempted, failed
        attempted += 1
        rec: dict = {"iteration": i, "traced": tracer is not None, "warmup": warmup}
        try:
            if tracer is not None:
                after_job = tracer.max_job_id()
                tracer.install()
            host0, cpu0 = H.host_sample(), H.tree_cpu_seconds()
            t_wall, t0 = time.time(), time.perf_counter()
            result = wl.run_once(i, warmup)
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = H.tree_cpu_seconds() - cpu0
            rec["host"] = H.host_delta(host0, H.host_sample())
            # the warm-up may batch differently, so it sets no reference
            chk = wl.check(result) if warmup else wl.verify(result)
            rec.update(ok=chk.ok, recall=chk.recall, **chk.detail)
            recalls.append(chk.recall)
            if hasattr(wl, "latencies"):
                rec["batch_latency_s"] = wl.latencies(result)
            if tracer is not None:
                rec["layers"] = tracer.layer_metrics(
                    after_job, t_wall, rec["wall_s"], wl.n_docs,
                    _ingest_trace(wl, result) if hasattr(wl, "latencies") else None,
                )
            if not chk.ok:
                failed += 1
        except Exception:
            failed += 1
            rec["ok"] = False
            errors.append(traceback.format_exc(limit=3))
        finally:
            if tracer is not None:
                tracer.uninstall()
            wl.clean(i)
        return rec

    before_warmup = time.perf_counter() - PROCESS_START
    warm = iterate(0, warmup=True)
    setup["warmup_s"] = warm.get("wall_s", 0.0)
    # the warm-up's check and clean-up are the benchmark's work, not set-up
    setup_s = before_warmup + setup["warmup_s"]
    timed: list[dict] = []
    tracer = Tracer(spark) if args.trace else None
    t_start = time.perf_counter()
    i = 1
    while True:
        traced = tracer is not None and i % 2 == 0
        timed.append(iterate(i, tracer if traced else None))
        i += 1
        enough = any(not r["traced"] for r in timed) and (
            tracer is None or any(r["traced"] for r in timed)
        )
        if enough and time.perf_counter() - t_start >= args.seconds:
            break

    good = [r for r in timed if r.get("ok")]
    plain = [r for r in good if not r["traced"]]
    traced_runs = [r for r in good if r["traced"]]
    detail = {
        "workload": args.workload, "seed": args.seed, "n_docs": wl.n_docs,
        "setup_s": setup_s, "setup": setup, "warmup": warm, "iterations": timed,
        "error_rate": failed / attempted, "errors": errors,
    }
    lat = [x for r in plain for x in r.get("batch_latency_s", [])]
    if lat:
        detail["batch_latency_p50_s"] = statistics.median(lat)
        detail["batch_latency_tail_s"] = H.tail_percentile(lat)
    if not plain or (args.trace and not traced_runs) or not warm.get("ok"):
        return detail, {}

    job_s = statistics.median([r["wall_s"] for r in plain])
    if args.trace:
        metrics = {
            name: statistics.median([r["layers"][name] for r in traced_runs])
            for name in per_layer_names()
        }
        metrics["trace.overhead_ratio"] = (
            statistics.median([r["wall_s"] for r in traced_runs]) / job_s
        )
        units = {n: per_layer_unit(n) for n in metrics}
    else:
        kdocs = wl.n_docs / 1000
        metrics = {
            "setup_s": setup_s,
            "job_s": job_s,
            "docs_per_s": wl.n_docs / job_s,
            "cpu_s_per_kdoc": statistics.median([r["cpu_s"] / kdocs for r in plain]),
            "dup_pair_recall": min(recalls),
        }
        units = END_TO_END_UNITS
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }
    return detail, result


def _ingest_trace(wl, result) -> dict:
    from lsh_rs_spark.config import PIPELINE_CONFIG
    from tracing import batch_metrics

    progress = result["progress"]
    batches = batch_metrics(os.path.join(result["workdir"], "metrics"))
    mean_file = sum(os.path.getsize(f) for f in wl.files) / len(wl.files)
    return {
        "run_id": result["run_id"],
        "progress": progress,
        "file_bytes": mean_file,
        "skipped": sum(b.get("probe_rows_skipped_hot", 0) for b in batches),
        "probed": sum(p["numInputRows"] for p in progress) * PIPELINE_CONFIG.bands,
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    # a terminated run still stops Spark and its JVM (the finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "lsh_rs_spark")):
        print("perfbench: run from the repository root (no lsh_rs_spark/ here)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    # Python workers import the program from the checkout; every temp file
    # of this process, the JVM and the workers stays under ``work``
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        detail, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps({"detail": detail}, default=str))
    if not result:
        print("perfbench: no successful iteration to report", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
