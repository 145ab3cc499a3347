"""Shuffle/spill byte-level profile of the dedup job at one core count.

The wall-clock stage profile (tools/stage_profile.py) says WHICH stage
scales poorly; this tool says WHY — per-stage shuffle read/write and spill
bytes parsed from the Spark event log (the metrics the UI would show, but
headless).  Used in round 6 to pick the pairs/edges scaling lever with
data instead of guesswork.

Usage: python tools/stage_bytes.py [n_pages] [cores]
Prints per-named-stage wall + shuffle/spill bytes as one JSON line.
"""

from __future__ import annotations

import contextlib
import glob
import gzip
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SNIPPET = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession, functions as F
from lsh_rs_spark.config import PIPELINE_CONFIG as cfg
from lsh_rs_spark.plans.pipeline import MemoryStages, dedup_chain

cores = {cores}
spark = (SparkSession.builder.master(f"local[{{cores}}]")
    .config("spark.sql.shuffle.partitions", str(cores * {parts_factor}))
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
    .config("spark.sql.files.maxPartitionBytes", "4m")
    .config("spark.sql.files.openCostInBytes", "512k")
    .config("spark.local.dir", "/dev/shm/spark-tmp")
    .config("spark.driver.memory", "12g")
    .config("spark.ui.enabled", "false")
    .config("spark.eventLog.enabled", "true")
    .config("spark.eventLog.compress", "false")
    .config("spark.eventLog.compression.codec", "none")
    .config("spark.eventLog.dir", "file://{evdir}")
    .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
docs = spark.read.parquet({input!r})
n = docs.count()
docs.agg(F.sum(F.length("text"))).collect()

marks = []
def mark(name):
    marks.append((name, time.time()))

mem = MemoryStages()
def marked(name, build, parents, **kw):
    mark(name)
    df = mem(name, build, parents, **kw)
    if name == "signatures":
        df.count()  # sign in this window, not in candidate_pairs
    return df
keep = dedup_chain(docs, cfg, marked)
mark("keep_count")
removed = keep.where(~F.col("is_representative")).count()
mark("end")
print("MARKS " + json.dumps(marks))
print("RESULT " + json.dumps({{"cores": cores, "n_docs": n,
    "removed": removed}}))
spark.stop()
"""


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    input_dir = os.path.join("/tmp", f"scaling_corpus_{n_pages}")
    assert os.path.exists(os.path.join(input_dir, "_SUCCESS")), \
        f"generate the corpus first: python tools/scaling_bench.py {n_pages} 2 8 0"
    evdir = f"/tmp/spark-events-{os.getpid()}"
    os.makedirs(evdir, exist_ok=True)
    os.makedirs("/dev/shm/spark-tmp", exist_ok=True)
    code = SNIPPET.format(repo=REPO, cores=cores, input=input_dir, evdir=evdir, parts_factor=int(os.environ.get('SCALING_PARTS_FACTOR', '4')))
    env = dict(os.environ)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        env[var] = "1"
    # executors re-exec python fresh: the repo must be on PYTHONPATH (driver
    # sys.path does not propagate) — otherwise the harness only works when
    # launched from the repo root
    env["PYTHONPATH"] = REPO + (
        os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""
    )
    out = subprocess.run(
        ["taskset", "-c", f"0-{cores - 1}", sys.executable, "-c", code],
        capture_output=True, text=True, timeout=3600, check=True, env=env,
    ).stdout
    import shutil
    shutil.rmtree("/dev/shm/spark-tmp", ignore_errors=True)
    marks = result = None
    for line in out.splitlines():
        if line.startswith("MARKS "):
            marks = json.loads(line[6:])
        elif line.startswith("RESULT "):
            result = json.loads(line[7:])
    assert marks and result, out[-2000:]

    # stage windows: [mark_i, mark_{i+1})
    windows = [
        (marks[i][0], marks[i][1], marks[i + 1][1])
        for i in range(len(marks) - 1)
    ]

    # parse the event log: submission time buckets a Spark stage into the
    # named window that was active when it was submitted
    logs = sorted(glob.glob(os.path.join(evdir, "*")), key=os.path.getmtime)
    if os.path.isdir(logs[-1]):  # Spark 4 rolling event log: a directory
        # of events_N_* part files (plus appstatus_*); read them in order
        logs = sorted(
            glob.glob(os.path.join(logs[-1], "events_*")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
    opener = gzip.open if logs[-1].endswith(".gz") else open
    per = {name: {"wall": round(t1 - t0, 1), "shuffle_write_mb": 0.0,
                  "shuffle_read_mb": 0.0, "spill_disk_mb": 0.0,
                  "spill_mem_mb": 0.0, "input_mb": 0.0, "n_stages": 0,
                  "task_time_s": 0.0, "cpu_time_s": 0.0, "gc_time_s": 0.0}
           for name, t0, t1 in windows}
    import itertools
    with contextlib.ExitStack() as stack:
        for raw in itertools.chain.from_iterable(
            stack.enter_context(opener(p, "rt")) for p in logs
        ):
            try:
                ev = json.loads(raw)
            except json.JSONDecodeError:
                continue
            if ev.get("Event") != "SparkListenerStageCompleted":
                continue
            si = ev["Stage Info"]
            sub = si.get("Submission Time")
            if sub is None:
                continue
            sub /= 1000.0
            name = None
            for wname, t0, t1 in windows:
                if t0 <= sub < t1:
                    name = wname
                    break
            if name is None:
                continue
            # accumulate task-metric totals from the stage's accumulables
            acc = {a["Name"]: a.get("Value", 0)
                   for a in si.get("Accumulables", [])}

            def mb(key):
                v = acc.get(key, 0)
                try:
                    return float(v) / 1e6
                except (TypeError, ValueError):
                    return 0.0

            p = per[name]
            p["n_stages"] += 1
            def rawv(key):
                try:
                    return float(acc.get(key, 0))
                except (TypeError, ValueError):
                    return 0.0

            # task_time/cores vs wall is the parallelism diagnosis: a wall
            # far above task_time/cores means idle cores (straggler tail,
            # single-wave scheduling, driver gaps between stages)
            p["task_time_s"] += rawv("internal.metrics.executorRunTime") / 1e3
            p["cpu_time_s"] += rawv("internal.metrics.executorCpuTime") / 1e9
            p["gc_time_s"] += rawv("internal.metrics.jvmGCTime") / 1e3
            p["shuffle_write_mb"] += mb("internal.metrics.shuffle.write.bytesWritten")
            p["shuffle_read_mb"] += (
                mb("internal.metrics.shuffle.read.localBytesRead")
                + mb("internal.metrics.shuffle.read.remoteBytesRead"))
            p["spill_disk_mb"] += mb("internal.metrics.diskBytesSpilled")
            p["spill_mem_mb"] += mb("internal.metrics.memoryBytesSpilled")
            p["input_mb"] += mb("internal.metrics.input.bytesRead")
    for p in per.values():
        for k, v in p.items():
            if isinstance(v, float):
                p[k] = round(v, 1)
    summary = {
        "metric": "stage_bytes_profile",
        "cores": cores,
        "n_docs": result["n_docs"],
        "removed": result["removed"],
        "stages": per,
        "measured_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    print(json.dumps(summary))
    shutil.rmtree(evdir, ignore_errors=True)


if __name__ == "__main__":
    main()
