"""Per-stage scaling profile: the same job as tools/scaling_bench.py (the
production dedup chain) with each stage timed separately, run at two core
counts (taskset-confined, BLAS pinned, tmpfs spill — identical methodology).

Usage: python tools/stage_profile.py [n_pages] [low_cores] [high_cores]
Writes tools/stage_profile.json and prints one JSON line.
"""

from __future__ import annotations

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
    .config("spark.driver.memory", {heap!r})
    .config("spark.ui.enabled", "false")
    .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
docs = spark.read.parquet({input!r})
n = docs.count()
docs.agg(F.sum(F.length("text"))).collect()  # page-cache the bytes

from lsh_rs_spark.sources.webpages import synth_webpages, with_doc_ids
def run_chain(corpus, stages):
    mem = MemoryStages()
    def timed(name, build, parents, **kw):
        t0 = time.time()
        df = mem(name, build, parents, **kw)
        if name == "signatures":
            df.count()  # sign here, not inside candidate_pairs
        stages[name] = time.time() - t0
        return df
    keep = dedup_chain(corpus, cfg, timed)
    t0 = time.time()
    removed = keep.where(~F.col("is_representative")).count()
    stages["keep_count"] = time.time() - t0
    mem.release()
    return removed
run_chain(with_doc_ids(synth_webpages(spark, 2000, partitions=cores)), {{}})

stages = {{}}
t_all = time.time()
removed = run_chain(docs, stages)
wall = time.time() - t_all
print("RESULT " + json.dumps({{"cores": cores, "n_docs": n, "wall": wall,
    "docs_per_sec": n / wall, "removed": removed,
    "stages": {{k: round(v, 1) for k, v in stages.items()}}}}))
spark.stop()
"""


def run_at(cores: int, input_path: str) -> dict:
    # SCALING_HEAP: total driver/executor heap for the leg.  Default holds
    # it CONSTANT across legs (conservative: the high-parallelism leg then
    # runs with 1/factor the per-core memory a real factor-x-bigger
    # cluster would have); set e.g. 48g on the 8-core leg for per-core
    # memory parity with a 12g 2-core leg — the cluster-faithful model.
    code = SNIPPET.format(repo=REPO, cores=cores, input=input_path,
                          parts_factor=int(os.environ.get('SCALING_PARTS_FACTOR', '4')),
                          heap=os.environ.get('SCALING_HEAP', '12g'))
    os.makedirs("/dev/shm/spark-tmp", exist_ok=True)
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
    proc = subprocess.run(
        ["taskset", "-c", f"0-{cores - 1}", sys.executable, "-c", code],
        capture_output=True, text=True, timeout=3600, env=env,
    )
    if proc.returncode != 0:
        raise RuntimeError(
            f"leg at {cores} cores failed (rc={proc.returncode}); stderr "
            f"tail:\n{proc.stderr[-3000:]}"
        )
    out = proc.stdout
    import shutil

    shutil.rmtree("/dev/shm/spark-tmp", ignore_errors=True)
    for line in out.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"no RESULT line:\n{out[-2000:]}")


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000_000
    low = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    high = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    input_dir = os.path.join("/tmp", f"scaling_corpus_{n_pages}")
    assert os.path.exists(os.path.join(input_dir, "_SUCCESS")), \
        f"generate the corpus first via tools/scaling_bench.py {n_pages}"
    from scaling_bench import idle_gate  # same idle-host gate as the harness

    res = {}
    for cores in (low, high):
        gate = idle_gate(float(os.environ.get("SCALING_GATE_LOADAVG", "2.0")))
        r = run_at(cores, input_dir)
        r["gate"] = gate
        res[str(cores)] = r
        print(f"local[{cores}]: {r['docs_per_sec']:.1f} docs/s "
              f"({r['wall']:.1f}s) stages={r['stages']} "
              f"removed={r['removed']}", file=sys.stderr)
    assert res[str(low)]["removed"] == res[str(high)]["removed"]
    speed = {
        # guard the 1-decimal child rounding: a sub-50ms stage would
        # otherwise ZeroDivisionError after the whole benchmark ran
        k: round(res[str(low)]["stages"][k] / max(res[str(high)]["stages"][k], 0.1), 2)
        for k in res[str(low)]["stages"]
    }
    summary = {
        "metric": "stage_scaling_profile",
        "low_cores": low, "high_cores": high,
        "efficiency": round(
            res[str(high)]["docs_per_sec"] / res[str(low)]["docs_per_sec"]
            / (high / low), 3),
        "stage_speedups": speed,
        "runs": res,
        "measured_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    with open(os.path.join(REPO, "tools", "stage_profile.json"), "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
