"""One dedup_pipeline_count run with event logging; parse job/stage wall
times to attribute the chain's seconds (round-7 optimization evidence).

Usage: python tools/joblog_probe.py [n_pages] [extra_conf k=v ...]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from lsh_rs_spark.config import PIPELINE_CONFIG  # noqa: E402
from lsh_rs_spark.plans.pipeline import MemoryStages, dedup_chain  # noqa: E402
from lsh_rs_spark.sources.webpages import synth_webpages, with_doc_ids  # noqa: E402
from lsh_rs_spark.tuning import suggest_shuffle_partitions  # noqa: E402

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_PAGES = int(sys.argv[1]) if len(sys.argv) > 1 else 55980
LOG_DIR = "/tmp/spark-events-probe"


def dedup_pipeline_count(docs, cfg, sc):
    """Non-representative count of the production chain, each stage's jobs
    tagged with the stage name."""
    mem = MemoryStages()

    def tagged(name, build, parents, **kw):
        sc.setJobDescription(name)
        return mem(name, build, parents, **kw)

    docs = docs.persist()
    try:
        keep = dedup_chain(docs, cfg, tagged)
        sc.setJobDescription("keep_count")
        return keep.where(~F.col("is_representative")).count()
    finally:
        mem.release()
        docs.unpersist()


def main():
    os.makedirs(LOG_DIR, exist_ok=True)
    for f in os.listdir(LOG_DIR):
        os.unlink(os.path.join(LOG_DIR, f))
    b = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("joblog-probe")
        .config("spark.sql.shuffle.partitions",
                str(suggest_shuffle_partitions(N_PAGES * 10, CPUS)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.dir", LOG_DIR)
    )
    for kv in sys.argv[2:]:
        k, v = kv.split("=", 1)
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    cfg = PIPELINE_CONFIG
    if os.environ.get("PROBE_DOCS"):
        pages = spark.read.parquet(
            os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
            + "/documents.parquet"
        )
    else:
        pages = with_doc_ids(
            synth_webpages(spark, N_PAGES, partitions=CPUS)
        ).persist()
        pages.count()
    # warmup
    warm = with_doc_ids(synth_webpages(spark, 2000, partitions=CPUS))
    dedup_pipeline_count(warm, cfg, spark.sparkContext)
    spark.catalog.clearCache()
    pages.persist().count()
    t0 = time.time()
    n = dedup_pipeline_count(pages, cfg, spark.sparkContext)
    wall = time.time() - t0
    spark.stop()

    # parse event log
    jobs = {}
    stages = {}
    logfiles = []
    for root, _dirs, files in os.walk(LOG_DIR):
        logfiles += [os.path.join(root, f) for f in files
                     if "events" in f or f.startswith("local-")]
    for fp in logfiles:
        for line in open(fp):
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "t0": ev["Submission Time"],
                    "desc": ev.get("Properties", {}).get(
                        "spark.job.description", ""),
                    "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                }
            elif e == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stages[si["Stage ID"]] = {
                    "name": si["Stage Name"].split("\n")[0][:60],
                    "tasks": si["Number of Tasks"],
                    "ms": si.get("Completion Time", 0) - si.get("Submission Time", 0),
                }
    out = {"wall": round(wall, 3), "removed": n, "n_pages": N_PAGES,
           "jobs": [], "conf": sys.argv[2:]}
    t_first = min(j["t0"] for j in jobs.values() if "t1" in j)
    for jid in sorted(jobs):
        j = jobs[jid]
        if "t1" not in j:
            continue
        out["jobs"].append({
            "job": jid,
            "desc": j["desc"][:40],
            "start_rel": round((j["t0"] - t_first) / 1000, 3),
            "secs": round((j["t1"] - j["t0"]) / 1000, 3),
            "stages": [
                {"id": sid, **stages[sid]} for sid in sorted(j["stages"])
                if sid in stages
            ],
        })
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
