"""Round-7 optimization harness (bench.py is FROZEN for measurement).

Per-stage timings, noop-sink isolation (guide §1.4) and explain("formatted")
capture (guide §7.2) for every headline query of bench.py.  Prints one JSON
line per mode; plans go to plans/r07/.

Usage:
  python bench_extra.py profile      # stage-level timings, dedup chain
  python bench_extra.py queries     # noop-isolated headline queries
  python bench_extra.py plans NAME  # write plans/r07/<query>_<NAME>.txt
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from lsh_rs_spark.config import ORACLE_SRP, PIPELINE_CONFIG, SimHashConfig  # noqa: E402
from lsh_rs_spark.operators import ann as ANN  # noqa: E402
from lsh_rs_spark.operators import dedup as DD  # noqa: E402
from lsh_rs_spark.operators import lsh as L  # noqa: E402
from lsh_rs_spark.operators import simhash_ops as SH  # noqa: E402
from lsh_rs_spark.operators import suffix as SX  # noqa: E402
from lsh_rs_spark.plans.pipeline import MemoryStages, dedup_chain  # noqa: E402
from lsh_rs_spark.sources.webpages import synth_webpages, with_doc_ids  # noqa: E402
from lsh_rs_spark.tuning import suggest_shuffle_partitions  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SYNTH_PAGES = int(os.environ.get("BX_SYNTH_PAGES", "55980"))
PLANS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r07")


def get_spark():
    return (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("lsh-rs-spark-bench-extra")
        .config(
            "spark.sql.shuffle.partitions",
            str(suggest_shuffle_partitions(SYNTH_PAGES * 10, CPUS)),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(spark, out, name, fn, runs=3):
    secs = []
    for _ in range(runs):
        spark.catalog.clearCache()
        t0 = time.time()
        fn()
        secs.append(round(time.time() - t0, 3))
    out[name] = sorted(secs)[len(secs) // 2]
    out[name + "_runs"] = secs


def profile(spark):
    """Stage-by-stage timing of the dedup chain (synth corpus), median of 3."""
    cfg = PIPELINE_CONFIG
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pages = with_doc_ids(synth_webpages(spark, SYNTH_PAGES, partitions=CPUS)).persist()
    pages.count()
    out = {"synth_pages": SYNTH_PAGES, "loadavg": os.getloadavg()[0]}

    # warmup python workers
    L.signatures(pages.limit(2000), cfg).count()

    def stage_times(corpus, tag):
        sc = spark.sparkContext
        res = {}
        for _ in range(3):
            run = {}
            mem = MemoryStages()

            def timed_stage(name, build, parents, **kw):
                sc.setJobDescription(f"{tag}: {name}")
                t0 = time.time()
                df = mem(name, build, parents, **kw)
                if name == "signatures":
                    noop(df)  # sign here, not inside candidate_pairs
                run[name] = time.time() - t0
                return df

            keep = dedup_chain(corpus, cfg, timed_stage)
            t0 = time.time()
            sc.setJobDescription(f"{tag}: keep_count")
            keep.where(~F.col("is_representative")).count()
            run["keep_count"] = time.time() - t0
            mem.release()
            spark.catalog.clearCache()
            if not corpus.is_cached and corpus is pages:
                pages.persist().count()
            for k, v in run.items():
                res.setdefault(k, []).append(round(v, 3))
        return {k: sorted(v)[1] for k, v in res.items()} | {
            k + "_runs": v for k, v in res.items()
        }

    out["synth"] = stage_times(pages, "synth")
    docs_p = docs.persist()
    docs_p.count()
    out["docs"] = stage_times(docs_p, "docs")
    pages.unpersist()
    docs_p.unpersist()
    print(json.dumps(out))


def queries(spark):
    """Noop-isolated headline queries, medians of 3."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = {"loadavg_start": os.getloadavg()[0]}
    # warmup
    SH.simhash_near_dup_pairs(
        docs.limit(500), SimHashConfig(n_bits=48, bands=6, hamming_threshold=4)
    ).count()

    timed(
        spark, out, "simhash_pairs_documents",
        lambda: SH.simhash_near_dup_pairs(
            docs, SimHashConfig(n_bits=48, bands=6, hamming_threshold=4)
        ).count(),
    )
    q = emb.where(F.col("vec_id") % 100 == 0)
    timed(spark, out, "ann_srp_topk", lambda: ANN.ann_topk(q, emb, ORACLE_SRP, k=10).count())
    timed(
        spark, out, "substring_dups_documents",
        lambda: SX.substring_dup_pairs(docs, min_match=48, k_gram=16).count(),
    )
    out["loadavg_end"] = os.getloadavg()[0]
    print(json.dumps(out))


def plans(spark, label):
    os.makedirs(PLANS_DIR, exist_ok=True)
    cfg = PIPELINE_CONFIG
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    sig = L.signatures(docs, cfg)
    pairs = L.candidate_pairs(L.explode_bands(sig, cfg), cfg)

    targets = {
        "signatures": L.signatures(docs, cfg),
        "candidate_pairs": pairs,
        "simhash_pairs_documents": SH.simhash_near_dup_pairs(
            docs, SimHashConfig(n_bits=48, bands=6, hamming_threshold=4)
        ),
        "ann_srp_topk": ANN.ann_topk(
            emb.where(F.col("vec_id") % 100 == 0), emb, ORACLE_SRP, k=10
        ),
        "substring_dups_documents": SX.substring_dup_pairs(
            docs, min_match=48, k_gram=16
        ),
        "exact_dup_edges": DD.exact_dup_edges(docs),
    }
    for name, df in targets.items():
        p = os.path.join(PLANS_DIR, f"{name}_{label}.txt")
        with open(p, "w") as f:
            f.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
        print("wrote", p)


def main():
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    if mode == "profile":
        profile(spark)
    elif mode == "queries":
        queries(spark)
    elif mode == "plans":
        plans(spark, sys.argv[2] if len(sys.argv) > 2 else "before")
    else:
        raise SystemExit(f"unknown mode {mode}")
    spark.stop()


if __name__ == "__main__":
    main()
