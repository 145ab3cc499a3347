"""Stage-by-stage wall profile of the bench's synth-webpages dedup.

Times each stage with an explicit materializing action so the bench's
23s (idle) / 89s (contended) total can be attributed.  Not part of the
driver contract — a developer tool.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from lsh_rs_spark.config import PIPELINE_CONFIG  # noqa: E402
from lsh_rs_spark.operators import lsh as L  # noqa: E402
from lsh_rs_spark.plans.pipeline import MemoryStages, dedup_chain  # noqa: E402
from lsh_rs_spark.sources.webpages import synth_webpages, with_doc_ids  # noqa: E402

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_PAGES = int(os.environ.get("PROFILE_PAGES", "50000"))
PARTS = int(os.environ.get("PROFILE_PARTS", str(CPUS)))


def main() -> None:
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("profile-pipeline")
        .config("spark.sql.shuffle.partitions", str(CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    cfg = PIPELINE_CONFIG
    t: dict[str, float] = {}

    def timed(name, fn):
        t0 = time.time()
        out = fn()
        t[name] = round(time.time() - t0, 3)
        print(f"{name:28s} {t[name]:8.3f}s", flush=True)
        return out

    # warmup python workers + codegen
    warm = with_doc_ids(synth_webpages(spark, 2_000, partitions=CPUS))
    warm.persist()
    L.signatures(warm, cfg).count()
    warm.unpersist()

    docs = with_doc_ids(synth_webpages(spark, N_PAGES, partitions=PARTS)).persist()
    timed("materialize_pages", docs.count)

    mem = MemoryStages()

    def timed_stage(name, build, parents, **kw):
        def run():
            df = mem(name, build, parents, **kw)
            if name == "signatures":
                df.count()  # sign here, not inside candidate_pairs
            return df
        return timed(name, run)

    keep = dedup_chain(docs, cfg, timed_stage)
    timed("keep_list_count", lambda: keep.where(~F.col("is_representative")).count())
    mem.release()

    print(json.dumps({"total": round(sum(t.values()), 3), "stages": t}))
    spark.stop()


if __name__ == "__main__":
    main()
