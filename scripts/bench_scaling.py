"""Scaling evidence run (round 13): heaviest non-stream queries on the
key-shifted sf1 directory (scripts/gen_scale_sf.py) at a given core
count. Prints one JSON line; run once per core count:

    SPARK_GRAFT_CPUS=8  python scripts/bench_scaling.py
    SPARK_GRAFT_CPUS=32 python scripts/bench_scaling.py

Protocol: same session bootstrap as bench.py (mongoshake_spark.session
honors $SPARK_GRAFT_CPUS), one untimed warm pass over a tiny slice to
pay JVM/codegen/Arrow init, then TWO timed serial passes per query with
the noop sink (guide §1.4 — times the computation, not a sink) and the
min reported. This artifact exists to measure PARALLEL SCALING, not to
feed the driver's bench protocol; bench.py is untouched.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mongoshake_spark.session import get_spark  # noqa: E402

#: the 12 heaviest non-stream queries of the round-13 baseline
#: (plans/r13/BENCH_baseline_full.json serial spans), all reading only
#: the replicated documents/embeddings tables
QUERIES = [
    "mine_hard_negatives",
    "ann_ivfpq",
    "ann_ivfpq_rerank",
    "dedup_video_phash",
    "text_vector_neardup",
    "ann_opq_perm",
    "pipeline_curation",
    "ann_pq_rerank",
    "pipeline_media",
    "dedup_containment",
    "ann_pq_adc",
    "dedup_ngram_jaccard",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/root/sfscale/sf1")
    spark = get_spark("bench-scaling")
    cores = spark.sparkContext.defaultParallelism
    from mongoshake_spark.plans import QUERIES as REG
    from mongoshake_spark.functions.dedup import release_shingle_indexes

    def run(name: str) -> float:
        spark.sparkContext.setJobDescription(f"scaling:{name}")
        df = REG[name].fn(spark, sf_dir)
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        release_shingle_indexes()
        spark.catalog.clearCache()
        return dt

    # warm pass on the small fixture pays session bootstrap once
    for name in QUERIES:
        REG[name].fn(spark, "/root/testdata/sf0.01").write.format(
            "noop"
        ).mode("overwrite").save()
    release_shingle_indexes()
    spark.catalog.clearCache()

    passes = [{}, {}]
    for p in passes:
        for name in QUERIES:
            p[name] = round(run(name), 3)
    best = {n: min(p[n] for p in passes) for n in QUERIES}
    print(
        json.dumps(
            {
                "metric": "scaling_serial_noop",
                "cores": cores,
                "sf_dir": sf_dir,
                "queries": best,
                "passes": passes,
                "total": round(sum(best.values()), 2),
            }
        )
    )


if __name__ == "__main__":
    main()
