"""Phase-level profiler for the scaling rig (round 5).

Why: the north rule's N->4N efficiency criterion failed at 0.47 with a
fitted ~160 s/run serial term (round-4 judge measurement). T = s + w/n
over two points cannot say WHERE the serial time lives; this script
times each stage of the dedup stage graph (plans/graph.py) separately,
in the same pinned fresh-process harness run_scaling_rep uses, so the
non-scaling phase is identifiable and fixable. It runs minhash_dedup's
own graph with a stage policy that persists, counts and times every
stage, then minhash_dedup itself as the end-to-end reference.

Usage (one pinned rep, prints one JSON line):
    python scripts/profile_scaling.py <ncores> [n_docs] [words]
Run it once per level from a clean shell; compare per-phase times.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n = int(sys.argv[1])
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 300_000
    words = int(sys.argv[3]) if len(sys.argv) > 3 else 400
    os.sched_setaffinity(0, set(range(n)))
    os.environ.setdefault("SPARK_GRAFT_PRETOUCH", "1")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "8g")

    from pyspark.sql import functions as F

    import bench
    from fuzzy_matcher_spark.config import DedupConfig
    from fuzzy_matcher_spark.operators.cachereg import release_caches
    from fuzzy_matcher_spark.operators.dedup_minhash import minhash_dedup
    from fuzzy_matcher_spark.plans.graph import dedup_graph
    from fuzzy_matcher_spark.session import get_spark
    from fuzzy_matcher_spark.sources.synth import synthetic_docs

    corpus = os.environ.get(
        "SPARK_GRAFT_SCALE_CORPUS",
        f"/tmp/spark_graft_scale_corpus_{n_docs}x{words}.parquet",
    )
    cfg = DedupConfig(shingle_mode="word", shingle_size=4, jaccard_threshold=0.8)
    if not os.path.exists(corpus):
        spark = get_spark(master="local[16]")
        synthetic_docs(spark, n_docs, words).repartition(96).write.mode(
            "overwrite"
        ).parquet(corpus)
        spark.stop()
        time.sleep(10)

    spark = get_spark(master=f"local[{n}]", shuffle_partitions=3 * n)
    sc = spark.sparkContext
    docs = spark.read.parquet(corpus)
    out: dict = {"n": n, "n_docs": n_docs, "words": words}

    # warm pass: full plan shape on 5% (codegen + python workers + Arrow)
    minhash_dedup(docs.where(F.col("doc_id") % 20 == 0), cfg).count()

    probe = bench.host_speed_probe()
    out["calib_before"] = probe["calib_sec"]
    out["fault_before"] = probe["fault_sec"]

    phases: dict[str, float] = {}
    jobs: dict[str, int] = {}
    kept = []

    def njobs() -> int:
        return len(sc.statusTracker().getJobIdsForGroup(None))

    def stage(name: str, build):
        """dedup_graph policy: persist, count and time every stage, so
        each phase's time and jobs are its own (lazy stages would
        otherwise run inside their consumer)."""
        j0, t0 = njobs(), time.perf_counter()
        df = build().persist()
        df.count()
        phases[name] = round(time.perf_counter() - t0, 3)
        jobs[name] = njobs() - j0
        kept.append(df)
        return df

    jobs0 = njobs()
    t0 = time.perf_counter()
    docs.count()
    phases["scan_count"] = round(time.perf_counter() - t0, 3)
    release_caches()
    dedup_graph(docs, cfg, "minhash", "doc_id", "text", stage)

    out["phases"] = phases
    out["phase_sum"] = round(sum(phases.values()), 3)
    out["jobs"] = {**jobs, "total": njobs() - jobs0}

    # ---- end-to-end reference number (fresh, same session) ----
    for df in kept:
        df.unpersist()
    t0 = time.perf_counter()
    minhash_dedup(docs, cfg).count()
    out["end_to_end"] = round(time.perf_counter() - t0, 3)
    probe = bench.host_speed_probe()
    out["calib_after"] = probe["calib_sec"]
    out["fault_after"] = probe["fault_sec"]
    spark.stop()
    print("PROFILE " + json.dumps(out))


if __name__ == "__main__":
    main()
