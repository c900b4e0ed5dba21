#!/usr/bin/env python
"""Extra measurement rig for the optimization round (guide §1).

NOT the graded bench — bench.py is frozen for measurement. This file
exists so optimization work can (a) time each query in isolation with
the noop sink (times the computation, not the sink, and defeats
count()'s column pruning), and (b) capture ``explain("formatted")``
plans into plans/r06/ for the judge to audit.

Usage:
  python bench_extra.py --noop [query ...]            # noop-sink timings
  python bench_extra.py --explain SUFFIX [query ...]  # plans/r06/<q>_<SUFFIX>.txt
  python bench_extra.py --jobs [query ...]            # Spark job counts per query

Data dir from $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
cores from $SPARK_GRAFT_CPUS — same contract as bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
PLANS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")


def build_frames():
    """name -> callable(spark) returning the UNMATERIALIZED DataFrame of
    each bench.py suite entry (the declared queries bench.py times)."""
    import __spark_entry__ as E
    from fuzzy_matcher_spark.config import DedupConfig
    from fuzzy_matcher_spark.operators.dedup_exact import exact_clusters
    from fuzzy_matcher_spark.operators.dedup_minhash import minhash_dedup
    from fuzzy_matcher_spark.operators.dedup_simhash import simhash_dedup

    cfg = DedupConfig(shingle_mode="word", shingle_size=4, jaccard_threshold=0.8)

    def docs(s):
        return s.read.parquet(f"{SF_DIR}/documents.parquet")

    return {
        "minhash_dedup_docs": lambda s: minhash_dedup(docs(s), cfg),
        "simhash_dedup_docs": lambda s: simhash_dedup(docs(s), cfg),
        "exact_dedup_docs": lambda s: exact_clusters(docs(s), "text", "doc_id"),
        "near_dup_pairs": lambda s: E.q_near_dup_pairs(s, SF_DIR),
        "tpch_q1": lambda s: E.q_tpch_q1(s, SF_DIR),
        "topk_orders": lambda s: E.q_topk_orders_per_customer(s, SF_DIR),
        "events_hourly": lambda s: E.q_events_hourly(s, SF_DIR),
        "ann_topk": lambda s: E.q_ann_topk(s, SF_DIR),
        "cross_dedup_keep": lambda s: E.q_cross_dedup_keep(s, SF_DIR),
        "decontaminate": lambda s: E.q_decontaminated_keep(s, SF_DIR),
        # not in bench.py's suite but declared + worth watching
        "contamination_hits": lambda s: E.q_contamination_hits(s, SF_DIR),
        "cross_dup_pairs": lambda s: E.q_cross_dup_pairs(s, SF_DIR),
    }


def _get_spark():
    from fuzzy_matcher_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_PRETOUCH", "1")
    return get_spark(
        app_name="bench_extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=3 * int(CPUS),
    )


def _warm(spark):
    """Same warm-up contract as bench.py: spawn python workers,
    compile the Arrow/pandas-UDF path + flagship plan shape once."""
    from pyspark.sql import functions as F

    from fuzzy_matcher_spark.config import DedupConfig
    from fuzzy_matcher_spark.operators.dedup_minhash import (
        add_signatures,
        minhash_dedup,
    )

    cfg = DedupConfig(shingle_mode="word", shingle_size=4, jaccard_threshold=0.8)
    warm = spark.range(0, 2000).selectExpr(
        "id as doc_id", "repeat(concat('w', id % 97, ' '), 40) as text"
    )
    add_signatures(warm, DedupConfig()).agg(
        F.sum(F.element_at("signature", 1).cast("decimal(38,0)"))
    ).collect()
    minhash_dedup(warm, cfg).count()


def run_noop(names):
    frames = build_frames()
    spark = _get_spark()
    _warm(spark)
    out = {}
    for name in names:
        reps = []
        for _ in range(3):
            spark.sparkContext.setJobDescription(f"noop:{name}")
            t0 = time.perf_counter()
            frames[name](spark).write.format("noop").mode("overwrite").save()
            reps.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = {"best": min(reps), "reps": reps}
        print(json.dumps({name: out[name]}), flush=True)
    spark.stop()
    print(json.dumps({"noop": out, "sf_dir": SF_DIR, "cpus": CPUS}))


def run_explain(suffix, names):
    frames = build_frames()
    spark = _get_spark()
    os.makedirs(PLANS_DIR, exist_ok=True)
    for name in names:
        df = frames[name](spark)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(PLANS_DIR, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
    spark.stop()


def run_jobs(names):
    """Count Spark jobs each query triggers (sf0.1 times are dominated
    by per-job overhead, so job count is the first-order metric)."""
    frames = build_frames()
    spark = _get_spark()
    _warm(spark)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    out = {}
    for name in names:
        before = len(tracker.getJobIdsForGroup(None) or [])
        frames[name](spark).write.format("noop").mode("overwrite").save()
        after = len(tracker.getJobIdsForGroup(None) or [])
        out[name] = after - before
        print(json.dumps({name: out[name]}), flush=True)
    spark.stop()
    print(json.dumps({"jobs": out}))


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if "--explain" in sys.argv:
        suffix = args[0]
        names = args[1:] or list(build_frames())
        run_explain(suffix, names)
    elif "--jobs" in sys.argv:
        run_jobs(args or list(build_frames()))
    else:
        run_noop(args or list(build_frames()))


if __name__ == "__main__":
    main()
