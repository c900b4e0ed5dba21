"""Cluster entrypoint: spark-submit --py-files fuzzy_matcher_spark.zip
fuzzy_matcher_spark/jobs/dedup_job.py --input ... --workdir ... --run-id ...

Runs the checkpointed dedup pipeline against an input table of web
pages (url, warc_ts, html, text, lang) or any (id, text) table, writes
cluster assignments + canonical-doc election, and prints a one-line
JSON report (stage rows and walls, docs/s, and the number of Spark jobs
the application ran). Re-running with the same --run-id resumes mid-pipeline
(plans/pipeline.py).

The job never sets the master: on a real cluster it comes from
spark-submit (--master yarn/k8s, executors, Iceberg catalog), and a
plain local launch falls back to local[*]. On top of the launch conf
the job applies the engine's tuned runtime SQL settings
(session.tuned_sql_conf: shuffle width max(defaultParallelism, 8), AQE
coalescing, 2000-row Arrow batches, ...) to every key that --conf or
spark-defaults left unset, so a submitted value always wins. See
scripts/submit.sh.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

# job-only default on top of the engine's tuned session settings:
# signature tables carry wide array<long> columns, and the default
# 4096-row vectorized batches OOM small heaps (seen at 200k docs with
# a 1g driver); smaller batches keep reader memory bounded
JOB_DEFAULTS = {"spark.sql.parquet.columnarReaderBatchSize": "512"}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="parquet path or table name")
    p.add_argument("--workdir", required=True, help="TableIO warehouse root")
    p.add_argument("--run-id", required=True)
    p.add_argument("--mode", default="minhash", choices=["minhash", "simhash"])
    p.add_argument("--id-col", default=None, help="default: url -> hashed id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--shingle-size", type=int, default=5)
    p.add_argument("--shingle-mode", default="word")
    p.add_argument("--jaccard-threshold", type=float, default=0.8)
    p.add_argument("--output", default=None, help="optional parquet output path")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from fuzzy_matcher_spark.config import DedupConfig
    from fuzzy_matcher_spark.plans.pipeline import DedupPipeline
    from fuzzy_matcher_spark.session import submit_conf
    from fuzzy_matcher_spark.sources.tableio import get_tableio

    spark = SparkSession.builder.appName(f"dedup-{args.run_id}").getOrCreate()
    sc = spark.sparkContext
    tuned = submit_conf(
        dict(sc.getConf().getAll()), sc.defaultParallelism, JOB_DEFAULTS
    )
    for k, v in tuned.items():
        spark.conf.set(k, v)

    docs = (
        spark.read.parquet(args.input)
        if "/" in args.input
        else spark.table(args.input)
    )
    id_col = args.id_col
    if id_col is None:
        if "url" in docs.columns:
            # stable 64-bit id from the url key (input_hint schema)
            docs = docs.withColumn("doc_id", F.xxhash64("url"))
            id_col = "doc_id"
        else:
            id_col = "doc_id"

    cfg = DedupConfig(
        shingle_mode=args.shingle_mode,
        shingle_size=args.shingle_size,
        jaccard_threshold=args.jaccard_threshold,
    )
    io = get_tableio(spark, args.workdir)
    pipe = DedupPipeline(
        spark, io, cfg, mode=args.mode, id_col=id_col, text_col=args.text_col
    )
    t0 = time.perf_counter()
    clusters, report = pipe.run(docs, run_id=args.run_id)
    n_docs = next(s.rows for s in report.stages if s.stage == "clusters")
    wall = time.perf_counter() - t0

    if args.output:
        clusters.write.mode("overwrite").parquet(args.output)
    # every job of this application so far (none is in a job group)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup())

    print(
        json.dumps(
            {
                "run_id": args.run_id,
                "mode": args.mode,
                "docs": n_docs,
                "wall_sec": round(wall, 3),
                "docs_per_sec": round(n_docs / wall, 2) if wall else None,
                "spark_jobs": n_jobs,
                "stages": [
                    {"stage": s.stage, "rows": s.rows, "sec": s.wall_sec,
                     "skipped": s.skipped}
                    for s in report.stages
                ],
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
