"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the same settings are what we would
submit to a multi-executor cluster via ``spark-submit --py-files``
(see scripts/submit.sh). Key choices:

- AQE on (runtime coalescing + skew-join splitting) — LSH band
  self-joins over web text have pathological hot keys, we combine AQE
  with explicit salting/bucket-capping (operators/dedup_minhash.py).
- Arrow enabled for pandas-UDF kernels.
- shuffle partitions default to cores locally; on a real cluster this
  is raised to ~2-3x total cores (AQE coalesces down).
- UTC session timezone so DuckDB-oracle comparisons are stable.

These runtime SQL settings live in ``tuned_sql_conf``; the spark-submit
job (jobs/dedup_job.py) applies the same set through ``submit_conf``,
where anything the submit itself sets wins.
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import SparkSession


# Keep Python/Arrow workers from returning freed pages to the kernel:
# this sandbox's page-fault service is pathologically slow (~20us/page
# measured, ~100x a normal fault, with minutes-long degraded episodes),
# so an allocator that trims/unmaps between Arrow batches re-faults its
# working set over and over. Harmless on healthy hosts.
_WORKER_MALLOC_ENV = {
    "MALLOC_TRIM_THRESHOLD_": str(1 << 30),
    "MALLOC_MMAP_THRESHOLD_": str(1 << 30),
    "ARROW_DEFAULT_MEMORY_POOL": "system",
    # numpy madvise(MADV_HUGEPAGE)s large buffers; see _disable_thp
    "NUMPY_MADVISE_HUGEPAGE": "0",
}


def _disable_thp() -> None:
    """Disable transparent huge pages for this process tree.

    Production Spark/JVM guidance (Cloudera, Databricks, Oracle) has
    long been to run with THP off — compaction stalls and allocation
    latency outweigh TLB wins for JVM heaps. On this sandbox it is
    far more than a tuning nit: the VM materializes first-touch guest
    memory lazily from a host backing store, and a 2 MiB huge-page
    fault goes through a path ~150x slower than the 4 KiB path
    (measured: 1 GiB of numpy (madvise-THP) pages faulted at 0.01
    GB/s vs 1.9 GB/s with THP disabled — the single root cause of the
    10x run-to-run variance and the inverted N->4N scaling captures
    of earlier rounds). prctl(PR_SET_THP_DISABLE) is inherited across
    fork AND exec, so setting it here covers the JVM and every
    forked python worker. Opt out with SPARK_GRAFT_DISABLE_THP=0."""
    if os.environ.get("SPARK_GRAFT_DISABLE_THP", "1") != "1":
        return
    try:
        import ctypes

        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(41, 1, 0, 0, 0)  # PR_SET_THP_DISABLE = 41
    except Exception:
        pass  # non-Linux or restricted: THP simply stays on


def get_spark(
    app_name: str = "fuzzy_matcher_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    n_threads = _master_threads(master, int(cpus))
    # one shuffle partition per core locally (AQE coalesces small
    # shuffles); a real cluster submit raises this to ~2-3x total cores
    shuffle = shuffle_partitions or max(n_threads, 8)

    for k, v in _WORKER_MALLOC_ENV.items():
        os.environ.setdefault(k, v)
    _disable_thp()

    driver_mem = os.environ.get("SPARK_DRIVER_MEMORY", "8g")
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config(map=tuned_sql_conf(shuffle))
    )
    if os.environ.get("SPARK_GRAFT_PRETOUCH") == "1":
        # Pre-fault and HOLD the full heap at JVM start. This sandbox
        # serves first-touch page faults from a slow backing store and
        # DISCARDS freed guest pages (free-page reporting), so heap
        # that grows lazily mid-run stalls the job on the fault path
        # (measured 10x run variance); a pre-touched fixed heap pays
        # that cost once, untimed, at startup. Opt-in: pre-touch adds
        # seconds-to-minutes of session startup depending on the
        # backing store's current rate.
        b = b.config(
            "spark.driver.extraJavaOptions",
            f"-Xms{driver_mem} -XX:+AlwaysPreTouch",
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def tuned_sql_conf(shuffle_partitions: int) -> dict[str, str]:
    """The engine's runtime SQL settings, shared by ``get_spark`` and
    the spark-submit job (``submit_conf``)."""
    advisory_mb = os.environ.get("SPARK_GRAFT_ADVISORY_MB", "8")
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # let AQE re-optimize (and in particular COALESCE) the plans
        # that fill persisted relations: the dedup operators persist
        # several small intermediates (tagged band index, candidate
        # pairs), and with this off each cache materializes at the
        # full static shuffle width, so every downstream consumer
        # stage inherits cores-many near-empty partitions (r6
        # event-log capture: five 96-task stages per flagship run
        # whose tasks carry ~6 KB each). Nothing here relies on cache
        # output partitioning lining up with a later join.
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": os.environ.get(
            "SPARK_GRAFT_CACHE_AQE", "true"
        ),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": f"{advisory_mb}m",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Arrow batch size gates how well the JVM producer and the
        # python worker overlap: a task that holds only 1-2 batches
        # serializes the two sides (JVM idles while python crunches
        # the one giant batch and vice versa — measured r6 at 300k
        # docs/local[8]: 12.5k-doc tasks with 10k-row batches ran the
        # signature stage at ~55% core utilization; 2k-row batches cut
        # the flagship 51s -> 31s). 2000 rows x ~400 tokens x 8 B is
        # ~6 MB of token-hash payload per batch — big enough that
        # per-batch dispatch (~ms) stays noise, small enough that
        # every task pipelines several batches.
        "spark.sql.execution.arrow.maxRecordsPerBatch": os.environ.get(
            "SPARK_GRAFT_ARROW_BATCH", "2000"
        ),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    }


def submit_conf(
    launch_conf: Mapping[str, str],
    default_parallelism: int,
    job_defaults: Mapping[str, str] | None = None,
) -> dict[str, str]:
    """Runtime settings a spark-submit job applies to its running
    session: the tuned defaults (plus ``job_defaults``) for every key
    its launch conf left unset. A value given with ``--conf`` or in
    spark-defaults wins, and the master is the submit's choice."""
    defaults = {
        **tuned_sql_conf(max(default_parallelism, 8)),
        **(job_defaults or {}),
    }
    return {k: v for k, v in defaults.items() if k not in launch_conf}


def _master_threads(master: str, default: int) -> int:
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return os.cpu_count() or default
        try:
            return int(inner)
        except ValueError:
            return default
    return default
