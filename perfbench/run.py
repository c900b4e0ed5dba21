"""Benchmark of fuzzy_matcher_spark: one closed-loop client on local[4].

    python3 perfbench/run.py --workload crawl_submit --seed 1 --seconds 10 --trace 0

Workloads (README.md records why each was chosen):

- ``crawl_submit``: a fresh ``spark-submit`` of ``jobs/dedup_job.py``
  (``DedupPipeline`` on parquet TableIO), launched as
  ``scripts/submit.sh`` launches it, on a generated web-page corpus.
- ``crawl_stream``: the same corpus shape as parquet files consumed by
  ``readStream`` + ``foreachBatch(streaming.ingest.incremental_dedup_sink)``
  with ``trigger(availableNow=True)``, one file per micro-batch.

``--trace 0`` measures with tracing off and reports the end-to-end
metrics. ``--trace 1`` switches the Spark event log and the driver
stack sampler on for some operations and off for others of the same
run, reports the per-layer metrics and prints the per-layer table.
Either way every output is checked against the planted duplicate
families; the last stdout line is one JSON object (correct, attempted,
failed, metrics) and the exit status is 1 when a check failed.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import traceback
import zipfile
from contextlib import contextmanager
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import fuzzy_matcher_spark  # noqa: E402,F401  (fails fast without the program)

import checks  # noqa: E402
import corpus  # noqa: E402
import host  # noqa: E402
import tracing  # noqa: E402

MASTER = "local[4]"
CORES = 4
N_DOCS = 3_000
WORDS_PER_DOC = 300
GEN_REPEATS = 3
PROCESS_TIMEOUT_S = 150
TRIE_PAIRS = 2_000  # name pairs for the edit-distance DP probe

SMALL_EPOCHS = 2  # small micro-batches first: the sink without, then with an index
SMALL_DOCS = 500  # split over the small micro-batches
FULL_EPOCHS = 5  # then the rest of the corpus in equal micro-batches
# full micro-batches traced in a traced run: the middle one of five,
# between two untraced ones on each side, so a linear drift across the
# query (the index grows) weighs on both sides of the comparison equally
TRACED_EPOCHS = (2,)

# Timed costs are CPU seconds of the whole process tree (driver, JVM,
# Python workers, spark-submit children) and wall seconds with the
# hypervisor's steal taken out: on the 4-vCPU host this benchmark was
# built on, the hypervisor steals 3-20% of CPU time in episodes lasting
# minutes, which moved the raw wall time of identical runs by up to 2x.
END_TO_END = {
    "setup_s": "s",
    "docs_per_cpu_s": "docs/s",
    "docs_per_s": "docs/s",
    "recall": "fraction",
}

PER_LAYER = {
    "session.start_s": "s",
    "jobs.jvm_start_s": "s",
    "functions.minhash.kernel_docs_per_core_s": "docs/s",
    "operators.dedup_minhash.jaccard_pairs_per_core_s": "pairs/s",
    "functions.similarity.trie_edits_per_core_s": "pairs/s",
    "arrow.python_run_s": "s",
    "arrow.python_boot_s": "s",
    "arrow.bytes_to_python": "bytes",
    "arrow.bytes_from_python": "bytes",
    "arrow.overhead_ratio": "ratio",
    "operators.dedup_minhash.candidates": "count",
    "operators.dedup_minhash.verified": "count",
    "operators.dedup_minhash.verify_yield": "ratio",
    "operators.pairs.capped_buckets": "count",
    "operators.pairs.pairs_dropped_by_cap": "count",
    "operators.connected_components.jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_gap_s": "s",
    "spark.task_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.slot_util": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.worst_stage_skew": "ratio",
    "spark.cached_bytes": "bytes",
    "plans.ingest_s": "s",
    "plans.signatures_s": "s",
    "plans.pairs_s": "s",
    "plans.verified_s": "s",
    "plans.clusters_s": "s",
    "plans.bookkeeping_s": "s",
    "plans.resume_s": "s",
    "sources.tableio.write_s": "s",
    "sources.tableio.read_s": "s",
    "sources.tableio.bytes_written": "bytes",
    "sources.tableio.files_written": "count",
    "streaming.ingest.first_epoch_s": "s",
    "streaming.ingest.last_epoch_s": "s",
    "streaming.ingest.index_read_bytes": "bytes",
    "process.peak_rss_mb": "MiB",
    "wall.setup_s": "s",
    "wall.batch_s_p50": "s",
    "host.steal_ratio": "ratio",
    "trace.overhead_ratio": "ratio",
    "trace.overhead_cpu_ratio": "ratio",
    "trace.span_coverage": "ratio",
}


class Run:
    """State of one benchmark invocation: its private directories, span
    recorder, operation counts and collected samples."""

    def __init__(self, args: argparse.Namespace):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.id = f"{args.workload}-s{args.seed}-{os.getpid()}"
        self.dir = HERE / ".runs" / self.id
        self.tmp = self.dir / "tmp"
        for d in (self.tmp, self.dir / "local", self.dir / "input"):
            d.mkdir(parents=True, exist_ok=True)
        self.tracer = tracing.Tracer(
            self.id, functools.partial(host.tree_cpu_s, os.getpid())
        )
        self.attempted = 0
        self.failed = 0
        self.recalls: list[float] = []
        self.problems: list[str] = []
        self.samples: list = []  # driver stack samples of traced operations

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)

    def record(self, what: str, check: checks.ClusterCheck | None, err: str = "") -> None:
        self.attempted += 1
        if check is not None:
            self.recalls.append(check.recall)
        if check is None or not check.ok:
            self.failed += 1
            why = err or "; ".join(check.problems)
            self.problems.append(f"{what}: {why}")
            print(f"CHECK FAILED {what}: {why}", file=sys.stderr)


def median(xs) -> float:
    return float(statistics.median(xs))


def mean_of(spans, attr: str) -> float:
    return sum(getattr(s, attr) for s in spans) / len(spans)


def timing_line(name: str, xs: list[float], unit: str) -> str:
    """Median plus the highest percentile with >= 10 samples beyond it."""
    xs = sorted(xs)
    parts = [f"median {median(xs):.4f} {unit}", f"n={len(xs)}"]
    for p in (99, 95, 90, 75):
        if len(xs) * (100 - p) / 100 >= 10:
            parts.append(f"p{p} {float(np.percentile(xs, p)):.4f} {unit}")
            break
    return f"{name}: " + ", ".join(parts)


# --- inputs -------------------------------------------------------------------


def make_input(run: Run) -> tuple[corpus.Corpus, np.ndarray, Path, list]:
    """Generate the corpus GEN_REPEATS times (the same bytes each time)
    and write it once. Returns the set-up spans so far: the median
    generation and the write."""
    gen = []
    for _ in range(GEN_REPEATS):
        with run.span("setup.generate") as s:
            c = corpus.generate(run.seed, N_DOCS, WORDS_PER_DOC)
            ids = corpus.url_ids(c.table["url"])
        gen.append(s)
    path = run.dir / "input" / "docs.parquet"
    with run.span("setup.write_input") as w:
        pq.write_table(pa.Table.from_pandas(c.table, preserve_index=False), path)
    return c, ids, path, [sorted(gen, key=lambda g: g.cpu)[len(gen) // 2], w]


def setup_cost(spans) -> dict:
    return {
        "setup_s": sum(s.cpu for s in spans),
        "wall.setup_s": sum(s.wall for s in spans),
    }


def check_rows(c: corpus.Corpus, ids: np.ndarray, doc_ids, cluster_ids) -> checks.ClusterCheck:
    return checks.check_clusters(
        np.asarray(doc_ids, dtype=np.int64),
        np.asarray(cluster_ids, dtype=np.int64),
        ids,
        c.family,
        c.kind,
    )


# --- Spark session -------------------------------------------------------------


def start_session(run: Run):
    from fuzzy_matcher_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(run.dir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run.tmp} -XX:-UsePerfData",
    }
    return get_spark(app_name=run.id, master=MASTER, extra_conf=conf)


@contextmanager
def traced_op(run: Run, events: tracing.EventLog):
    """Event log and driver stack sampler on for one operation."""
    sampler = tracing.StackSampler()
    with events, sampler:
        yield
    run.samples.extend(sampler.samples)


def stop_jvm() -> None:
    """Stop the Spark context and the JVM behind it, and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# --- crawl_stream -------------------------------------------------------------


def write_epochs(table, src: Path) -> None:
    """One parquet file per micro-batch: SMALL_DOCS rows over the small
    batches, then FULL_EPOCHS equal slices; the corpus is shuffled,
    so every batch boundary cuts across families."""
    src.mkdir(parents=True, exist_ok=True)
    rows = np.arange(len(table))
    parts = np.array_split(rows[:SMALL_DOCS], SMALL_EPOCHS)
    parts += np.array_split(rows[SMALL_DOCS:], FULL_EPOCHS)
    for i, part in enumerate(parts):
        pq.write_table(
            pa.Table.from_pandas(table.iloc[part], preserve_index=False),
            src / f"part-{i:05d}.parquet",
        )


def du(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file()) if path.exists() else 0


def stream_once(run: Run, spark, src: Path, events: tracing.EventLog | None) -> tuple:
    """Run one availableNow streaming query over ``src`` into a fresh
    warehouse and checkpoint; with ``events``, trace the TRACED_EPOCHS
    of the full micro-batches. Returns (query span, epoch spans, index
    bytes present before each epoch, the query's TableIO)."""
    from pyspark.sql import functions as F

    from fuzzy_matcher_spark.config import DedupConfig
    from fuzzy_matcher_spark.sources.tableio import ParquetTableIO
    from fuzzy_matcher_spark.streaming.ingest import SIG_TABLE, incremental_dedup_sink

    wh = run.dir / "wh-stream"
    io = ParquetTableIO(spark, str(wh))
    sink = incremental_dedup_sink(io, DedupConfig(), "doc_id", "text")
    epochs, index_bytes = [], []

    def traced_sink(batch_df, epoch_id: int) -> None:
        index_bytes.append(du(wh / SIG_TABLE))
        traced = events is not None and epoch_id - SMALL_EPOCHS in TRACED_EPOCHS
        with run.span("op.epoch", module="streaming.ingest", epoch=epoch_id, traced=traced) as s:
            if traced:
                with traced_op(run, events):
                    sink(batch_df, epoch_id)
            else:
                sink(batch_df, epoch_id)
        epochs.append(s)

    stream = (
        spark.readStream.schema("url string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .select(F.xxhash64("url").alias("doc_id"), "text")
    )
    with run.span("op.stream", module="streaming.ingest") as q_span:
        q = (
            stream.writeStream.foreachBatch(traced_sink)
            .option("checkpointLocation", str(run.dir / "ckpt-stream"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            done = q.awaitTermination(PROCESS_TIMEOUT_S)
        finally:
            q.stop()
    if not done:
        raise RuntimeError(f"availableNow query did not end in {PROCESS_TIMEOUT_S}s")
    if len(epochs) != SMALL_EPOCHS + FULL_EPOCHS:
        raise RuntimeError(f"{len(epochs)} micro-batches ran, not {SMALL_EPOCHS + FULL_EPOCHS}")
    return q_span, epochs, index_bytes, io


def check_stream(io, c, ids) -> checks.ClusterCheck:
    """Clusters = connected components of the stream_pairs rows; every
    document must also be indexed exactly once."""
    from fuzzy_matcher_spark.streaming.ingest import PAIR_TABLE, SIG_TABLE

    pairs = np.array(
        [(r.a, r.b) for r in io.read(PAIR_TABLE).select("a", "b").collect()],
        dtype=np.int64,
    ).reshape(-1, 2)
    result = check_rows(c, ids, ids, checks.components(ids, pairs))
    indexed = io.read(SIG_TABLE).count()
    if indexed != len(ids):
        result.problems.append(f"{indexed} indexed signatures for {len(ids)} documents")
    return result


def crawl_stream(run: Run) -> dict:
    c, ids, _, setup = make_input(run)
    with run.span("setup.write_epochs") as w:
        src = run.dir / "input" / "stream"
        write_epochs(c.table, src)
    with run.span("setup.session") as sess:
        spark = start_session(run)
    events = tracing.EventLog(spark, run.dir / "eventlog") if run.traced else None
    steal0 = host.steal_counters()
    try:
        q_span, epochs, index_bytes, io = stream_once(run, spark, src, events)
        steal = host.steal_ratio(steal0)
        run.record("stream", check_stream(io, c, ids))
    except Exception:  # a failed operation is counted, not reported as a result
        run.record("stream", None, traceback.format_exc(limit=3))
        raise
    full = epochs[SMALL_EPOCHS:]
    # the whole query is timed, its small first micro-batches too: an
    # availableNow query pays them on every run, and the CPU of the
    # full micro-batches alone varied twice as much run to run
    result = {
        **setup_cost(setup + [w, sess]),
        "op_walls": [s.wall for s in full],
        "timed_s": q_span.wall,
        "docs_per_cpu_s": N_DOCS / q_span.cpu,
        "docs_per_s": N_DOCS / (q_span.wall * (1 - steal)),
        "host.steal_ratio": steal,
    }
    if run.traced:
        result["layer"] = trace_stream(run, c, events, full, index_bytes, io, sess.wall)
    return result


def trace_stream(run: Run, c, events, full, index_bytes, io, session_s: float) -> dict:
    """Per-layer metrics of the traced micro-batch."""
    from fuzzy_matcher_spark.streaming.ingest import PAIR_TABLE

    traced = [s for s in full if s.attrs["traced"]]
    untraced = [s for s in full if not s.attrs["traced"]]
    n_pairs = io.read(PAIR_TABLE).count()
    with run.span("trace.kernels"):
        rates = kernel_rates(run, c)
    log = tracing.parse_event_logs(events.paths)
    tracing.attribute(log["jobs"], run.samples, default="streaming.ingest")
    layer = engine_metrics(log, traced, app_start=None)
    wh = run.dir / "wh-stream"
    # pairs written approximate the pairs that reached exact Jaccard
    # (the sink prefilters on signature agreement); per micro-batch
    per_epoch = (N_DOCS - SMALL_DOCS) / FULL_EPOCHS
    kernel_s = per_epoch / rates["fused_docs_per_s"]
    kernel_s += n_pairs / FULL_EPOCHS / rates["jaccard_pairs_per_s"]
    tio = [j for j in op_jobs(log["jobs"], traced) if j["module"] == "sources.tableio"]
    files = [p for p in wh.rglob("*.parquet") if p.is_file()]
    layer.update(
        {
            "session.start_s": session_s,
            **kernel_layer(rates),
            "arrow.overhead_ratio": layer["arrow.python_run_s"] / kernel_s,
            "sources.tableio.write_s": job_wall(tio, "write") / len(traced),
            "sources.tableio.read_s": job_wall(tio, "read") / len(traced),
            "sources.tableio.bytes_written": float(du(wh)),
            "sources.tableio.files_written": float(len(files)),
            "streaming.ingest.first_epoch_s": full[0].wall,
            "streaming.ingest.last_epoch_s": full[-1].wall,
            "streaming.ingest.index_read_bytes": float(sum(index_bytes[SMALL_EPOCHS:])),
            "trace.overhead_ratio": mean_of(traced, "wall") / mean_of(untraced, "wall"),
            "trace.overhead_cpu_ratio": mean_of(traced, "cpu") / mean_of(untraced, "cpu"),
        }
    )
    layer["_table"] = tracing.format_table(
        tracing.layer_table(op_jobs(log["jobs"], traced), log["stages"]),
        sum(driver_gaps(log["jobs"], traced)),
        f"per-layer table, crawl_stream, {len(traced)} traced micro-batches (totals)",
    )
    layer["_jobs"] = log["jobs"]
    return layer


def kernel_rates(run: Run, c: corpus.Corpus) -> dict:
    import kernels
    from fuzzy_matcher_spark.config import DedupConfig

    names = corpus.name_pairs(run.seed, TRIE_PAIRS)
    return kernels.probe(c.tokens, c.family, names, DedupConfig())


def kernel_layer(rates: dict) -> dict:
    return {
        "functions.minhash.kernel_docs_per_core_s": rates["fused_docs_per_s"],
        "operators.dedup_minhash.jaccard_pairs_per_core_s": rates["jaccard_pairs_per_s"],
        "functions.similarity.trie_edits_per_core_s": rates["trie_pairs_per_s"],
    }


# --- engine metrics shared by the workloads ------------------------------------


def op_jobs(jobs: list[dict], ops) -> list[dict]:
    return [j for j in jobs if any(s.start <= j["start"] <= s.end for s in ops)]


def driver_gaps(jobs: list[dict], ops, app_start: float | None = None) -> list[float]:
    """Per operation: wall with no Spark job running (from app start
    when the operation launched its own JVM)."""
    gaps = []
    for s in ops:
        lo = max(s.start, app_start) if app_start else s.start
        iv = tracing.clip([(j["start"], j["end"]) for j in jobs], lo, s.end)
        gaps.append((s.end - lo) - tracing.union_length(iv))
    return gaps


def engine_metrics(log: dict, ops, app_start: float | None) -> dict:
    """spark.* and arrow.* per operation (means over the traced ops)."""
    jobs = op_jobs(log["jobs"], ops)
    rows = tracing.layer_table(jobs, log["stages"])
    tot = {k: sum(r.get(k, 0.0) for r in rows.values()) for k in (
        "jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
        "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
        "python_run_ms", "python_boot_ms", "bytes_to_python", "bytes_from_python",
    )}
    n = max(len(ops), 1)
    wall = sum(s.wall for s in ops)
    return {
        "spark.jobs": tot["jobs"] / n,
        "spark.stages": tot["stages"] / n,
        "spark.tasks": tot["tasks"] / n,
        "spark.driver_gap_s": sum(driver_gaps(log["jobs"], ops, app_start)) / n,
        "spark.task_s": tot["task_s"] / n,
        "spark.cpu_s": tot["cpu_s"] / n,
        "spark.gc_s": tot["gc_s"] / n,
        "spark.slot_util": tot["task_s"] / (CORES * wall) if wall else 0.0,
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"] / n,
        "spark.shuffle_read_bytes": tot["shuffle_read_bytes"] / n,
        "spark.spill_bytes": tot["spill_bytes"] / n,
        "spark.worst_stage_skew": tracing.worst_skew(
            {sid: log["stages"][sid] for j in jobs for sid in j["stages"] if sid in log["stages"]}
        ),
        "spark.cached_bytes": float(
            max(tracing.peak_cached(log["cached"], s.start, s.end) for s in ops)
        ),
        "arrow.python_run_s": tot["python_run_ms"] / 1e3 / n,
        "arrow.python_boot_s": tot["python_boot_ms"] / 1e3 / n,
        "arrow.bytes_to_python": tot["bytes_to_python"] / n,
        "arrow.bytes_from_python": tot["bytes_from_python"] / n,
        "operators.connected_components.jobs": rows.get(
            "operators.connected_components", {}
        ).get("jobs", 0.0) / n,
    }


# --- crawl_submit -------------------------------------------------------------


def run_process(cmd: list[str], log: Path, timeout: float, **kw) -> tuple[int, str]:
    """Run a command in its own process group; on timeout kill the whole
    group. Returns (exit code, stdout)."""
    with open(log, "wb") as err:
        p = subprocess.Popen(
            cmd, stdout=subprocess.PIPE, stderr=err, start_new_session=True, **kw
        )
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    return p.returncode, out.decode(errors="replace")


def package_zip(run: Run) -> Path:
    """The --py-files archive scripts/submit.sh builds: the package
    without bytecode caches."""
    z = run.dir / "fuzzy_matcher_spark.zip"
    with zipfile.ZipFile(z, "w", zipfile.ZIP_DEFLATED) as zf:
        for p in sorted((ROOT / "fuzzy_matcher_spark").rglob("*")):
            if p.is_file() and "__pycache__" not in p.parts:
                zf.write(p, p.relative_to(ROOT))
    return z


def submit_env(samples: Path | None) -> dict:
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the package comes from --py-files only
    # worker-process memory hygiene, exported exactly as submit.sh does
    env.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")
    env.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")
    env.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    env.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    if samples is not None:
        env["PERFBENCH_SAMPLES"] = str(samples)
    return env


def submit(run: Run, what: str, c, ids, zip_path: Path, input_path: Path, trace_dir=None):
    """One checked spark-submit of the dedup job under run id ``run0``
    (so a second one resumes the first). Returns (span, report); a
    failure is counted and raised."""
    wh = run.dir / "wh-run0"
    out_dir = run.dir / "out-run0"
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.warehouse.dir": str(run.dir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run.tmp} -XX:-UsePerfData",
    }
    script = ROOT / "fuzzy_matcher_spark" / "jobs" / "dedup_job.py"
    samples = None
    if trace_dir is not None:
        trace_dir.mkdir(parents=True)
        confs.update(tracing.EVENT_LOG_CONF, **{"spark.eventLog.dir": trace_dir.as_uri()})
        script = HERE / "traced_job.py"
        samples = trace_dir / "samples.json"
    cmd = ["spark-submit", "--master", MASTER, "--driver-memory", "8g"]
    for k, v in confs.items():
        cmd += ["--conf", f"{k}={v}"]
    cmd += ["--py-files", str(zip_path), str(script)]
    cmd += ["--input", str(input_path), "--workdir", str(wh), "--run-id", "run0"]
    cmd += ["--output", str(out_dir)]
    try:
        with run.span(f"op.{what}", module="jobs.dedup_job") as s:
            code, out = run_process(
                cmd,
                run.dir / f"{what}-{len(run.tracer.spans)}.log",
                PROCESS_TIMEOUT_S,
                cwd=run.dir,
                env=submit_env(samples),
            )
        if code != 0:
            raise RuntimeError(f"spark-submit exited {code}")
        report = next(
            json.loads(line)
            for line in reversed(out.splitlines())
            if line.startswith("{") and '"run_id"' in line
        )
        t = pq.read_table(out_dir, columns=["doc_id", "cluster_id"])
    except Exception:
        run.record(what, None, traceback.format_exc(limit=3))
        raise
    run.record(what, check_rows(c, ids, t["doc_id"].to_numpy(), t["cluster_id"].to_numpy()))
    return s, report


def crawl_submit(run: Run) -> dict:
    c, ids, path, setup = make_input(run)
    with run.span("setup.package") as pk:
        zip_path = package_zip(run)
    steal0 = host.steal_counters()
    trace_dir = run.dir / "eventlog-submit" if run.traced else None
    span, report = submit(run, "spark_submit", c, ids, zip_path, path, trace_dir)
    steal = host.steal_ratio(steal0)
    result = {
        **setup_cost(setup + [pk]),
        "op_walls": [span.wall],
        "timed_s": span.wall,
        "docs_per_cpu_s": N_DOCS / span.cpu,
        "docs_per_s": N_DOCS / (span.wall * (1 - steal)),
        "host.steal_ratio": steal,
    }
    if run.traced:
        # resuming the finished run skips every stage; one resume
        # untraced and one traced give the tracing overhead
        plain, _ = submit(run, "resume", c, ids, zip_path, path)
        traced, _ = submit(
            run, "traced_resume", c, ids, zip_path, path, run.dir / "eventlog-resume"
        )
        result["layer"] = trace_submit(run, c, span, report, trace_dir, plain, traced)
    return result


def trace_submit(run: Run, c, span, report: dict, trace_dir: Path, plain, traced) -> dict:
    """Per-layer metrics of the traced spark-submit."""
    with run.span("trace.kernels"):
        rates = kernel_rates(run, c)
    log = tracing.parse_event_log(
        str(next(p for p in trace_dir.iterdir() if p.name != "samples.json"))
    )
    samples = json.loads((trace_dir / "samples.json").read_text())
    tracing.attribute(log["jobs"], samples, default="jobs.dedup_job")
    layer = engine_metrics(log, [span], app_start=log["app_start"])
    jvm_s = log["app_start"] - span.start
    stage_s = {s["stage"]: s["sec"] for s in report["stages"]}
    wh = run.dir / "wh-run0"
    n_cand = stage_rows(report, "pairs")
    counts = bucket_counts(n_cand, stage_rows(report, "verified"), *read_bucket_stats(wh))
    kernel_s = N_DOCS / rates["fused_docs_per_s"] + n_cand / rates["jaccard_pairs_per_s"]
    tio = [j for j in log["jobs"] if j["module"] == "sources.tableio"]
    files = [p for p in wh.rglob("*.parquet") if p.is_file()]
    layer.update(
        {
            "session.start_s": jvm_s,
            "jobs.jvm_start_s": jvm_s,
            **kernel_layer(rates),
            "arrow.overhead_ratio": layer["arrow.python_run_s"] / kernel_s,
            **counts,
            **{f"plans.{k}_s": float(stage_s.get(k, 0.0)) for k in (
                "ingest", "signatures", "pairs", "verified", "clusters")},
            "plans.bookkeeping_s": report["wall_sec"] - sum(stage_s.values()),
            "plans.resume_s": plain.wall,
            "sources.tableio.write_s": job_wall(tio, "write"),
            "sources.tableio.read_s": job_wall(tio, "read"),
            "sources.tableio.bytes_written": float(sum(p.stat().st_size for p in files)),
            "sources.tableio.files_written": float(len(files)),
            "trace.overhead_ratio": traced.wall / plain.wall,
            "trace.overhead_cpu_ratio": traced.cpu / plain.cpu,
        }
    )
    layer["_table"] = tracing.format_table(
        tracing.layer_table(op_jobs(log["jobs"], [span]), log["stages"]),
        sum(driver_gaps(log["jobs"], [span], log["app_start"])),
        "per-layer table, crawl_submit, 1 traced spark-submit (JVM start "
        f"{jvm_s:.3f} s excluded from the driver gap)",
    )
    layer["_jobs"] = log["jobs"]
    return layer


def bucket_counts(n_cand: int, n_ver: int, n_capped: int, dropped: int) -> dict:
    return {
        "operators.dedup_minhash.candidates": float(n_cand),
        "operators.dedup_minhash.verified": float(n_ver),
        "operators.dedup_minhash.verify_yield": n_ver / n_cand if n_cand else 0.0,
        "operators.pairs.capped_buckets": float(n_capped),
        "operators.pairs.pairs_dropped_by_cap": float(dropped),
    }


def stage_rows(report: dict, stage: str) -> int:
    return int(next((s["rows"] for s in report["stages"] if s["stage"] == stage), 0))


def job_wall(jobs: list[dict], func: str) -> float:
    return tracing.union_length(
        [(j["start"], j["end"]) for j in jobs if j["stack"] and j["stack"][-1].endswith(":" + func)]
    )


def read_bucket_stats(wh: Path) -> tuple[int, int]:
    """(n_capped, pairs_dropped_by_cap) from the pipeline's _metrics
    table, read straight from its parquet-manifest layout."""
    manifest = json.loads((wh / "_metrics" / "_manifest.json").read_text())
    for snap in manifest["snapshots"]:
        if not snap["live"]:
            continue
        t = pq.read_table(snap["path"]).to_pylist()
        for row in t:
            if row["stage"] == "bucket_stats":
                return int(json.loads(row["config_json"])["n_capped"]), int(row["rows"])
    return 0, 0


# --- main ---------------------------------------------------------------------

WORKLOADS = {
    "crawl_stream": crawl_stream,
    "crawl_submit": crawl_submit,
}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    env_seen = host.scrub_env()
    run = Run(args)
    os.environ["SPARK_LOCAL_DIRS"] = str(run.dir / "local")
    os.environ["TMPDIR"] = str(run.tmp)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
    )
    stamp = host.host_stamp(ROOT)
    try:
        with run.span("run", workload=run.workload):
            result = WORKLOADS[run.workload](run)
        peak_rss_mb = host.tree_peak_rss_mb(os.getpid())
        layer = result.get("layer", {})
        root = run.tracer.spans[0]
        top = [s for s in run.tracer.spans if s.parent == root.id]
        layer["trace.span_coverage"] = sum(s.wall for s in top) / root.wall
        if run.traced:
            trace_dir = HERE / ".runs" / "traces"
            trace_dir.mkdir(parents=True, exist_ok=True)
            run.tracer.dump(str(trace_dir / f"{run.id}.json"), layer.pop("_jobs", []))
    finally:
        stop_jvm()
        shutil.rmtree(run.dir, ignore_errors=True)

    op_walls = result["op_walls"]
    e2e = {k: result[k] for k in ("setup_s", "docs_per_cpu_s", "docs_per_s")}
    e2e["recall"] = min(run.recalls) if run.recalls else 0.0
    layer.update({k: v for k, v in result.items() if k.startswith(("wall.", "host."))})
    layer["wall.batch_s_p50"] = median(op_walls)
    layer["process.peak_rss_mb"] = peak_rss_mb
    correct = run.failed == 0

    print(f"# {run.workload} seed={run.seed} seconds={run.seconds} trace={int(run.traced)}")
    print("# host " + json.dumps(stamp))
    print("# scrubbed env " + json.dumps(env_seen))
    print(f"# corpus {N_DOCS} docs x {WORDS_PER_DOC} words, {MASTER}")
    # the operations of a run are fixed (one spark-submit, three
    # micro-batches) and each set outlasts any --seconds up to ~15
    print(f"timed wall: {result['timed_s']:.3f} s (--seconds {run.seconds:g})")
    print(timing_line("batch wall", op_walls, "s"))
    print(f"failed_ratio: {run.failed}/{run.attempted}")
    for name, unit in END_TO_END.items():
        print(f"{name}: {e2e[name]:.6g} {unit}")
    for name in ("wall.setup_s", "wall.batch_s_p50", "host.steal_ratio", "process.peak_rss_mb"):
        print(f"{name}: {layer[name]:.6g} {PER_LAYER[name]}")
    if run.traced:
        print(layer.pop("_table"))
        for name, unit in PER_LAYER.items():
            print(f"{name}: {layer.get(name, 0.0):.6g} {unit}")
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    for problem in run.problems:
        print(f"problem: {problem}")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
