"""Checkpointed, resumable dedup pipeline (north rule: "every stage
writes per-partition lineage and metrics to checkpoint tables so runs
resume mid-pipeline").

Stage graph: an ingest stage, then the shared dedup stage graph
(plans/graph.py) with this class as its checkpoint policy:

    ingest -> signatures -> pairs -> verified -> clusters

Stage layouts (``<run_id>__<stage>`` tables):

- ingest      (id, text) — the input projection, spread over the
              cores (ensure_parallelism); signatures, the scale decision
              and the minhash shingle-set rebuild read this checkpoint
- signatures  minhash (id, _ek, n_units, signature), simhash
              (id, _ek, fingerprint) — ALL docs, narrow; zero-token docs
              have n_units = 0 / a NULL fingerprint and skip banding;
              _ek (exact-dup key) feeds the exact pairs and the roster
- pairs       minhash (a, b); simhash (a, b, fingerprint_a,
              fingerprint_b)
- verified    minhash (a, b, jaccard); simhash (a, b, hamming)
- clusters    (id, cluster_id) for every ingested id

Each stage materializes its output through TableIO (Iceberg or the
parquet-manifest fallback) under ``<run_id>__<stage>``, and appends

- per-partition rows to ``_lineage`` (run_id, stage, attempt,
  partition_id, rows) — partition-level row accounting for debugging
  skew and for verifying resumed runs read exactly what the original
  wrote;
- then a row to ``_metrics`` (run_id, stage, rows, wall_sec,
  completed_at, config_json), which marks the stage done. The pairs
  stage commits the ``bucket_stats`` skew-cap row (rows = pairs dropped
  by the bucket cap) in the same append.

Resume = re-invoking run() with the same run_id: stages whose metrics
row exists and whose output table is readable are skipped; execution
restarts at the first missing stage. Config changes under the same
run_id are rejected (config_json mismatch) — a changed config is a new
run. The config stamp includes STAGE_LAYOUT, so a run that older code
left half-finished (different stage tables) is refused the same way.
"""

from __future__ import annotations

import json
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fuzzy_matcher_spark.config import DedupConfig
from fuzzy_matcher_spark.operators.dedup_minhash import ensure_parallelism
from fuzzy_matcher_spark.operators.pairs import capped_bucket_stats
from fuzzy_matcher_spark.plans.graph import band_index, dedup_graph
from fuzzy_matcher_spark.sources.tableio import TableIO

METRICS_TABLE = "_metrics"
LINEAGE_TABLE = "_lineage"
METRICS_SCHEMA = (
    "run_id string, stage string, rows long, wall_sec double,"
    " completed_at string, config_json string"
)
# version of the stage table layouts above, stamped into config_json:
# 2 = narrow signatures with _ek (1, unstamped: wide add_signatures)
STAGE_LAYOUT = 2


def _count_partition(batches):
    """mapInArrow body: one (partition_id, rows) row per non-empty
    partition of a relation projected to its spark_partition_id() —
    per-partition counts without the shuffle (and, under AQE, the extra
    job) of a groupBy."""
    import pyarrow as pa

    pid, rows = None, 0
    for b in batches:
        if b.num_rows:
            pid = b.column(0)[0].as_py()
            rows += b.num_rows
    if rows:
        yield pa.RecordBatch.from_pydict(
            {"partition_id": [pid], "rows": [rows]},
            schema=pa.schema([("partition_id", pa.int32()), ("rows", pa.int64())]),
        )


@dataclass
class StageResult:
    stage: str
    rows: int
    wall_sec: float
    skipped: bool


@dataclass
class PipelineReport:
    run_id: str
    stages: list[StageResult] = field(default_factory=list)

    @property
    def total_sec(self) -> float:
        return sum(s.wall_sec for s in self.stages)


class DedupPipeline:
    def __init__(
        self,
        spark: SparkSession,
        io: TableIO,
        cfg: DedupConfig | None = None,
        mode: str = "minhash",
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        assert mode in ("minhash", "simhash")
        self.spark = spark
        self.io = io
        self.cfg = cfg or DedupConfig()
        self.mode = mode
        self.id_col = id_col
        self.text_col = text_col
        # sig_format folds SIGNATURE_FORMAT_VERSION into the drift
        # check: a CODE change to the hash family / gram-id space (same
        # DedupConfig values) makes old stage tables incomparable with
        # freshly computed signatures, so resume must rebuild-or-refuse
        # exactly as it does for a config change
        from fuzzy_matcher_spark.functions.minhash import signature_format_id

        self._cfg_json = json.dumps(
            {
                "mode": mode,
                "sig_format": signature_format_id(self.cfg),
                "stage_layout": STAGE_LAYOUT,
                **self.cfg.__dict__,
            },
            sort_keys=True,
        )

    # -- checkpoint bookkeeping ---------------------------------------------
    def _completed_stages(self, run_id: str) -> dict[str, str]:
        if not self.io.exists(METRICS_TABLE):
            return {}
        rows = (
            self.io.read(METRICS_TABLE)
            .where(F.col("run_id") == run_id)
            .select("stage", "config_json")
            .collect()
        )
        return {r.stage: r.config_json for r in rows}

    def _record(self, run_id: str, stage: str, df: DataFrame, wall: float) -> int:
        """Commit a finished stage: its per-partition ``_lineage`` rows,
        then its ``_metrics`` row (the pairs stage adds the
        ``bucket_stats`` row to the same append). Two Spark jobs: the
        lineage append, which counts the rows of every partition of the
        read-back checkpoint as it writes them and hands the total to
        the driver, and the metrics append."""
        # attempt id distinguishes a rebuild (e.g. after checkpoint
        # corruption) from the original write — counting without it
        # double-counts stale lineage rows from the failed attempt
        attempt = uuid.uuid4().hex
        lineage = (
            df.select(F.spark_partition_id().alias("partition_id"))
            .mapInArrow(_count_partition, "partition_id int, rows long")
            .select(
                F.lit(run_id).alias("run_id"),
                F.lit(stage).alias("stage"),
                F.lit(attempt).alias("attempt"),
                "partition_id",
                "rows",
            )
        )
        # the row count is the sum of the lineage rows as written — the
        # metrics reflect what the checkpoint holds, not what the plan
        # promised — observed during the append instead of read back
        total = Observation(f"lineage-{attempt}")
        lineage = lineage.observe(
            total, F.coalesce(F.sum("rows"), F.lit(0).cast("long")).alias("rows")
        )
        self.io.write(lineage, LINEAGE_TABLE, mode="append")
        n = int(total.get["rows"])
        rows = [self._metrics_row(run_id, stage, n, wall, self._cfg_json)]
        if stage == "pairs" and self._bucket_index is not None:
            rows.append(self._bucket_stats_row(run_id, *self._bucket_index))
        # built from literals in the JVM: createDataFrame(list) would go
        # through a Python RDD, i.e. Python workers, for a few rows
        fields = T.StructType.fromDDL(METRICS_SCHEMA).fields
        structs = [
            F.struct(
                *(F.lit(v).cast(f.dataType).alias(f.name) for v, f in zip(r, fields))
            )
            for r in rows
        ]
        metrics = self.spark.range(1, numPartitions=1).select(
            F.inline(F.array(*structs))
        )
        self.io.write(metrics, METRICS_TABLE, mode="append")
        return n

    @staticmethod
    def _metrics_row(
        run_id: str, stage: str, rows: int, wall: float, config_json: str
    ) -> tuple:
        return (
            run_id,
            stage,
            rows,
            float(round(wall, 3)),
            time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            config_json,
        )

    def _bucket_stats_row(
        self, run_id: str, index: DataFrame, bucket_keys: list[str]
    ) -> tuple:
        """The skew-cap observability row (bucket histogram + pairs
        dropped by star emission) for the metrics table — the cap is
        never silent."""
        t0 = time.time()
        stats = capped_bucket_stats(
            index, bucket_keys, self.cfg.max_band_bucket
        ).collect()[0]
        return self._metrics_row(
            run_id,
            "bucket_stats",
            int(stats.pairs_dropped_by_cap),
            time.time() - t0,
            json.dumps(
                {
                    "n_buckets": int(stats.n_buckets),
                    "max_bucket": int(stats.max_bucket),
                    "n_capped": int(stats.n_capped),
                    "cap": self.cfg.max_band_bucket,
                }
            ),
        )

    def _table(self, run_id: str, stage: str) -> str:
        return f"{run_id}__{stage}"

    def _run_stage(
        self,
        run_id: str,
        stage: str,
        done: dict[str, str],
        build: "callable",
        report: PipelineReport,
    ) -> DataFrame:
        tname = self._table(run_id, stage)
        if stage in done:
            if done[stage] != self._cfg_json:
                raise ValueError(
                    f"run {run_id} stage {stage} was built with a different "
                    "config; use a new run_id"
                )
            # validate the checkpoint is actually readable — a killed
            # writer can leave a committed-looking but truncated table.
            # read() infers the schema from ONE part's footer (whichever
            # the listing yields first); count() then opens every
            # part's footer in its scan tasks (metadata-only, no row
            # scan). A truncated part fails one or the other: fall
            # through and rebuild instead of failing mid-resume.
            try:
                out = self.io.read(tname)
                n = out.count()
                report.stages.append(StageResult(stage, n, 0.0, skipped=True))
                return out
            except Exception:
                pass  # rebuild below
        t0 = time.perf_counter()
        df = build()
        self.io.write(df, tname, mode="overwrite")
        out = self.io.read(tname)
        wall = time.perf_counter() - t0
        n = self._record(run_id, stage, out, wall)
        report.stages.append(StageResult(stage, n, round(wall, 3), skipped=False))
        return out

    # -- the pipeline ---------------------------------------------------------
    def run(self, docs: DataFrame, run_id: str) -> tuple[DataFrame, PipelineReport]:
        idc, txt = self.id_col, self.text_col
        report = PipelineReport(run_id)
        done = self._completed_stages(run_id)
        # (band index, bucket keys) of the bucket_stats row the pairs
        # stage commits with its own metrics row; None when a previous
        # attempt of this run already recorded it
        self._bucket_index = None

        def stage(name: str, build) -> DataFrame:
            out = self._run_stage(run_id, name, done, build, report)
            if name == "signatures" and "bucket_stats" not in done:
                self._bucket_index = band_index(out, self.cfg, self.mode, idc)
            return out

        # the ingest checkpoint is read twice (signatures, and the
        # minhash verify's shingle sets), so it is written already
        # spread over the cores: neither read re-shuffles the text
        ingest = stage("ingest", lambda: ensure_parallelism(docs.select(idc, txt)))
        clusters = dedup_graph(ingest, self.cfg, self.mode, idc, txt, stage)
        return clusters, report
