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
parquet-manifest fallback) under ``<run_id>__<stage>``, then commits
from the driver: the bookkeeping rows are built there and appended with
``TableIO.append_rows`` (on the parquet backend a commit launches no
Spark job):

- per-file rows to ``_lineage`` (run_id, stage, attempt, partition_id,
  rows), taken from the written files' metadata (``TableIO.part_rows``:
  parquet footers, Iceberg's files table); partition_id is the writer
  task's partition — partition-level row accounting for debugging skew
  and for verifying resumed runs read exactly what the original wrote;
- then a row to ``_metrics`` (run_id, stage, rows, wall_sec,
  completed_at, config_json), which marks the stage done; rows is the
  sum of the lineage rows. The pairs stage commits the
  ``bucket_stats`` skew-cap row (rows = pairs dropped by the bucket
  cap) in the same append, observed during its own pass
  (capped_self_join_pairs).

Resume = re-invoking run() with the same run_id: a stage whose metrics
row exists is skipped when its checkpoint's footers open and their rows
sum to the recorded total; a truncated or missing part rebuilds it.
Execution restarts at the first missing stage. Config changes under
the same run_id are rejected (config_json mismatch) — a changed config
is a new run. The config stamp includes STAGE_LAYOUT, so a run that
older code left half-finished (different stage tables) is refused the
same way.
"""

from __future__ import annotations

import json
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from fuzzy_matcher_spark.config import DedupConfig
from fuzzy_matcher_spark.operators.dedup_minhash import ensure_parallelism
from fuzzy_matcher_spark.operators.pairs import observed_bucket_stats
from fuzzy_matcher_spark.plans.graph import dedup_graph
from fuzzy_matcher_spark.sources.tableio import TableIO

METRICS_TABLE = "_metrics"
LINEAGE_TABLE = "_lineage"
METRICS_SCHEMA = (
    "run_id string, stage string, rows long, wall_sec double,"
    " completed_at string, config_json string"
)
LINEAGE_SCHEMA = (
    "run_id string, stage string, attempt string, partition_id int, rows long"
)
# version of the stage table layouts above, stamped into config_json:
# 2 = narrow signatures with _ek (1, unstamped: wide add_signatures)
STAGE_LAYOUT = 2


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
        # the pairs stage's observed bucket histogram (run() sets it)
        self._bucket_stats: Observation | None = None

    # -- checkpoint bookkeeping ---------------------------------------------
    def _completed_stages(self, run_id: str) -> dict[str, tuple[str, int]]:
        """stage -> (config_json, rows) of the latest commit of each
        stage of ``run_id``."""
        if not self.io.exists(METRICS_TABLE):
            return {}
        rows = (
            self.io.read(METRICS_TABLE)
            .where(F.col("run_id") == run_id)
            .select("stage", "config_json", "rows", "completed_at")
            .collect()
        )
        return {
            r.stage: (r.config_json, r.rows)
            for r in sorted(rows, key=lambda r: r.completed_at)
        }

    def _record(self, run_id: str, stage: str, wall: float) -> int:
        """Commit a finished stage (no Spark job on the parquet backend):
        its per-file
        ``_lineage`` rows, read from the checkpoint's file metadata
        (writer-task partition_id, rows), then its ``_metrics`` row —
        rows = the lineage sum, what the checkpoint holds rather than
        what the plan promised. The pairs stage adds the observed
        ``bucket_stats`` row to the same append. Returns the rows."""
        # attempt id distinguishes a rebuild (e.g. after checkpoint
        # corruption) from the original write — counting without it
        # double-counts stale lineage rows from the failed attempt
        attempt = uuid.uuid4().hex
        parts = self.io.part_rows(self._table(run_id, stage))
        self.io.append_rows(
            LINEAGE_TABLE,
            [(run_id, stage, attempt, pid, n) for pid, n in parts],
            LINEAGE_SCHEMA,
        )
        n = sum(n for _, n in parts)
        rows = [self._metrics_row(run_id, stage, n, wall, self._cfg_json)]
        if stage == "pairs" and self._bucket_stats is not None:
            rows.append(self._bucket_stats_row(run_id, self._bucket_stats))
        self.io.append_rows(METRICS_TABLE, rows, METRICS_SCHEMA)
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

    def _bucket_stats_row(self, run_id: str, observed: Observation) -> tuple:
        """The skew-cap observability row (bucket histogram + pairs
        dropped by star emission) for the metrics table — the cap is
        never silent. ``observed`` was filled by the pairs write."""
        stats = observed_bucket_stats(observed)
        return self._metrics_row(
            run_id,
            "bucket_stats",
            stats.pop("pairs_dropped_by_cap"),
            0.0,
            json.dumps({**stats, "cap": self.cfg.max_band_bucket}),
        )

    def _table(self, run_id: str, stage: str) -> str:
        return f"{run_id}__{stage}"

    def _run_stage(
        self,
        run_id: str,
        stage: str,
        done: dict[str, tuple[str, int]],
        build: "callable",
        report: PipelineReport,
    ) -> DataFrame:
        tname = self._table(run_id, stage)
        if stage in done:
            config_json, rows = done[stage]
            if config_json != self._cfg_json:
                raise ValueError(
                    f"run {run_id} stage {stage} was built with a different "
                    "config; use a new run_id"
                )
            # validate the checkpoint from its files, not from a Spark
            # count (which a cached plan of the same read can answer
            # without opening them): every live part's footer must open
            # — a killed writer can leave a committed-looking but
            # truncated table — and the rows must add up to the
            # recorded total, or a lost part goes unnoticed. Otherwise
            # fall through and rebuild instead of failing mid-resume.
            try:
                ok = sum(n for _, n in self.io.part_rows(tname)) == rows
            except (OSError, ValueError):  # unreadable footer / manifest
                ok = False
            if ok:
                report.stages.append(StageResult(stage, rows, 0.0, skipped=True))
                return self.io.read(tname)
        t0 = time.perf_counter()
        df = build()
        self.io.write(df, tname, mode="overwrite")
        out = self.io.read(tname)
        wall = time.perf_counter() - t0
        n = self._record(run_id, stage, wall)
        report.stages.append(StageResult(stage, n, round(wall, 3), skipped=False))
        return out

    # -- the pipeline ---------------------------------------------------------
    def run(self, docs: DataFrame, run_id: str) -> tuple[DataFrame, PipelineReport]:
        idc, txt = self.id_col, self.text_col
        report = PipelineReport(run_id)
        done = self._completed_stages(run_id)
        # filled by the pairs stage's own pass and committed with its
        # metrics row; None when a previous attempt of this run already
        # recorded the bucket_stats row
        self._bucket_stats = None if "bucket_stats" in done else Observation()

        def stage(name: str, build) -> DataFrame:
            return self._run_stage(run_id, name, done, build, report)

        # the ingest checkpoint is read twice (signatures, and the
        # minhash verify's shingle sets), so it is written already
        # spread over the cores: neither read re-shuffles the text
        ingest = stage("ingest", lambda: ensure_parallelism(docs.select(idc, txt)))
        clusters = dedup_graph(
            ingest, self.cfg, self.mode, idc, txt, stage, self._bucket_stats
        )
        return clusters, report
