"""TableIO + pipeline checkpoint/resume tests."""

import tempfile

import pytest
from pyspark.sql import functions as F

from fuzzy_matcher_spark.config import DedupConfig
from fuzzy_matcher_spark.plans.pipeline import DedupPipeline, METRICS_TABLE
from fuzzy_matcher_spark.sources.tableio import ParquetTableIO
from fuzzy_matcher_spark.sources.webpages import webpages_df

CFG = DedupConfig(shingle_mode="word", shingle_size=4, jaccard_threshold=0.8)


@pytest.fixture()
def io(spark, tmp_path):
    return ParquetTableIO(spark, str(tmp_path / "warehouse"))


def test_tableio_append_overwrite_delete(spark, io):
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    df2 = spark.createDataFrame([(3, "c")], "id long, v string")
    io.write(df1, "t")
    io.write(df2, "t", mode="append")
    assert io.read("t").count() == 3
    assert len(io.snapshots("t")) == 2

    io.delete_where("t", "id = 2")
    got = sorted(r.id for r in io.read("t").collect())
    assert got == [1, 3]
    # delete created a new snapshot; old ones retained but not live
    assert len(io.snapshots("t")) == 3
    assert sum(s["live"] for s in io.snapshots("t")) == 1

    io.write(df2, "t", mode="overwrite")
    assert io.read("t").count() == 1


def test_pipeline_runs_and_resumes(spark, io):
    pages = webpages_df(spark, n_families=15, singletons=20, seed=5)
    pipe = DedupPipeline(spark, io, CFG)

    clusters1, rep1 = pipe.run(pages, run_id="r1")
    got1 = {(r.doc_id, r.cluster_id) for r in clusters1.collect()}
    assert not any(s.skipped for s in rep1.stages)
    assert [s.stage for s in rep1.stages] == [
        "ingest", "signatures", "pairs", "verified", "clusters",
    ]

    # resume: everything skipped, identical output
    clusters2, rep2 = pipe.run(pages, run_id="r1")
    got2 = {(r.doc_id, r.cluster_id) for r in clusters2.collect()}
    assert got1 == got2
    assert all(s.skipped for s in rep2.stages)

    # metrics recorded once per stage with row counts, plus the
    # skew-cap observability row (rows = pairs dropped by the cap)
    m = io.read(METRICS_TABLE).where("run_id = 'r1'").collect()
    assert {r.stage for r in m} == {
        "ingest", "signatures", "pairs", "verified", "clusters",
        "bucket_stats",
    }
    by_stage = {r.stage: r.rows for r in m}
    assert by_stage["ingest"] == pages.count()
    assert by_stage["clusters"] == pages.count()
    assert by_stage["bucket_stats"] == 0  # no bucket exceeds the cap here
    import json as _json

    stats = _json.loads(
        {r.stage: r.config_json for r in m}["bucket_stats"]
    )
    assert stats["n_buckets"] > 0 and stats["n_capped"] == 0

    # lineage has per-partition rows summing to the stage totals
    lin = io.read("_lineage").where("run_id = 'r1' and stage = 'ingest'")
    assert lin.agg(F.sum("rows")).collect()[0][0] == pages.count()


def test_pipeline_partial_resume(spark, io):
    """Kill after 'pairs', resume completes only the remaining stages."""
    pages = webpages_df(spark, n_families=10, singletons=10, seed=6)
    pipe = DedupPipeline(spark, io, CFG)

    class Boom(Exception):
        pass

    orig = pipe._run_stage
    calls = []

    def wrapped(run_id, stage, done, build, report):
        calls.append(stage)
        if stage == "verified" and len([c for c in calls if c == "verified"]) == 1:
            raise Boom()
        return orig(run_id, stage, done, build, report)

    pipe._run_stage = wrapped
    with pytest.raises(Boom):
        pipe.run(pages, run_id="r2")

    pipe._run_stage = orig
    clusters, rep = pipe.run(pages, run_id="r2")
    skipped = {s.stage for s in rep.stages if s.skipped}
    assert skipped == {"ingest", "signatures", "pairs"}
    assert clusters.count() == pages.count()


def test_pipeline_config_change_rejected(spark, io):
    pages = webpages_df(spark, n_families=5, singletons=5, seed=8)
    DedupPipeline(spark, io, CFG).run(pages, run_id="r3")
    other = DedupConfig(shingle_mode="word", shingle_size=5, jaccard_threshold=0.8)
    with pytest.raises(ValueError, match="different config"):
        DedupPipeline(spark, io, other).run(pages, run_id="r3")


def test_pipeline_simhash_mode(spark, io):
    pages = webpages_df(spark, n_families=10, singletons=10, seed=9)
    clusters, rep = DedupPipeline(spark, io, CFG, mode="simhash").run(
        pages, run_id="r4"
    )
    assert clusters.count() == pages.count()
    # exact copies must co-cluster even in simhash mode
    texts = {r.doc_id: r.text for r in pages.select("doc_id", "text").collect()}
    cl = {r.doc_id: r.cluster_id for r in clusters.collect()}
    for a in texts:
        for b in texts:
            if a < b and texts[a] == texts[b]:
                assert cl[a] == cl[b]


def test_pipeline_rebuilds_corrupt_checkpoint(spark, io):
    """A truncated part file in a completed stage is detected at resume
    (parquet footer validation) and the stage is rebuilt with exact,
    attempt-scoped row counts."""
    import glob
    import json
    import os

    pages = webpages_df(spark, n_families=8, singletons=8, seed=12)
    pipe = DedupPipeline(spark, io, CFG)
    _, rep1 = pipe.run(pages, run_id="r9")
    pairs_rows = {s.stage: s.rows for s in rep1.stages}["pairs"]

    # truncate a part file in the LIVE pairs snapshot
    manifest = json.load(open(os.path.join(io.root, "r9__pairs/_manifest.json")))
    live = [s["path"] for s in manifest["snapshots"] if s["live"]][0]
    part = glob.glob(os.path.join(live, "part-*.parquet"))[0]
    with open(part, "r+b") as f:
        f.truncate(64)

    clusters, rep2 = pipe.run(pages, run_id="r9")
    by_stage = {s.stage: s for s in rep2.stages}
    assert by_stage["ingest"].skipped and by_stage["signatures"].skipped
    assert not by_stage["pairs"].skipped, "corrupt stage must rebuild"
    assert by_stage["pairs"].rows == pairs_rows, "attempt-scoped count"
    assert clusters.count() == pages.count()


def test_tableio_bulk_delete_matching(spark, io):
    """Bulk delete path (O12 persisted): the key set stays a DataFrame
    — 100k ids never land on the driver (no IN-list predicate)."""
    base = spark.range(0, 120_000).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    )
    io.write(base, "big")
    doomed = spark.range(0, 100_000).select(F.col("id"))
    io.delete_matching("big", doomed, "id")
    left = io.read("big")
    assert left.count() == 20_000
    assert left.agg(F.min("id")).collect()[0][0] == 100_000


def test_bucket_stats_empty_index(spark):
    """capped_bucket_stats over an empty band index (empty corpus /
    all docs filtered out) must return zeros, not NULLs — the metrics
    recorder int()-casts every field."""
    from fuzzy_matcher_spark.operators.pairs import capped_bucket_stats

    idx = spark.createDataFrame([], "band_id int, band_hash long, doc_id long")
    row = capped_bucket_stats(idx, ["band_id", "band_hash"], 64).collect()[0]
    assert (
        int(row.n_buckets),
        int(row.max_bucket),
        int(row.n_capped),
        int(row.pairs_dropped_by_cap),
    ) == (0, 0, 0, 0)


def test_pipeline_rebuilds_corrupt_last_part(spark, io):
    """Resume validation must not depend on which part file schema
    inference happens to read: truncating the LAST part in sorted
    order of a multi-part checkpoint (not whatever glob lists first) is
    caught just the same."""
    import glob
    import json
    import os

    pages = webpages_df(spark, n_families=8, singletons=8, seed=13)
    pipe = DedupPipeline(spark, io, CFG)
    _, rep1 = pipe.run(pages, run_id="r10")
    sig_rows = {s.stage: s.rows for s in rep1.stages}["signatures"]

    manifest = json.load(
        open(os.path.join(io.root, "r10__signatures/_manifest.json"))
    )
    live = [s["path"] for s in manifest["snapshots"] if s["live"]][0]
    parts = sorted(glob.glob(os.path.join(live, "part-*.parquet")))
    assert len(parts) > 1
    with open(parts[-1], "r+b") as f:
        f.truncate(64)

    clusters, rep2 = pipe.run(pages, run_id="r10")
    by_stage = {s.stage: s for s in rep2.stages}
    assert by_stage["ingest"].skipped
    assert not by_stage["signatures"].skipped, "corrupt stage must rebuild"
    assert by_stage["signatures"].rows == sig_rows
    assert clusters.count() == pages.count()


def test_pipeline_commit_runs_no_spark_job(spark, io):
    """A checkpoint commit launches no Spark job: lineage rows come from
    the written files' footers and both bookkeeping appends are written
    on the driver. The pairs commit carries the bucket_stats row,
    observed during the pairs pass, in the same _metrics snapshot, and
    every stage's lineage rows sum to its recorded total."""
    import json
    import os

    pages = webpages_df(spark, n_families=6, singletons=6, seed=14)
    pipe = DedupPipeline(spark, io, CFG)
    sc = spark.sparkContext
    jobs = {}
    orig = pipe._record

    def counted(run_id, stage, *args):
        group = f"commit-{stage}"
        sc.setJobGroup(group, group)
        try:
            return orig(run_id, stage, *args)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            jobs[stage] = len(sc.statusTracker().getJobIdsForGroup(group))

    pipe._record = counted
    _, rep = pipe.run(pages, run_id="r11")
    assert jobs == {
        "ingest": 0, "signatures": 0, "pairs": 0, "verified": 0, "clusters": 0,
    }

    totals = {s.stage: s.rows for s in rep.stages}
    lin = io.read("_lineage").where("run_id = 'r11'").groupBy("stage").agg(
        F.sum("rows").alias("rows"), F.countDistinct("attempt").alias("n")
    )
    assert {r.stage: (r.rows, r.n) for r in lin.collect()} == {
        s: (n, 1) for s, n in totals.items()
    }
    manifest = json.load(open(os.path.join(io.root, METRICS_TABLE, "_manifest.json")))
    snaps = [
        {r.stage for r in spark.read.parquet(s["path"]).collect()}
        for s in manifest["snapshots"]
    ]
    assert {"pairs", "bucket_stats"} in snaps


def test_pipeline_refuses_old_stage_layout(spark, io):
    """A run that an older stage layout left half-finished (wide
    add_signatures checkpoint, no exact-dup key, config stamp without
    the layout) is refused up front, not failed inside a later stage."""
    import json

    from fuzzy_matcher_spark.operators.dedup_minhash import add_signatures
    from fuzzy_matcher_spark.plans.pipeline import PipelineReport

    pages = webpages_df(spark, n_families=5, singletons=5, seed=15)
    old = DedupPipeline(spark, io, CFG)
    stamp = json.loads(old._cfg_json)
    del stamp["stage_layout"]
    old._cfg_json = json.dumps(stamp, sort_keys=True)
    done, report = {}, PipelineReport("r12")
    ingest = old._run_stage(
        "r12", "ingest", done, lambda: pages.select("doc_id", "text"), report
    )
    old._run_stage(
        "r12", "signatures", done, lambda: add_signatures(ingest, CFG), report
    )
    with pytest.raises(ValueError, match="different config"):
        DedupPipeline(spark, io, CFG).run(pages, run_id="r12")


@pytest.mark.parametrize("mode", ["minhash", "simhash"])
def test_pipeline_matches_in_memory_dedup(spark, io, mode):
    """The checkpointed and the in-memory run of the dedup graph give
    the same clusters; a punctuation-only doc stays a singleton and a
    byte-identical copy co-clusters with its original."""
    from fuzzy_matcher_spark.operators.dedup_minhash import minhash_dedup
    from fuzzy_matcher_spark.operators.dedup_simhash import simhash_dedup

    pages = webpages_df(spark, n_families=10, singletons=10, seed=16).select(
        "doc_id", "text"
    )
    top, text = pages.orderBy(F.col("doc_id").desc()).first()
    docs = pages.unionByName(
        spark.createDataFrame(
            [(top + 1, " ... -- !!! ... "), (top + 2, text)], "doc_id long, text string"
        )
    )
    clusters, _ = DedupPipeline(spark, io, CFG, mode=mode).run(docs, run_id=f"r13{mode}")
    in_memory = {"minhash": minhash_dedup, "simhash": simhash_dedup}[mode]
    got = {(r.doc_id, r.cluster_id) for r in clusters.collect()}
    assert got == {(r.doc_id, r.cluster_id) for r in in_memory(docs, CFG).collect()}
    cl = dict(got)
    assert len(cl) == docs.count()
    assert cl[top + 2] == cl[top]
    assert cl[top + 1] == top + 1
    assert sum(c == cl[top + 1] for c in cl.values()) == 1


def test_pipeline_rebuilds_short_checkpoint(spark, io):
    """A resume whose checkpoint lost a whole part file (every footer
    left still opens) sees the footer rows fall short of the recorded
    total and rebuilds the stage instead of skipping it."""
    import glob
    import json
    import os

    pages = webpages_df(spark, n_families=8, singletons=8, seed=18)
    pipe = DedupPipeline(spark, io, CFG)

    class Boom(Exception):
        pass

    orig = pipe._run_stage

    def killed_at_pairs(run_id, stage, done, build, report):
        if stage == "pairs":
            raise Boom()
        return orig(run_id, stage, done, build, report)

    pipe._run_stage = killed_at_pairs
    with pytest.raises(Boom):
        pipe.run(pages, run_id="r14")
    pipe._run_stage = orig

    sig_rows = (
        io.read(METRICS_TABLE).where("run_id = 'r14' and stage = 'signatures'")
        .first().rows
    )
    manifest = json.load(
        open(os.path.join(io.root, "r14__signatures/_manifest.json"))
    )
    live = [s["path"] for s in manifest["snapshots"] if s["live"]][0]
    parts = sorted(glob.glob(os.path.join(live, "part-*.parquet")))
    assert len(parts) > 1
    os.remove(parts[0])

    clusters, rep = pipe.run(pages, run_id="r14")
    by_stage = {s.stage: s for s in rep.stages}
    assert by_stage["ingest"].skipped
    assert not by_stage["signatures"].skipped, "short checkpoint must rebuild"
    assert by_stage["signatures"].rows == sig_rows == pages.count()
    assert {r.doc_id for r in clusters.collect()} == {
        r.doc_id for r in pages.select("doc_id").collect()
    }


CAP_CFG = DedupConfig(
    shingle_mode="word", shingle_size=4, jaccard_threshold=0.8, max_band_bucket=4
)
STAGES = ["ingest", "signatures", "pairs", "verified", "clusters"]


@pytest.fixture(scope="module")
def capped_runs(spark, tmp_path_factory):
    """Finished pipeline runs in both modes over two corpora: webpages
    plus a 10-page template family, larger than the bucket cap
    (``capped-<mode>``), and punctuation-only docs, whose band index is
    empty (``punct-<mode>``)."""
    io = ParquetTableIO(spark, str(tmp_path_factory.mktemp("capped")))
    pages = webpages_df(spark, n_families=4, singletons=6, seed=17).select(
        "doc_id", "text"
    )
    top = pages.agg(F.max("doc_id")).first()[0]
    template = " ".join(f"boilerplate{i}" for i in range(40))
    family = [(top + 1 + i, f"{template} slot{i}") for i in range(10)]
    corpora = {
        "capped": pages.unionByName(
            spark.createDataFrame(family, "doc_id long, text string")
        ),
        "punct": spark.createDataFrame(
            [(i, " ... -- !!! ") for i in range(6)], "doc_id long, text string"
        ),
    }
    for mode in ("minhash", "simhash"):
        for name, docs in corpora.items():
            DedupPipeline(spark, io, CAP_CFG, mode=mode).run(
                docs, run_id=f"{name}-{mode}"
            )
    return io


@pytest.mark.parametrize("corpus", ["capped", "punct"])
@pytest.mark.parametrize("mode", ["minhash", "simhash"])
def test_pipeline_bucket_stats_observed(spark, capped_runs, mode, corpus):
    """The bucket_stats row the pairs pass observes equals the on-demand
    capped_bucket_stats over the band index of the signatures
    checkpoint — with the cap firing, and over an empty index."""
    import json

    from fuzzy_matcher_spark.operators.dedup_minhash import band_index
    from fuzzy_matcher_spark.operators.dedup_simhash import slice_index
    from fuzzy_matcher_spark.operators.pairs import capped_bucket_stats

    io, run = capped_runs, f"{corpus}-{mode}"
    rows = (
        io.read(METRICS_TABLE)
        .where(f"run_id = '{run}' and stage = 'bucket_stats'")
        .collect()
    )
    assert len(rows) == 1
    got = {**json.loads(rows[0].config_json), "pairs_dropped_by_cap": rows[0].rows}

    sig = io.read(f"{run}__signatures")
    if mode == "minhash":
        idx, keys = band_index(sig.where("n_units > 0"), CAP_CFG)
    else:
        idx, keys = slice_index(sig.where("fingerprint IS NOT NULL"), CAP_CFG)
    want = capped_bucket_stats(idx, keys, CAP_CFG.max_band_bucket).first().asDict()
    assert got == {**want, "cap": CAP_CFG.max_band_bucket}
    if corpus == "capped":
        assert want["n_capped"] > 0 and want["pairs_dropped_by_cap"] > 0
    else:
        assert want["n_buckets"] == 0


def test_observed_bucket_stats_of_pruned_scan(spark, tmp_path):
    """An index AQE proves empty can drop the observed scan from the
    plan; the Observation then holds an empty row, read as all-zero
    stats rather than raising or waiting."""
    from pyspark.sql import Observation

    from fuzzy_matcher_spark.operators.pairs import (
        BUCKET_STATS,
        capped_self_join_pairs,
        observed_bucket_stats,
    )

    idx = spark.range(10).select(
        F.lit(1).alias("band_id"),
        F.col("id").alias("band_hash"),
        F.col("id").alias("doc_id"),
    ).where("doc_id < 0")
    observed = Observation()
    pairs = capped_self_join_pairs(
        idx, ["band_id", "band_hash"], "doc_id", 4, bucket_stats=observed
    )
    pairs.write.parquet(str(tmp_path / "pairs"))
    assert observed_bucket_stats(observed) == dict.fromkeys(BUCKET_STATS, 0)


def test_tableio_schema_stamp_matches_inference(spark, capped_runs, tmp_path):
    """Every stamped read — each pipeline stage layout, the bookkeeping
    tables and the streaming signature/pair tables — has exactly the
    schema inference gives."""
    from fuzzy_matcher_spark.streaming.ingest import (
        PAIR_TABLE,
        SIG_TABLE,
        incremental_dedup_sink,
    )

    stream_io = ParquetTableIO(spark, str(tmp_path / "stream"))
    pages = webpages_df(spark, n_families=4, singletons=4, seed=19).select(
        "doc_id", "text"
    )
    sink = incremental_dedup_sink(stream_io, CFG)
    sink(pages.where("doc_id % 2 = 0"), 0)
    sink(pages.where("doc_id % 2 = 1"), 1)

    tables = [
        (capped_runs, f"{corpus}-{mode}__{stage}")
        for corpus in ("capped", "punct")
        for mode in ("minhash", "simhash")
        for stage in STAGES
    ]
    tables += [(capped_runs, METRICS_TABLE), (capped_runs, "_lineage")]
    tables += [(stream_io, SIG_TABLE), (stream_io, PAIR_TABLE)]
    for tio, t in tables:
        live = [s for s in tio.snapshots(t) if s["live"]]
        assert all(s["schema"] for s in live), t
        inferred = spark.read.parquet(*[s["path"] for s in live]).schema
        assert tio.read(t).schema == inferred, t


def test_tableio_unstamped_mixed_and_driver_appends(spark, io):
    """A manifest without schema stamps still reads; snapshots with
    different stamps read by inference; append_rows snapshots read
    through Spark and as plain parquet directories."""
    import json
    import os

    import pyarrow.parquet as pq

    from fuzzy_matcher_spark.plans.pipeline import METRICS_SCHEMA

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    io.write(df, "old")
    path = os.path.join(io.root, "old", "_manifest.json")
    manifest = json.load(open(path))
    for s in manifest["snapshots"]:
        del s["schema"]
    json.dump(manifest, open(path, "w"))
    assert sorted(map(tuple, io.read("old").collect())) == [(1, "a"), (2, "b")]

    io.write(df, "mixed")
    wide = spark.createDataFrame([(3, "c", 1.5)], "id long, v string, w double")
    io.write(wide, "mixed", mode="append")
    live = [s["path"] for s in io.snapshots("mixed") if s["live"]]
    assert io.read("mixed").schema == spark.read.parquet(*live).schema
    assert io.read("mixed").count() == 3

    rows = [("r", "s", 3, 1.5, "2026-01-01T00:00:00Z", "{}")]
    io.append_rows("m", rows, METRICS_SCHEMA)
    io.append_rows("m", [], METRICS_SCHEMA)  # no snapshot for no rows
    io.write(spark.createDataFrame(rows, METRICS_SCHEMA), "m", mode="append")
    snaps = io.snapshots("m")
    assert len(snaps) == 2 and snaps[0]["schema"] == snaps[1]["schema"]
    assert [tuple(r) for r in io.read("m").collect()] == rows * 2
    names = [f.name for f in io.read("m").schema]
    for s in snaps:
        assert pq.read_table(s["path"]).to_pylist() == [dict(zip(names, rows[0]))]
    assert [n for _, n in io.part_rows("m")] == [1, 1]
