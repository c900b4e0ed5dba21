"""The dedup stage graph, built once for every way of running it.

    signatures -> pairs -> verified -> clusters

``dedup_graph`` builds each stage through ``stage(name, build)``: the
caller's materialization policy decides what happens to a stage's
DataFrame and returns the one the next stage reads. ``cache_policy``
persists the signatures in memory (minhash_dedup, simhash_dedup);
``DedupPipeline`` checkpoints every stage to TableIO so a run resumes
mid-graph.

Stage layouts (``mode`` picks the signature and verify kernels):

- signatures — ONE narrow relation over ALL docs, from one scan of the
  text: minhash ``(id, _ek, n_units, signature)``, simhash
  ``(id, _ek, fingerprint)``. Zero-token docs stay in it (n_units = 0,
  fingerprint NULL) but never enter the band index, so
  punctuation-only docs do not cluster through a shared sentinel.
  ``_ek`` is the exact-dup key: the exact star pairs and the final id
  roster both read it here, so nothing re-scans the text for them.
- pairs — the capped self-join over the band index (MinHash bands or
  SimHash bit slices); simhash pairs carry both fingerprints.
- verified — exact Jaccard over shingle sets recomputed from the docs
  (minhash) or the Hamming filter (simhash).
- clusters — ``cluster``: verified edges plus exact star pairs, closed
  under connected components, left-joined onto the roster.

One scale decision (``at_scale``) picks the minhash verify shape: at
scale the shingle sets are rebuilt for candidate ids only and the pairs
are counted before the verify join (exact stats for AQE); below it one
unpruned lazy pass is cheaper than the extra jobs.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from fuzzy_matcher_spark.config import DedupConfig
from fuzzy_matcher_spark.operators.cachereg import register_cache
from fuzzy_matcher_spark.operators.connected_components import connected_components
from fuzzy_matcher_spark.operators.dedup_exact import star_pairs_from_keys
from fuzzy_matcher_spark.operators.dedup_minhash import (
    _EAGER_STATS_MIN_BYTES,
    _shingle_sets,
    _signatures_with_exact_key,
    candidate_pairs,
    plan_size_bytes,
    verify_pairs,
)
from fuzzy_matcher_spark.operators.dedup_simhash import (
    fingerprints_with_exact_key,
    simhash_candidate_pairs,
    simhash_verify,
)

Stage = Callable[[str, Callable[[], DataFrame]], DataFrame]


def at_scale(docs: DataFrame) -> bool:
    """True when a mis-planned broadcast of a relation derived from
    ``docs`` could be large enough to matter (input-plan estimate >=
    _EAGER_STATS_MIN_BYTES): then the graph pays count barriers for
    exact join stats and prunes the shingle rebuild to candidate ids."""
    return plan_size_bytes(docs) >= _EAGER_STATS_MIN_BYTES


def _banded(sig: DataFrame, mode: str) -> DataFrame:
    """The docs of a signatures stage that enter the band index."""
    if mode == "minhash":
        return sig.where(F.col("n_units") > 0)
    return sig.where(F.col("fingerprint").isNotNull())


def cluster(
    edges: DataFrame, keyed: DataFrame, cfg: DedupConfig, id_col: str
) -> DataFrame:
    """(id, cluster_id) for every id of ``keyed`` (id, _ek): the
    ``edges`` (a, b) plus the exact-dup star pairs of ``_ek``, closed
    under connected components. cluster_id = min id of the component;
    singletons map to themselves."""
    edges = edges.select("a", "b").union(
        star_pairs_from_keys(keyed.select(id_col, "_ek"), id_col)
    ).distinct()
    comp = connected_components(edges, max_iter=cfg.cc_max_iter)
    ids = keyed.select(F.col(id_col))
    return ids.join(comp, ids[id_col] == comp["id"], "left").select(
        F.col(id_col),
        F.coalesce(F.col("component"), F.col(id_col)).alias("cluster_id"),
    )


def cache_policy(docs: DataFrame) -> Stage:
    """The in-memory policy: persist the signatures (three consumers —
    band index, exact pairs, roster — so the pandas-UDF hop runs once)
    and count them eagerly at scale, so join planning sees exact
    InMemoryRelation sizes. Every other stage stays lazy."""
    eager = at_scale(docs)

    def stage(name: str, build: Callable[[], DataFrame]) -> DataFrame:
        out = build()
        if name == "signatures":
            out = register_cache(out.persist())
            if eager:
                out.count()
        return out

    return stage


def dedup_graph(
    docs: DataFrame,
    cfg: DedupConfig,
    mode: str,
    id_col: str,
    text_col: str,
    stage: Stage,
    bucket_stats: Observation | None = None,
) -> DataFrame:
    """docs (id, text) -> (id, cluster_id), each stage built through
    ``stage``. ``mode`` is "minhash" or "simhash". ``bucket_stats``
    observes the pairs stage's bucket histogram
    (capped_self_join_pairs)."""
    if mode == "minhash":
        cfg.validate()
        signatures, pairs_of = _signatures_with_exact_key, candidate_pairs
        big = at_scale(docs)

        def verify(pairs: DataFrame, sig: DataFrame) -> DataFrame:
            # the shingle sets are consumed once, by the verify join:
            # at scale rebuild them for candidate ids only (semi-join
            # before the gram pass); below it one unpruned pass costs
            # fewer jobs
            if big:
                values = lambda cand_ids: _shingle_sets(  # noqa: E731
                    docs.join(cand_ids, id_col, "left_semi"),
                    cfg,
                    text_col,
                    id_col,
                    parallelize=False,
                )
            else:
                values = _shingle_sets(docs, cfg, text_col, id_col)
            return verify_pairs(pairs, values, cfg, id_col, materialize=big)

    elif mode == "simhash":
        signatures, pairs_of = fingerprints_with_exact_key, simhash_candidate_pairs

        def verify(pairs: DataFrame, sig: DataFrame) -> DataFrame:
            return simhash_verify(pairs, _banded(sig, mode), cfg, id_col)

    else:
        raise ValueError(f"unknown dedup mode: {mode!r}")

    sig = stage("signatures", lambda: signatures(docs, cfg, text_col, id_col))
    pairs = stage(
        "pairs",
        lambda: pairs_of(_banded(sig, mode), cfg, id_col, bucket_stats=bucket_stats),
    )
    verified = stage("verified", lambda: verify(pairs, sig))
    return stage("clusters", lambda: cluster(verified, sig, cfg, id_col))
