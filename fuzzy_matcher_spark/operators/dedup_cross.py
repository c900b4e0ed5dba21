"""Cross-corpus near-duplicate detection: probe a NEW corpus against
an EXISTING (indexed) one.

The asymmetric variant of MinHash-LSH dedup every multi-dump pipeline
needs: "which documents of crawl N+1 already exist (near-)verbatim in
crawls 1..N?" — the corpus-scale generalization of the reference
matcher's probe-vs-index search contract (fuzzy_matcher_core.go:
Search probes an index built by Build; here both sides are corpora).

Plan shape (the 100 TB story):

- Both sides share ONE signature config (the signature-format guard in
  functions/minhash.py applies: mixing configs silently yields zero
  agreement, so ``cross_dup_pairs`` derives both sides itself).
- Band indexes are joined on (band_id, band_hash) — a plain equi-join
  keyed by band hash, shuffling only narrow (key, id) rows, never
  text.
- Skew control mirrors pairs.capped_self_join_pairs but asymmetric:
  INDEX members of a bucket are ranked by id (one window pass, the
  same shuffle the join needs) and sliced to ``cap`` — bounded
  per-bucket memory even on mega-buckets — while PROBE rows are never
  collected at all: each probe row fans out to at most ``cap`` index
  ids. Truncation is observable via ``cross_bucket_stats``, never
  silent.
- Verification reuses dedup_minhash.verify_pairs (explode-by-side ->
  ONE join -> ONE groupBy, candidate-volume-sized shuffle). The two
  corpora may use overlapping id spaces, so around the verifier each
  id becomes a side-tagged struct (s: 0 index / 1 probe, i: id) —
  valid over the full int64 range, no id arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..config import DedupConfig
from ..functions.minhash import explode_bands, token_gram_sig_udf
from ..functions.shingles import token_hashes_col
from .cachereg import register_cache as _register_cache
from .cachereg import release_caches
from .dedup_minhash import (
    _EAGER_STATS_MIN_BYTES,
    _has_tokens,
    _shingle_sets,
    add_signatures,
    ensure_parallelism,
    plan_size_bytes,
    verify_pairs,
)

__all__ = [
    "capped_cross_join_pairs",
    "cross_bucket_stats",
    "cross_dup_pairs",
    "cross_dedup_keep",
]


def capped_cross_join_pairs(
    idx_a: DataFrame,
    idx_b: DataFrame,
    bucket_keys: list[str],
    id_col: str,
    cap: int,
    a_out: str = "a",
    b_out: str = "b",
) -> DataFrame:
    """Distinct cross-side (a, b): every B row joins the <= ``cap``
    smallest A ids of its bucket. A-side membership is bounded by a
    rank-and-filter window (never an unbounded collect); the B side
    streams through the bucket join one row at a time."""
    wr = Window.partitionBy(*bucket_keys).orderBy(id_col)
    a_capped = (
        idx_a.withColumn("_rn", F.row_number().over(wr))
        .where(F.col("_rn") <= cap)
        .groupBy(*bucket_keys)
        .agg(F.sort_array(F.collect_list(id_col)).alias("_aids"))
    )
    return (
        idx_b.join(a_capped, bucket_keys)
        .select(
            F.col(id_col).alias(b_out), F.explode("_aids").alias(a_out)
        )
        .select(a_out, b_out)
        .distinct()
    )


def cross_bucket_stats(
    idx_a: DataFrame, bucket_keys: list[str], cap: int
) -> DataFrame:
    """Observability for the A-side cap: one row per OVERSIZED bucket
    with its true size and how many members the cap dropped."""
    return (
        idx_a.groupBy(*bucket_keys)
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .where(F.col("bucket_size") > cap)
        .select(
            *bucket_keys,
            "bucket_size",
            (F.col("bucket_size") - F.lit(cap)).alias("n_dropped"),
        )
    )


def _narrow_signatures(
    df: DataFrame, cfg: DedupConfig, text_col: str, id_col: str
) -> DataFrame:
    """(id, signature) ONLY — the ~1.1 KB/doc relation worth
    persisting, mirroring dedup_minhash._signatures_with_exact_key.
    Same zero-token exclusion as add_signatures (sentinel signatures
    must not band together). Word mode skips the wide shingle-set half
    of the fused UDF entirely; char mode derives from add_signatures
    and just drops the wide column before the persist."""
    if cfg.shingle_mode == "word":
        base = ensure_parallelism(df).where(_has_tokens(text_col))
        sig = token_gram_sig_udf(cfg.num_perm, cfg.seed, cfg.shingle_size)
        return base.select(
            F.col(id_col), sig(token_hashes_col(text_col)).alias("signature")
        )
    return add_signatures(df, cfg, text_col, id_col).select(id_col, "signature")


def _tagged(side: int, id_col: str) -> Column:
    """The verifier's id for one side: struct(s: side, i: id)."""
    return F.struct(F.lit(side).alias("s"), F.col(id_col).alias("i"))


def cross_dup_pairs(
    index_docs: DataFrame,
    probe_docs: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(index_id, probe_id, jaccard) for every cross-corpus pair with
    exact Jaccard >= cfg.jaccard_threshold among LSH band candidates.

    Zero-token docs on either side are excluded (add_signatures
    contract) — they can never be near-duplicates of anything, and
    ``cross_dedup_keep`` therefore always keeps them.

    Two shapes, chosen by the combined input-plan estimate (r6). The
    signature subtrees feed two consumers (band index + verifier
    values). At scale (>= _EAGER_STATS_MIN_BYTES; unknown stats of
    RDD-backed inputs count as at scale) each side runs ONCE into a
    persisted NARROW (id, signature) relation, the wide shingle sets
    are rebuilt for CANDIDATE ids only (verify_pairs' builder
    semi-join), and the pairs are counted before the verify join —
    halving the scan+UDF cost and keeping the verify join narrow.
    Below it the LAZY shape evaluates each side's add_signatures twice
    and skips the count: the single-pass shape's ~10 extra scheduler
    jobs (cache fills, semi-joins) are pure fixed overhead on a tiny
    input (measured at sf0.1: 1.4s lazy vs 3.9s single-pass), and a
    mis-broadcast at that scale is tens of MiB at worst. Results are
    identical on both paths (both oracle-checked)."""
    release_caches()  # free the previous dedup invocation's caches
    at_scale = (
        plan_size_bytes(index_docs) + plan_size_bytes(probe_docs)
        >= _EAGER_STATS_MIN_BYTES
    )
    sides = (index_docs, probe_docs)
    if at_scale:
        sigs = [
            _register_cache(_narrow_signatures(d, cfg, text_col, id_col).persist())
            for d in sides
        ]

        def values(cand_ids: DataFrame) -> DataFrame:
            # semi-join each raw corpus down to its candidate-touched
            # docs BEFORE the tokenize/gram-mix pass
            sets = [
                _shingle_sets(
                    d.join(
                        cand_ids.where(F.col(f"{id_col}.s") == s).select(
                            F.col(f"{id_col}.i").alias(id_col)
                        ),
                        id_col,
                        "left_semi",
                    ),
                    cfg,
                    text_col,
                    id_col,
                    parallelize=False,
                )
                for s, d in enumerate(sides)
            ]
            return _union_tagged(sets, id_col)

    else:
        sigs = [add_signatures(d, cfg, text_col, id_col) for d in sides]
        values = _union_tagged(sigs, id_col)
    bi, bp = (explode_bands(sig, id_col, cfg) for sig in sigs)
    cand = capped_cross_join_pairs(
        bi,
        bp,
        ["band_id", "band_hash"],
        id_col,
        cfg.max_band_bucket,
        a_out="index_id",
        b_out="probe_id",
    )
    pairs = cand.select(
        _tagged(0, "index_id").alias("a"), _tagged(1, "probe_id").alias("b")
    )
    verified = verify_pairs(pairs, values, cfg, id_col, materialize=at_scale)
    return verified.select(
        F.col("a.i").alias("index_id"), F.col("b.i").alias("probe_id"), "jaccard"
    )


def _union_tagged(sets: list[DataFrame], id_col: str) -> DataFrame:
    """(tagged id, shingle_hashes) over both sides' (id, shingle_hashes)."""
    index_sets, probe_sets = (
        df.select(_tagged(s, id_col).alias(id_col), "shingle_hashes")
        for s, df in enumerate(sets)
    )
    return index_sets.unionByName(probe_sets)


def cross_dedup_keep(
    index_docs: DataFrame,
    probe_docs: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The keep-side: probe docs with NO near-duplicate in the index
    corpus (all probe columns preserved). The incremental-crawl filter:
    union(index, keep) is dedup-clean across dumps."""
    hits = (
        cross_dup_pairs(index_docs, probe_docs, cfg, id_col, text_col)
        .select(F.col("probe_id").alias(id_col))
        .distinct()
    )
    return probe_docs.join(hits, id_col, "left_anti")
