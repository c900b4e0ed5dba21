"""SimHash Hamming-bucket near-duplicate detection (north-rule mode 2).

Pipeline: shingle hashes (JVM) -> 64-bit SimHash (numpy pandas UDF) ->
bit-slice bucket index (JVM) -> capped self-join -> Hamming verify
(bit_count(a XOR b), pure JVM) -> union exact pairs -> CC, run through
the shared stage graph (plans/graph.py).

With ``tables`` bit slices, any pair within Hamming distance
(tables - 1) shares at least one full slice (pigeonhole), so candidate
generation is exact for r <= tables - 1; the config validates this.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from fuzzy_matcher_spark.config import DedupConfig
from fuzzy_matcher_spark.functions.shingles import add_shingle_hashes
from fuzzy_matcher_spark.functions.simhash import (
    explode_slices,
    hamming_col,
    simhash64_udf,
)
from fuzzy_matcher_spark.operators.cachereg import release_caches
from fuzzy_matcher_spark.operators.dedup_exact import exact_key
from fuzzy_matcher_spark.operators.pairs import capped_self_join_pairs


def add_fingerprints(
    df: DataFrame, cfg: DedupConfig, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    from fuzzy_matcher_spark.operators.dedup_minhash import (
        _has_tokens,
        ensure_parallelism,
    )

    # zero-token docs shingle to the sentinel ['']; exclude them so
    # byte-distinct punctuation-only docs stay singletons (same rule
    # and same cheap text-level predicate as dedup_minhash — filtering
    # on the shingle column would duplicate the shingle expression
    # into the Filter). Two-step shingling: tokenizer runs once per
    # row, not once per gram (see functions/shingles.add_shingles).
    return (
        add_shingle_hashes(
            ensure_parallelism(df).where(_has_tokens(text_col)),
            cfg.shingle_mode,
            cfg.shingle_size,
            text_col,
            out="_h",
        )
        .select(F.col(id_col), simhash64_udf(F.col("_h")).alias("fingerprint"))
    )


def fingerprints_with_exact_key(
    df: DataFrame, cfg: DedupConfig, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, _ek, fingerprint) over ALL docs from one scan of the text —
    the simhash signatures stage of the dedup graph. Zero-token docs
    keep a NULL fingerprint (they must not cluster by shared sentinel
    fingerprints) but still carry their exact-dup key and their row in
    the roster."""
    from fuzzy_matcher_spark.operators.dedup_minhash import (
        _has_tokens,
        ensure_parallelism,
    )

    keyed = exact_key(ensure_parallelism(df), text_col)
    hashed = add_shingle_hashes(
        keyed, cfg.shingle_mode, cfg.shingle_size, text_col, out="_h"
    )
    return hashed.select(
        F.col(id_col),
        "_ek",
        F.when(_has_tokens(text_col), simhash64_udf(F.col("_h"))).alias(
            "fingerprint"
        ),
    )


def slice_index(
    fp_df: DataFrame, cfg: DedupConfig, id_col: str = "doc_id"
) -> tuple[DataFrame, list[str]]:
    """(bit-slice index, bucket keys) of an (id, fingerprint) relation
    — one row per (doc, table), carrying the fingerprint."""
    idx = explode_slices(fp_df, id_col, "fingerprint", cfg.simhash_tables)
    return idx, ["table_id", "slice_key"]


def simhash_candidate_pairs(
    fp_df: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    with_fingerprints: bool = True,
    bucket_stats: Observation | None = None,
) -> DataFrame:
    """Bit-slice bucketed candidate pairs. By default each pair also
    carries both fingerprints (``fingerprint_a`` / ``fingerprint_b``):
    the fingerprint is ONE i64, so riding it through the bucket
    self-join's existing shuffles costs ~8 bytes/row while letting
    simhash_verify run join-free — vs the old shape's TWO candidate-
    sized shuffle joins back to the fingerprint relation. Set
    ``with_fingerprints=False`` for the bare (a, b) edge list;
    ``bucket_stats`` observes the slice histogram
    (capped_self_join_pairs)."""
    if cfg.simhash_hamming_max > cfg.simhash_tables - 1:
        raise ValueError(
            "pigeonhole guarantee requires hamming_max <= tables - 1 "
            f"(got r={cfg.simhash_hamming_max}, tables={cfg.simhash_tables})"
        )
    idx, keys = slice_index(fp_df, cfg, id_col)
    return capped_self_join_pairs(
        idx,
        keys,
        id_col,
        cfg.max_band_bucket,
        payload="fingerprint" if with_fingerprints else None,
        bucket_stats=bucket_stats,
    )


def simhash_verify(
    pairs: DataFrame, fp_df: DataFrame, cfg: DedupConfig, id_col: str = "doc_id"
) -> DataFrame:
    """Hamming verification. When ``pairs`` carries fingerprints (the
    simhash_candidate_pairs default) this is a pure projection+filter —
    Catalyst pushes the deterministic bit_count predicate below the
    candidate distinct()/union, so unverified duplicates die before the
    dedup shuffle. Pairs without fingerprints (e.g. a resumed stage
    table written by an older run) fall back to the two-join shape."""
    if "fingerprint_a" in pairs.columns:
        return (
            pairs.withColumn(
                "hamming", hamming_col("fingerprint_a", "fingerprint_b")
            )
            .where(F.col("hamming") <= cfg.simhash_hamming_max)
            .select("a", "b", "hamming")
        )
    fa = fp_df.select(F.col(id_col).alias("a"), F.col("fingerprint").alias("_fa"))
    fb = fp_df.select(F.col(id_col).alias("b"), F.col("fingerprint").alias("_fb"))
    return (
        pairs.join(fa, "a")
        .join(fb, "b")
        .withColumn("hamming", hamming_col("_fa", "_fb"))
        .where(F.col("hamming") <= cfg.simhash_hamming_max)
        .select("a", "b", "hamming")
    )


def simhash_dedup(
    df: DataFrame,
    cfg: DedupConfig | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """docs -> (id, cluster_id), the in-memory run of the dedup stage
    graph (plans/graph.py) in simhash mode: one scan of the text builds
    (id, _ek, fingerprint) for ALL docs (fingerprints_with_exact_key),
    persisted as the only cached stage; it feeds the bit-slice index,
    the exact star pairs and the final id roster, so neither re-scans
    the corpus."""
    from fuzzy_matcher_spark.plans.graph import cache_policy, dedup_graph

    release_caches()  # free the previous call's cached relations
    return dedup_graph(
        df, cfg or DedupConfig(), "simhash", id_col, text_col, cache_policy(df)
    )
