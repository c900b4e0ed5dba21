"""N-gram Jaccard dedup (mode 4): deterministic blocking, exact verify.

MinHash-LSH (dedup_minhash.py) is probabilistic in candidate
generation; this mode trades more candidates for a deterministic
guarantee based on modular fingerprint sampling: block on shingles
whose xxhash64 ≡ 0 (mod sample_mod). Two docs with Jaccard >= t share
at least one sampled shingle unless *none* of their common shingles
hits the residue class — for docs with >= ~3*sample_mod shingles the
miss probability is negligible, and for short docs sample_mod
auto-degrades to 1 (block on every shingle: exact recall).

Verification is the exact-Jaccard pandas UDF shared with the MinHash
path; clustering is the shared CC operator. Everything else is JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fuzzy_matcher_spark.config import DedupConfig
from fuzzy_matcher_spark.functions.shingles import add_shingle_hashes
from fuzzy_matcher_spark.operators.dedup_exact import exact_key
from fuzzy_matcher_spark.operators.dedup_minhash import jaccard_udf
from fuzzy_matcher_spark.operators.pairs import capped_self_join_pairs
from fuzzy_matcher_spark.plans.graph import at_scale, cluster


def ngram_candidates(
    df: DataFrame,
    cfg: DedupConfig,
    text_col: str = "text",
    id_col: str = "doc_id",
    sample_mod: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Returns (hashes_df, pairs). Short docs (< 3*sample_mod shingles)
    block on all their shingles; long docs on the sampled subset."""
    from fuzzy_matcher_spark.operators.dedup_minhash import ensure_parallelism

    # two-step shingling: tokenizer evaluated once per row, not once
    # per gram (functions/shingles.add_shingles)
    hashes = add_shingle_hashes(
        ensure_parallelism(df), cfg.shingle_mode, cfg.shingle_size, text_col
    ).select(F.col(id_col), "shingle_hashes")
    sampled = F.filter(
        F.col("shingle_hashes"), lambda h: F.pmod(h, F.lit(sample_mod)) == 0
    )
    keys = F.when(
        F.size("shingle_hashes") >= 3 * sample_mod, sampled
    ).otherwise(F.col("shingle_hashes"))
    idx = hashes.select(
        F.col(id_col), F.explode(keys).alias("block_key")
    )
    pairs = capped_self_join_pairs(idx, ["block_key"], id_col, cfg.max_band_bucket)
    return hashes, pairs


def ngram_verify(
    pairs: DataFrame, hashes: DataFrame, cfg: DedupConfig, id_col: str = "doc_id"
) -> DataFrame:
    # semi-join reduction: restrict the wide hash table to candidate
    # ids first so later joins touch candidate-sized wide rows only —
    # see dedup_minhash.verify_pairs (callers pass `hashes` persisted
    # + materialized for exact plan sizes)
    cand_ids = pairs.select(F.explode(F.array("a", "b")).alias(id_col)).distinct()
    hc = hashes.join(cand_ids, id_col, "left_semi")
    ha = hc.select(F.col(id_col).alias("a"), F.col("shingle_hashes").alias("_ha"))
    hb = hc.select(F.col(id_col).alias("b"), F.col("shingle_hashes").alias("_hb"))
    return (
        pairs.join(ha, "a")
        .join(hb, "b")
        .withColumn("jaccard", jaccard_udf("_ha", "_hb"))
        .where(F.col("jaccard") >= cfg.jaccard_threshold)
        .select("a", "b", "jaccard")
    )


def ngram_dedup(
    df: DataFrame,
    cfg: DedupConfig | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    sample_mod: int = 8,
) -> DataFrame:
    cfg = cfg or DedupConfig()
    hashes, pairs = ngram_candidates(df, cfg, text_col, id_col, sample_mod)
    hashes = hashes.persist()
    # exact stats for the verify joins (never broadcast the wide side);
    # conditional like the dedup graph's signatures — the barrier only
    # pays for itself when a mis-planned broadcast could be large
    if at_scale(df):
        hashes.count()
    verified = ngram_verify(pairs, hashes, cfg, id_col)
    return cluster(verified, exact_key(df, text_col), cfg, id_col)
