"""Cross-corpus dedup: planted cross pairs, keep-side semantics,
id-space collision safety, cap observability, and bounded A-side
fan-out."""

import pytest
from pyspark.sql import functions as F

from fuzzy_matcher_spark.config import DedupConfig
from fuzzy_matcher_spark.operators.dedup_cross import (
    capped_cross_join_pairs,
    cross_bucket_stats,
    cross_dedup_keep,
    cross_dup_pairs,
)

CFG = DedupConfig(shingle_mode="word", shingle_size=3, jaccard_threshold=0.8)

# long enough that ONE changed word keeps shingle Jaccard >= 0.8:
# 48 words -> 46 distinct 3-grams; a mid-document edit breaks 3 grams
# -> J = 43/49 ~ 0.878
BASE = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi "
    "psi omega one two three four five six seven eight nine ten "
    "eleven twelve thirteen fourteen fifteen sixteen seventeen "
    "eighteen nineteen twenty apple banana cherry"
)


def _corpora(spark):
    index_rows = [
        (0, BASE),
        (1, "completely different indexed content about rivers and mountains here"),
        (2, "another unrelated indexed page about cooking pasta and sauces today"),
    ]
    probe_rows = [
        # near-copy of index doc 0 (one word changed) -> cross dup
        (0, BASE.replace("sigma", "sigmaX")),  # id COLLIDES with index id 0
        (10, "totally novel probe content never seen in the index corpus before now"),
        (11, ""),  # zero tokens -> excluded from signatures, always kept
    ]
    idx = spark.createDataFrame(index_rows, "doc_id long, text string")
    pr = spark.createDataFrame(probe_rows, "doc_id long, text string")
    return idx, pr


def test_cross_dup_pairs_planted(spark):
    idx, pr = _corpora(spark)
    got = cross_dup_pairs(idx, pr, CFG).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.index_id, r.probe_id) == (0, 0)  # colliding ids decoded right
    assert r.jaccard >= 0.8


def test_cross_dedup_keep(spark):
    idx, pr = _corpora(spark)
    kept = sorted(r.doc_id for r in cross_dedup_keep(idx, pr, CFG).collect())
    assert kept == [10, 11]  # dup dropped; novel + zero-token kept


def test_cross_dup_no_self_side_pairs(spark):
    """Near-dups WITHIN one corpus must not be reported — only
    cross-side pairs."""
    rows = [
        (0, BASE),
        (1, BASE.replace("tau", "tauX")),  # near-dup of 0, same side
    ]
    idx, _ = _corpora(spark)
    pr = idx.sparkSession.createDataFrame(rows, "doc_id long, text string")
    # probe corpus has an internal near-dup family but shares nothing
    # with the index beyond doc 0's text
    got = cross_dup_pairs(
        idx.where(F.col("doc_id") >= 1), pr, CFG
    ).collect()
    assert got == []


def test_capped_cross_join_bounded_fanout(spark):
    """Every B row pairs with at most cap A ids — the cap slices the
    SMALLEST A ids, and the oversized bucket is observable."""
    a = spark.createDataFrame(
        [(1, i) for i in range(10)], "band_hash int, doc_id long"
    )
    b = spark.createDataFrame([(1, 100)], "band_hash int, doc_id long")
    pairs = capped_cross_join_pairs(
        a, b, ["band_hash"], "doc_id", cap=4
    ).collect()
    assert sorted(p.a for p in pairs) == [0, 1, 2, 3]
    assert all(p.b == 100 for p in pairs)
    stats = cross_bucket_stats(a, ["band_hash"], cap=4).collect()
    assert len(stats) == 1
    assert stats[0].bucket_size == 10 and stats[0].n_dropped == 6


@pytest.mark.parametrize("at_scale", [True, False])
def test_cross_dup_pairs_int64_extreme_ids(spark, tmp_path, at_scale):
    """Ids at the int64 extremes, shared by both corpora, come back
    exactly on both shapes: the single-pass one (RDD-backed inputs have
    unknown size, so count as at scale) and the lazy one (small parquet
    inputs)."""
    from fuzzy_matcher_spark.operators.dedup_minhash import (
        _EAGER_STATS_MIN_BYTES,
        plan_size_bytes,
    )

    ids = [2**62 + 5, 2**63 - 1, -(2**63)]
    # three unrelated texts (disjoint vocabularies), one per id
    texts = [" ".join(f"w{k}x{j}" for j in range(40)) + " doc" for k in range(3)]
    rows = list(zip(ids, texts))
    idx = spark.createDataFrame(rows, "doc_id long, text string")
    pr = spark.createDataFrame(
        [(i, t.replace("doc", "probe")) for i, t in rows], "doc_id long, text string"
    )
    if not at_scale:
        idx.write.parquet(str(tmp_path / "idx"))
        pr.write.parquet(str(tmp_path / "pr"))
        idx = spark.read.parquet(str(tmp_path / "idx"))
        pr = spark.read.parquet(str(tmp_path / "pr"))
    size = plan_size_bytes(idx) + plan_size_bytes(pr)
    assert (size >= _EAGER_STATS_MIN_BYTES) == at_scale
    got = cross_dup_pairs(idx, pr, CFG).collect()
    assert sorted((r.index_id, r.probe_id) for r in got) == sorted(
        (i, i) for i in ids
    )
    assert all(r.jaccard >= 0.8 for r in got)
