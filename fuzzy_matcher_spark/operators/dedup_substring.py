"""Substring-containment dedup (north-rule mode 3).

Goal: pairs of documents sharing a common substring of length >=
``min_substring`` (boilerplate reuse, quote containment, prefix
truncation), clustered like the other dedup modes.

Spark-first design. A monolithic generalized suffix array over 100 TB
is not shuffle-friendly; the published equivalent with a per-pair
guarantee is *winnowing* (Schleimer, Wilkerson, Aiken, SIGMOD 2003):

1. anchors — per doc, hash all char n-grams (rolling polynomial,
   numpy) and keep the minimum hash of every sliding window of w
   consecutive n-grams. Guarantee: any common substring of length
   >= n + w - 1 contributes at least one identical selected
   fingerprint to both documents. One pandas-UDF hop.
2. candidates — docs sharing an anchor fingerprint: capped self-join
   on the exploded anchor index (same skew machinery as MinHash bands).
3. verification — exact longest-common-substring length via binary
   search over rolling-hash sets (O((m+n) log m), numpy); pairs with
   lcs_len >= min_substring survive.
4. clustering — connected components, as in the other modes.

The SURVEY sketched a per-partition suffix array with boundary
overlap (SURVEY.md §2.4); winnowing provides the same detection
guarantee without cross-partition seams, so it is the primary
implementation.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fuzzy_matcher_spark.config import DedupConfig
from fuzzy_matcher_spark.operators.dedup_exact import exact_key
from fuzzy_matcher_spark.operators.pairs import capped_self_join_pairs
from fuzzy_matcher_spark.plans.graph import cluster

_B = np.uint64(1000003)  # polynomial base; arithmetic mod 2^64


def _rolling_hashes(data: np.ndarray, n: int) -> np.ndarray:
    """Hashes of all length-n windows of a uint8 array (len >= n).
    Arithmetic is intentionally mod 2^64 (uint64 wraparound)."""
    with np.errstate(over="ignore"):
        powers = np.empty(n, dtype=np.uint64)
        powers[0] = np.uint64(1)
        for i in range(1, n):
            powers[i] = powers[i - 1] * _B
        x = data.astype(np.uint64)
        # prefix[i] = hash of data[:i]
        prefix = np.zeros(len(x) + 1, dtype=np.uint64)
        for i in range(len(x)):
            prefix[i + 1] = prefix[i] * _B + x[i]
        top = powers[n - 1] * _B  # B^n
        return prefix[n:] - prefix[:-n] * top


def _winnow(hashes: np.ndarray, w: int) -> np.ndarray:
    if len(hashes) <= w:
        return np.unique(hashes.min(keepdims=True))
    windows = np.lib.stride_tricks.sliding_window_view(hashes, w)
    return np.unique(windows.min(axis=1))


def anchors_udf(ngram: int, window: int):
    """pandas UDF: text -> array<long> winnowed anchor fingerprints."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for texts in it:
            out = []
            for t in texts:
                b = np.frombuffer((t or "").encode("utf-8"), dtype=np.uint8)
                if len(b) < ngram:
                    out.append(np.array([], dtype=np.int64))
                    continue
                h = _rolling_hashes(b, ngram)
                out.append(_winnow(h, window).astype(np.int64))
            yield pd.Series(out)

    return _udf


def lcs_len_udf(ngram: int):
    """pandas UDF: (text_a, text_b) -> longest common substring length,
    via binary search over rolling-hash sets (exact up to 2^-64 hash
    collisions)."""

    @F.pandas_udf(T.IntegerType())
    def _udf(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        def lcs(a: str, b: str) -> int:
            xa = np.frombuffer(a.encode("utf-8"), dtype=np.uint8)
            xb = np.frombuffer(b.encode("utf-8"), dtype=np.uint8)
            lo, hi = 0, min(len(xa), len(xb))

            def common(l: int) -> bool:
                if l == 0:
                    return True
                ha = np.unique(_rolling_hashes(xa, l))
                hb = np.unique(_rolling_hashes(xb, l))
                return len(np.intersect1d(ha, hb, assume_unique=True)) > 0

            while lo < hi:
                mid = (lo + hi + 1) // 2
                if common(mid):
                    lo = mid
                else:
                    hi = mid - 1
            return lo

        for a, b in it:
            yield pd.Series(
                [lcs(x or "", y or "") for x, y in zip(a, b)], dtype="int32"
            )

    # deterministic kernel; flag blocks Filter/Project UDF duplication
    return _udf.asNondeterministic()


def substring_candidates(
    df: DataFrame,
    cfg: DedupConfig,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 20,
) -> DataFrame:
    from fuzzy_matcher_spark.operators.dedup_minhash import ensure_parallelism

    window = max(cfg.min_substring - ngram + 1, 1)
    anchored = ensure_parallelism(df).select(
        F.col(id_col),
        F.explode(anchors_udf(ngram, window)(F.col(text_col))).alias("anchor"),
    )
    return capped_self_join_pairs(anchored, ["anchor"], id_col, cfg.max_band_bucket)


def substring_verify(
    pairs: DataFrame,
    df: DataFrame,
    cfg: DedupConfig,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 20,
) -> DataFrame:
    ta = df.select(F.col(id_col).alias("a"), F.col(text_col).alias("_ta"))
    tb = df.select(F.col(id_col).alias("b"), F.col(text_col).alias("_tb"))
    return (
        pairs.join(ta, "a")
        .join(tb, "b")
        .withColumn("lcs_len", lcs_len_udf(ngram)("_ta", "_tb"))
        .where(F.col("lcs_len") >= cfg.min_substring)
        .select("a", "b", "lcs_len")
    )


def substring_dedup(
    df: DataFrame,
    cfg: DedupConfig | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    cfg = cfg or DedupConfig()
    pairs = substring_candidates(df, cfg, text_col, id_col)
    verified = substring_verify(pairs, df, cfg, text_col, id_col)
    return cluster(verified, exact_key(df, text_col), cfg, id_col)
