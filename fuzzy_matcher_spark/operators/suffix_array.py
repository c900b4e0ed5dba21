"""Generalized suffix-array substring detection (SURVEY.md §2.4 row 7).

A distributed suffix array: documents are co-located into buckets
(winnowing anchors — docs sharing a >= min_substring run share an
anchor, operators/dedup_substring.py), then each bucket builds one
generalized suffix array over its concatenated texts inside
``applyInPandas`` and emits doc pairs whose longest common run is
>= min_substring.

Kernel (all numpy, no per-row Python):
- codes: utf-8 bytes of each doc + a unique per-doc separator code
  (256 + doc index) so no window of real text spans two documents.
- suffix array by prefix doubling (log n rounds of np.lexsort).
- "LCP >= L" between SA-adjacent suffixes via fixed-length-L rolling-
  hash window equality (we only need the threshold, not exact LCP).
- maximal runs of adjacent suffixes with LCP >= L: every pair of
  distinct docs in a run shares a substring of length >= L (pairwise
  LCP = min over the run). Pairs are deduped Spark-side.

This is the exact-guarantee engine; dedup_substring.py's pairwise
binary-search LCS is the per-pair alternative. Both verify the same
predicate; this one is preferred when buckets are large (one O(n log n)
build instead of O(k^2) pairwise scans).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fuzzy_matcher_spark.config import DedupConfig
from fuzzy_matcher_spark.operators.dedup_substring import anchors_udf

_B = np.uint64(1000003)


def build_suffix_array(codes: np.ndarray) -> np.ndarray:
    """Suffix array of an int64 code sequence, prefix doubling."""
    n = len(codes)
    rank = np.unique(codes, return_inverse=True)[1].astype(np.int64)
    k = 1
    while True:
        second = np.full(n, -1, dtype=np.int64)
        second[: n - k] = rank[k:]
        sa = np.lexsort((second, rank))
        pair = np.stack([rank[sa], second[sa]], axis=1)
        changed = np.any(pair[1:] != pair[:-1], axis=1)
        new_rank = np.empty(n, dtype=np.int64)
        new_rank[sa] = np.concatenate([[0], np.cumsum(changed)])
        rank = new_rank
        if rank.max() == n - 1:
            return sa
        k *= 2
        if k >= n:
            return np.lexsort((np.arange(n), rank))


def _window_hashes(codes: np.ndarray, L: int) -> np.ndarray:
    """Rolling hash of every length-L window (mod 2^64)."""
    with np.errstate(over="ignore"):
        x = codes.astype(np.uint64)
        p = np.uint64(1)
        for _ in range(L):
            p *= _B
        prefix = np.zeros(len(x) + 1, dtype=np.uint64)
        for i in range(len(x)):
            prefix[i + 1] = prefix[i] * _B + x[i]
        return prefix[L:] - prefix[:-L] * p


def shared_substring_pairs_kernel(
    ids: list[int], texts: list[str], L: int
) -> set[tuple[int, int]]:
    """All (a, b), a < b, sharing a common substring of length >= L."""
    if len(ids) < 2:
        return set()
    parts, owners, offsets = [], [], [0]
    for i, t in enumerate(texts):
        b = np.frombuffer((t or "").encode("utf-8"), dtype=np.uint8).astype(np.int64)
        parts.append(b)
        parts.append(np.array([256 + i], dtype=np.int64))  # unique separator
        offsets.append(offsets[-1] + len(b) + 1)
    codes = np.concatenate(parts)
    n = len(codes)
    if n < L + 1:
        return set()
    owner = np.empty(n, dtype=np.int64)
    for i in range(len(ids)):
        owner[offsets[i] : offsets[i + 1]] = i

    sa = build_suffix_array(codes)
    wh = _window_hashes(codes, L)  # defined for positions 0..n-L
    valid = sa <= n - L
    # adjacent-in-SA suffixes with equal L-windows (separators are
    # unique codes, so equal windows never span doc boundaries)
    adj = (
        valid[:-1]
        & valid[1:]
        & (wh[np.clip(sa[:-1], 0, n - L)] == wh[np.clip(sa[1:], 0, n - L)])
    )
    pairs: set[tuple[int, int]] = set()
    # maximal runs of True in adj -> suffixes sa[s..e] mutually share >= L
    i = 0
    m = len(adj)
    while i < m:
        if not adj[i]:
            i += 1
            continue
        j = i
        while j < m and adj[j]:
            j += 1
        docs = np.unique(owner[sa[i : j + 1]])
        for x in range(len(docs)):
            for y in range(x + 1, len(docs)):
                pairs.add((int(ids[docs[x]]), int(ids[docs[y]])))
        i = j
    return pairs


def suffix_substring_pairs(
    df: DataFrame,
    cfg: DedupConfig | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 20,
    max_anchors_per_doc: int = 256,
) -> DataFrame:
    """(a, b) doc pairs sharing a substring >= cfg.min_substring, via
    anchor-bucketed generalized suffix arrays.

    Shuffle-amplification bound: the full document text is replicated
    into one applyInPandas bucket PER ANCHOR, so an uncapped 10 KB doc
    with winnow window ~41 would amplify the corpus ~100x into the
    shuffle. ``max_anchors_per_doc`` caps replication: docs keep their
    ``k`` SMALLEST anchor fingerprints (array_sort + slice — the
    winnowing-consistent choice: a substring shared by two docs yields
    the SAME fingerprint in both, and min-rank selection keeps
    correlated subsets, exactly the MinHash argument), so shuffle
    volume is <= k * corpus bytes by construction. Detection of a
    shared run then requires its anchor to survive the cap in BOTH
    docs — exact for docs under the cap (the sf0.01 oracle corpus is;
    the 60-gram equi-join SQL stays a full oracle), monotonically
    recall-degrading above it. The winnowing twin
    (dedup_substring.py), which ships texts only for verified
    candidate pairs, remains the preferred engine when buckets are
    small."""
    cfg = cfg or DedupConfig()
    L = cfg.min_substring
    window = max(L - ngram + 1, 1)
    anchors = F.slice(
        F.array_sort(anchors_udf(ngram, window)(F.col(text_col))),
        1,
        max_anchors_per_doc,
    )
    anchored = df.select(
        F.col(id_col),
        F.col(text_col),
        F.explode(anchors).alias("anchor"),
    )

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        got = shared_substring_pairs_kernel(
            pdf[id_col].tolist(), pdf[text_col].tolist(), L
        )
        if not got:
            return pd.DataFrame({"a": pd.Series([], dtype="int64"),
                                 "b": pd.Series([], dtype="int64")})
        a, b = zip(*sorted(got))
        return pd.DataFrame({"a": a, "b": b})

    return (
        anchored.groupBy("anchor")
        .applyInPandas(per_bucket, schema="a long, b long")
        .distinct()
    )
