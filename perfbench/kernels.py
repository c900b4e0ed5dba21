"""Kernel-only probes: the batch functions the Arrow hop runs, called
directly on the generated inputs, single-threaded, with no JVM.

They give ``arrow.overhead_ratio`` its base: the Python worker time a
Spark run spends on some rows, divided by the time these kernels need
for the same rows. Token hashes here are splitmix64 of the vocabulary
id rather than the JVM's xxhash64 of the word; the kernels' cost
depends on array lengths, which are the same.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd

from fuzzy_matcher_spark.config import DedupConfig
from fuzzy_matcher_spark.functions.minhash import (
    token_gram_minhash_udf,
    token_gram_sets_udf,
)
from fuzzy_matcher_spark.functions.similarity import trie_edits_udf
from fuzzy_matcher_spark.operators.dedup_minhash import jaccard_udf

BATCH = 2000  # spark.sql.execution.arrow.maxRecordsPerBatch in get_spark
MIN_PROBE_S = 0.15


def _splitmix64(x: np.ndarray) -> np.ndarray:
    z = x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
    with np.errstate(over="ignore"):
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return (z ^ (z >> np.uint64(31))).astype(np.int64)


def _rate(fn, units: int) -> float:
    """Units per second of ``fn``, repeated for at least MIN_PROBE_S;
    the median of three such timings."""
    rates = []
    for _ in range(3):
        n, t0 = 0, time.perf_counter()
        while True:
            fn()
            n += 1
            el = time.perf_counter() - t0
            if el >= MIN_PROBE_S:
                break
        rates.append(units * n / el)
    return float(np.median(rates))


def probe(
    tokens: list[np.ndarray], family: np.ndarray, names: tuple, cfg: DedupConfig
) -> dict:
    """Per-core rates of the fused MinHash kernel and the Jaccard batch
    function over one Arrow batch of the corpus and its planted pairs,
    and of the matcher's trie edit-distance DP over ``names`` (probe
    values, stored values)."""
    docs = pd.Series([_splitmix64(t) for t in tokens[:BATCH]])
    sets = token_gram_sets_udf(cfg.shingle_size).func
    fused = token_gram_minhash_udf(cfg.num_perm, cfg.seed, cfg.shingle_size).func
    jac = jaccard_udf.func
    trie = trie_edits_udf(False).func
    queries, stored = pd.Series(names[0]), pd.Series(names[1])

    gram_sets = list(sets(iter([docs])))[0]
    # planted pairs inside the batch (same family), the pairs that
    # verification actually scores
    fam = family[: len(docs)]
    order = np.argsort(fam, kind="stable")
    same = fam[order][1:] == fam[order][:-1]
    a_idx, b_idx = order[:-1][same], order[1:][same]
    if len(a_idx) == 0:
        a_idx, b_idx = np.arange(len(docs) - 1), np.arange(1, len(docs))
    a = pd.Series([gram_sets[i] for i in a_idx])
    b = pd.Series([gram_sets[i] for i in b_idx])

    def run(f, *cols):
        for _ in f(iter([cols if len(cols) > 1 else cols[0]])):
            pass

    return {
        "fused_docs_per_s": _rate(lambda: run(fused, docs), len(docs)),
        "jaccard_pairs_per_s": _rate(lambda: run(jac, a, b), len(a)),
        "trie_pairs_per_s": _rate(lambda: run(trie, queries, stored), len(queries)),
    }
