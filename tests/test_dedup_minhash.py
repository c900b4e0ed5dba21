"""MinHash-LSH dedup: recall vs a brute-force exact-Jaccard oracle.

The oracle replicates reference-matcher semantics set-orientedly at
test scale: all-pairs exact Jaccard over the SAME shingle config, union
with byte-identical pairs, clustered by union-find. Dup-pair recall of
the pipeline vs the oracle must be >= 0.99 (north rule), and planted
exact-copy families must always co-cluster.
"""

import itertools

import pytest
from pyspark.sql import functions as F

from fuzzy_matcher_spark.config import DedupConfig
from fuzzy_matcher_spark.operators.dedup_exact import exact_clusters, exact_pairs
from fuzzy_matcher_spark.operators.dedup_minhash import (
    add_signatures,
    candidate_pairs,
    minhash_dedup,
    verify_pairs,
)
from fuzzy_matcher_spark.sources.webpages import (
    extract_text,
    generate_webpage_rows,
    webpages_df,
)

CFG = DedupConfig(shingle_mode="word", shingle_size=4, jaccard_threshold=0.8)


def _shingle_set(text: str, n: int) -> frozenset:
    toks = [t for t in __import__("re").split(r"[^a-z0-9]+", text.lower()) if t]
    if len(toks) < n:
        return frozenset([" ".join(toks)])
    return frozenset(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))


class _UF:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


def _oracle(rows, cfg: DedupConfig):
    """Brute-force dup pairs + clusters at the same shingle config."""
    sh = {r[6]: _shingle_set(r[3], cfg.shingle_size) for r in rows}
    texts = {r[6]: r[3] for r in rows}
    ids = sorted(sh)
    pairs = set()
    for a, b in itertools.combinations(ids, 2):
        inter = len(sh[a] & sh[b])
        union = len(sh[a] | sh[b])
        j = inter / union if union else 1.0
        if j >= cfg.jaccard_threshold or texts[a] == texts[b]:
            pairs.add((a, b))
    uf = _UF()
    for x in ids:
        uf.find(x)
    for a, b in pairs:
        uf.union(a, b)
    clusters = {x: uf.find(x) for x in ids}
    return pairs, clusters


@pytest.fixture(scope="module")
def pages(spark):
    return webpages_df(spark, n_families=40, singletons=60, seed=7).cache()


def test_extract_text_invariant():
    rows = generate_webpage_rows(n_families=5, singletons=5, seed=3)
    for r in rows:
        assert extract_text(r[2]) == r[3]  # byte-identical per url


def test_exact_clusters(spark, pages):
    got = exact_clusters(pages, "text", "doc_id")
    texts = {r.doc_id: r.text for r in pages.select("doc_id", "text").collect()}
    cl = {r.doc_id: r.cluster_id for r in got.collect()}
    assert set(cl) == set(texts)
    # same text <=> same cluster
    for a in texts:
        for b in texts:
            if texts[a] == texts[b]:
                assert cl[a] == cl[b]
    # cluster id is the min member
    by_cluster = {}
    for d, c in cl.items():
        by_cluster.setdefault(c, []).append(d)
    for c, members in by_cluster.items():
        assert c == min(members)


def test_exact_pairs_star(spark):
    df = spark.createDataFrame(
        [(i, "same") for i in range(5)] + [(10, "other")],
        "doc_id long, text string",
    )
    got = sorted((r.a, r.b) for r in exact_pairs(df, "text", "doc_id").collect())
    assert got == [(0, 1), (0, 2), (0, 3), (0, 4)]


def test_dup_pair_recall_vs_oracle(spark, pages):
    rows = [tuple(r) for r in pages.collect()]
    oracle_pairs, oracle_clusters = _oracle(rows, CFG)

    sig = add_signatures(pages, CFG).cache()
    cand = candidate_pairs(sig, CFG)
    verified = verify_pairs(cand, sig, CFG)
    got_pairs = {(r.a, r.b) for r in verified.collect()}
    got_pairs |= {(r.a, r.b) for r in exact_pairs(pages, "text", "doc_id").collect()}

    missed = oracle_pairs - got_pairs
    recall = 1 - len(missed) / max(len(oracle_pairs), 1)
    assert len(oracle_pairs) > 30, "oracle should find planted dups"
    assert recall >= 0.99, f"recall {recall:.4f}, missed {sorted(missed)[:5]}"

    # precision guard: verified pairs must truly be above threshold
    sh = {r[6]: _shingle_set(r[3], CFG.shingle_size) for r in rows}
    for a, b in got_pairs:
        inter = len(sh[a] & sh[b])
        union = len(sh[a] | sh[b])
        assert inter / union >= CFG.jaccard_threshold - 1e-9 or rows[a][3] == rows[b][3]


def test_end_to_end_clusters(spark, pages):
    got = {r.doc_id: r.cluster_id for r in minhash_dedup(pages, CFG).collect()}
    rows = [tuple(r) for r in pages.collect()]
    _, oracle_clusters = _oracle(rows, CFG)
    assert set(got) == set(oracle_clusters)
    # cluster assignments must match the oracle partition exactly on
    # this corpus (dup families are far from the threshold boundary)
    import collections

    def partition(d):
        g = collections.defaultdict(frozenset)
        acc = collections.defaultdict(set)
        for k, v in d.items():
            acc[v].add(k)
        return {frozenset(v) for v in acc.values()}

    assert partition(got) == partition(oracle_clusters)


def test_empty_and_tiny_docs(spark):
    df = spark.createDataFrame(
        [(0, ""), (1, ""), (2, "one"), (3, "two words here"), (4, "one")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.cluster_id for r in minhash_dedup(df, CFG).collect()}
    assert got[0] == got[1]  # empty docs are identical
    assert got[2] == got[4]  # identical tiny docs cluster
    assert got[3] not in (got[0], got[2])


def test_jaccard_udf_kernel_matches_python_sets(spark):
    """The batch-lexsort Jaccard kernel must agree with python set
    arithmetic on adversarial rows: nulls, empties, disjoint, subset,
    singletons, and large random distinct sets (the producers
    guarantee duplicate-free arrays via array_distinct)."""
    import random

    from fuzzy_matcher_spark.operators.dedup_minhash import jaccard_udf

    rng = random.Random(7)
    cases = [
        ([], []),
        ([], [1, 2]),
        ([5], [5]),
        ([1, 2, 3], [4, 5, 6]),
        ([1, 2, 3, 4], [2, 3]),
        (None, [1]),
        ([1], None),
        (None, None),
        ([-(2**62), 0, 2**62], [0]),
    ]
    for _ in range(40):
        a = rng.sample(range(-1000, 1000), rng.randint(0, 60))
        b = rng.sample(range(-1000, 1000), rng.randint(0, 60))
        cases.append((a, b))

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(cases)],
        "i long, a array<long>, b array<long>",
    )
    got = {
        r.i: r.j
        for r in df.select("i", jaccard_udf("a", "b").alias("j")).collect()
    }
    for i, (a, b) in enumerate(cases):
        if a is None or b is None:
            want = 0.0
        else:
            sa, sb = set(a), set(b)
            want = len(sa & sb) / len(sa | sb) if (sa | sb) else 1.0
        assert abs(got[i] - want) < 1e-12, (i, a, b, got[i], want)
