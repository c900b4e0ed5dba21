"""Output checks for the crawl workloads.

A dedup result is a (doc_id, cluster_id) row per input document. It
passes when every input id appears exactly once, recall is at least
``MIN_RECALL`` for every kind of planted family, and no cluster holds
documents of two planted families.

Recall weights every family equally: a family's recall is the share of
its member pairs that share a cluster, and a kind's recall is the mean
over its families. Counting pairs instead would let the two 150-page
template families (over 20,000 pairs) hide the loss of most of the
two-member exact, truncation and edit families.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

MIN_RECALL = 0.99


@dataclass
class ClusterCheck:
    recall: float  # lowest recall over the family kinds
    recall_by_kind: dict[str, float]
    planted_pairs: int
    cross_family_clusters: int
    problems: list[str]

    @property
    def ok(self) -> bool:
        return not self.problems


def _pairs(counts: np.ndarray) -> np.ndarray:
    c = counts.astype(np.int64)
    return c * (c - 1) // 2


def check_clusters(
    doc_ids: np.ndarray,
    cluster_ids: np.ndarray,
    truth_ids: np.ndarray,
    truth_family: np.ndarray,
    family_kind: list[str],
) -> ClusterCheck:
    """Compare a clustering against the planted families.

    ``truth_ids``/``truth_family`` give the family of every input id,
    ``family_kind`` the kind of every family id; ``doc_ids``/
    ``cluster_ids`` are the program's output rows."""
    problems: list[str] = []
    order = np.argsort(truth_ids)
    sorted_ids = truth_ids[order]
    pos = np.searchsorted(sorted_ids, doc_ids)
    pos[pos == len(sorted_ids)] = 0
    known = sorted_ids[pos] == doc_ids
    if not known.all():
        problems.append(f"{int((~known).sum())} output ids are not input ids")
    if len(np.unique(doc_ids)) != len(doc_ids):
        problems.append("an input id appears more than once in the output")
    if len(doc_ids) != len(truth_ids):
        problems.append(f"{len(doc_ids)} output rows for {len(truth_ids)} inputs")

    fam = truth_family[order][pos[known]]
    clus = cluster_ids[known]
    families, sizes = np.unique(truth_family, return_counts=True)
    planted = _pairs(sizes)
    # pairs of one family inside one cluster = recovered planted pairs
    fam_clus = np.unique(np.stack([fam, clus]), axis=1, return_counts=True)
    recovered = np.zeros(len(families), dtype=np.int64)
    np.add.at(recovered, np.searchsorted(families, fam_clus[0][0]), _pairs(fam_clus[1]))
    dup = planted > 0
    per_family = recovered[dup] / planted[dup]
    kinds = np.array([family_kind[f] for f in families[dup]])
    by_kind = {str(k): float(per_family[kinds == k].mean()) for k in np.unique(kinds)}
    recall = min(by_kind.values(), default=1.0)
    for k, r in sorted(by_kind.items()):
        if r < MIN_RECALL:
            problems.append(f"{k} recall {r:.4f} < {MIN_RECALL}")
    # a cluster mapped to more than one family merges two families
    families_per_cluster = np.unique(fam_clus[0][1], return_counts=True)[1]
    cross = int((families_per_cluster > 1).sum())
    if cross:
        problems.append(f"{cross} clusters span two planted families")
    return ClusterCheck(recall, by_kind, int(planted.sum()), cross, problems)


def components(ids: np.ndarray, pairs: np.ndarray) -> np.ndarray:
    """Cluster id (smallest member id) per entry of ``ids``, from
    undirected edges ``pairs`` (n x 2) by union-find."""
    parent = {int(i): int(i) for i in ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs.tolist():
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return np.fromiter((find(int(i)) for i in ids), dtype=np.int64, count=len(ids))
