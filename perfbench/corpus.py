"""Seeded web-page corpus with planted near-duplicate families.

The benchmark's own generator: it shares no code with the program's
``sources/synth.py``, so a change to the program cannot change the
benchmark's inputs. Everything is a pure function of the seed.

Each document belongs to exactly one *family*. The families are:

- ``single``: an independent Zipfian page with no duplicate.
- ``exact``: a page plus byte-identical copies (mirrors under other urls).
- ``trunc``: a page plus a copy cut to its first ~92% of words.
- ``edit``: a page plus a copy with a few isolated words substituted.
- ``template``: boilerplate pages rendered from one shared template with
  a short per-page slot filled in; each template family is larger than
  the engine's band-bucket cap, so the capped (star-pair) path runs.

Every pair of members of one family is a planted duplicate pair, with
word-5-shingle Jaccard >= ~0.85 by construction; pages of different
families share almost no shingles. The family id of each row is
returned beside the table and never written into the program's input.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

VOCAB = 50_000
ZIPF_S = 1.1
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))

# share of base pages that get duplicates, by kind; the rest are singles
DUP_MIX = {"exact": 0.05, "trunc": 0.05, "edit": 0.05}
TEMPLATE_FAMILIES = 2
TEMPLATE_SIZE = 150  # > max_band_bucket (64): exercises the capped path
TEMPLATE_SLOT = 3  # contiguous words that differ per templated page
TRUNC_KEEP = 0.92
EDIT_WORDS = 2


@dataclass
class Corpus:
    """The program's input table and the benchmark's ground truth."""

    table: pd.DataFrame  # url, text — exactly what the program sees
    family: np.ndarray  # int64 family id per row (ground truth)
    kind: list[str]  # family kind per family id
    tokens: list[np.ndarray]  # vocabulary ids per row, for kernel probes

    def __len__(self) -> int:
        return len(self.table)


def _vocabulary(rng: np.random.Generator, n: int) -> np.ndarray:
    """n distinct lowercase pseudo-words of 2-10 letters."""
    words: dict[str, None] = {}
    while len(words) < n:
        lens = rng.integers(2, 11, size=n)
        letters = LETTERS[rng.integers(0, 26, size=int(lens.sum()))]
        cuts = np.cumsum(lens)[:-1]
        for w in np.split(letters, cuts):
            words.setdefault("".join(w), None)
            if len(words) == n:
                break
    return np.array(list(words), dtype=object)


def _zipf_sampler(rng: np.random.Generator, n_vocab: int):
    cdf = np.cumsum(1.0 / np.arange(1, n_vocab + 1) ** ZIPF_S)
    cdf /= cdf[-1]
    # a random rank->word map, so frequent words are not short words
    rank_to_id = rng.permutation(n_vocab)

    def draw(k: int) -> np.ndarray:
        return rank_to_id[np.searchsorted(cdf, rng.random(k), side="right")]

    return draw


def generate(seed: int, n_docs: int, words_per_doc: int = 300) -> Corpus:
    """Build a corpus of exactly ``n_docs`` rows, shuffled."""
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, VOCAB)
    draw = _zipf_sampler(rng, VOCAB)

    docs: list[np.ndarray] = []
    family: list[int] = []
    kinds: list[str] = []

    def add(tokens: np.ndarray, fam: int) -> None:
        docs.append(tokens)
        family.append(fam)

    for _ in range(TEMPLATE_FAMILIES):
        fam = len(kinds)
        kinds.append("template")
        template = draw(words_per_doc)
        slot = int(rng.integers(0, words_per_doc - TEMPLATE_SLOT))
        for _ in range(TEMPLATE_SIZE):
            page = template.copy()
            page[slot : slot + TEMPLATE_SLOT] = draw(TEMPLATE_SLOT)
            add(page, fam)

    while len(docs) < n_docs:
        fam = len(kinds)
        base = draw(words_per_doc)
        r = rng.random()
        kind = "single"
        edge = 0.0
        for k, share in DUP_MIX.items():
            edge += share
            if r < edge:
                kind = k
                break
        kinds.append(kind)
        add(base, fam)
        if kind == "single" or len(docs) == n_docs:
            continue
        if kind == "exact":
            copy = base.copy()
        elif kind == "trunc":
            copy = base[: int(words_per_doc * TRUNC_KEEP)].copy()
        else:
            copy = base.copy()
            # isolated positions >= 10 apart: each edit changes at most
            # 5 shingles, so Jaccard stays well above the threshold
            pos = rng.choice(words_per_doc // 10, EDIT_WORDS, replace=False) * 10
            copy[pos] = (copy[pos] + 1 + rng.integers(0, VOCAB - 1, EDIT_WORDS)) % VOCAB
        add(copy, fam)

    order = rng.permutation(n_docs)
    hosts = [f"site{h}.example" for h in range(97)]
    host_of = rng.integers(0, len(hosts), size=n_docs)
    urls = [
        f"https://{hosts[host_of[i]]}/p/{seed}/{i:07d}.html" for i in range(n_docs)
    ]
    texts = [" ".join(vocab[docs[j]]) for j in order]
    table = pd.DataFrame({"url": urls, "text": texts})
    return Corpus(
        table=table,
        family=np.asarray(family, dtype=np.int64)[order],
        kind=kinds,
        tokens=[docs[j] for j in order],
    )


def name_pairs(seed: int, n: int, max_edits: int = 2) -> tuple[list[str], list[str]]:
    """(probe, stored) value pairs for the matcher's edit-distance DP:
    a stored name of 3-12 letters and a probe made from it by 0 to
    ``max_edits`` substitutions, deletions or insertions (typos)."""
    rng = np.random.default_rng([seed, 1])
    probes, stored = [], []
    for _ in range(n):
        name = list(LETTERS[rng.integers(0, 26, size=int(rng.integers(3, 13)))])
        stored.append("".join(name))
        for _ in range(int(rng.integers(0, max_edits + 1))):
            op, pos = rng.integers(0, 3), int(rng.integers(0, len(name)))
            letter = str(LETTERS[rng.integers(0, 26)])
            if op == 0:
                name[pos] = letter
            elif op == 1 and len(name) > 1:
                del name[pos]
            else:
                name.insert(pos, letter)
        probes.append("".join(name))
    return probes, stored


# --- Spark-compatible xxhash64 -------------------------------------------
# The spark-submit job derives doc ids as xxhash64(url) (seed 42, UTF-8
# bytes, signed result). The benchmark recomputes them here, so its
# ground truth can be keyed by the ids the job writes.

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def _merge(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * _P1 + _P4) & _M


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as a signed 64-bit int (Spark's xxhash64)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = _merge(h, v)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >= 1 << 63 else h


def url_ids(urls) -> np.ndarray:
    """The doc ids the program derives from ``url`` (xxhash64, seed 42)."""
    return np.fromiter(
        (xxhash64(u.encode("utf-8")) for u in urls), dtype=np.int64, count=len(urls)
    )
