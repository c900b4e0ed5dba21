"""MinHash signatures + LSH band keys.

128-perm MinHash (Broder 1997) with multiply-shift universal hashing
(Dietzfelbinger et al. 1997): h_i(x) = (a_i * x + b_i) >> 32 in
wrapping uint64 arithmetic, a_i odd 64-bit, b_i 64-bit, drawn from a
seeded PRNG. Multiply-shift replaces the classic (a*x+b) mod p
(p = 4294967311) scheme: the u64 modulo is a hardware divide and
dominated the kernel — measured 7.3k -> 13.5k docs/s/core at 150
shingles/doc for identical recall behavior (both families are
2-universal approximations to min-wise independence; the estimate-vs-
exact-Jaccard property test and the planted-dup recall tests gate
this statistically).

The permutation-min is the single pandas-UDF hop in the dedup pipeline
(iterator form, Arrow-batched, numpy-vectorized per document). Band
hashing stays JVM-side: the signature array is sliced into
``bands`` x ``rows_per_band`` and each band is xxhash64-ed with its
band id — a pure Catalyst expression feeding ``posexplode``.

Anticipated by the reference's own roadmap (/root/reference/TODO.md:69-74
"minhash or n-gram based first-pass index"), never implemented there.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fuzzy_matcher_spark.config import DedupConfig

_MASK32 = np.uint64(0xFFFFFFFF)
_SHIFT32 = np.uint64(32)

# multiply-shift wraps mod 2^64 BY DESIGN; silence numpy's overflow
# warning for exactly that op (scoped via errstate in the kernels)
_WRAP = {"over": "ignore"}


# Version of the signature CODE FORMAT — the hash family and gram-id
# space, independent of DedupConfig values. v1 (rounds 1-3): mod-prime
# permutations over xxhash64'd gram strings. v2 (round 4+):
# multiply-shift family over a polynomial mix of per-token xxhash64.
# Signatures (and exact-Jaccard shingle-id sets) computed under
# different versions are INCOMPARABLE: band-joining them yields ~zero
# agreement and silently misses duplicates. Any component that
# persists signature state and later compares it against freshly
# computed signatures must stamp this (see signature_format_id) and
# refuse on mismatch — streaming/ingest.py and plans/pipeline.py do.
SIGNATURE_FORMAT_VERSION = 2


def signature_format_id(cfg: "DedupConfig") -> str:
    """Compact stamp identifying the signature space: code-format
    version + every config field that changes signature or shingle-id
    values. Two tables with equal stamps are band-comparable."""
    return (
        f"v{SIGNATURE_FORMAT_VERSION}:{cfg.shingle_mode}{cfg.shingle_size}"
        f":p{cfg.num_perm}:s{cfg.seed}:b{cfg.bands}x{cfg.rows_per_band}"
    )


def _perm_coeffs(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    # multiply-shift family: a odd in [1, 2^63), b in [0, 2^62) — the
    # top bit of each is never set (RandomState.randint caps the draw
    # at 2^62), a slight narrowing of the textbook scheme that recall
    # tests gate statistically; kept as-is because changing the draw
    # changes every persisted signature (SIGNATURE_FORMAT_VERSION)
    a = (rng.randint(0, 1 << 62, size=num_perm).astype(np.uint64) << np.uint64(1)) | np.uint64(1)
    b = rng.randint(0, 1 << 62, size=num_perm).astype(np.uint64)
    return a, b


def minhash_kernel(
    hashes: np.ndarray, a_col: np.ndarray, b_col: np.ndarray
) -> np.ndarray:
    """Signature of ONE document: min over shingles of the
    multiply-shift hash, per permutation. ``hashes`` is uint64,
    ``a_col``/``b_col`` are (num_perm, 1) views of _perm_coeffs.
    Shared by the pipeline UDFs and bench.py's kernel-scaling probe."""
    with np.errstate(**_WRAP):
        return (
            (a_col * hashes[None, :] + b_col).min(axis=1) >> _SHIFT32
        ).astype(np.int64)


def minhash_udf(num_perm: int, seed: int):
    """pandas UDF: array<long> shingle/gram hashes -> array<long>
    signature. Input may contain DUPLICATE gram ids (MinHash is
    multiset-invariant: min over duplicates equals min over the set),
    so the JVM side skips array_distinct before the python hop and the
    python side skips np.unique — set semantics are enforced only
    where sets are actually consumed (exact Jaccard).

    Per-document numpy (a 128 x k broadcast + row-min). A fully
    batch-vectorized variant (concat + minimum.reduceat over the whole
    Arrow chunk) was measured 26x SLOWER — transposed reduceat and
    minimum.at thrash caches; per-doc ops on ~150-element arrays are
    already numpy-efficient (~7.5k docs/s/core at 150 shingles).
    """
    a, b = _perm_coeffs(num_perm, seed)
    a_col = a[:, None]
    b_col = b[:, None]
    empty = np.full(num_perm, np.iinfo(np.int64).max, dtype=np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for hashes in it:
            out = []
            for h in hashes:
                if h is None or len(h) == 0:
                    out.append(empty)
                    continue
                x = np.asarray(h, dtype=np.int64).astype(np.uint64)
                out.append(minhash_kernel(x, a_col, b_col))
            yield pd.Series(out)

    return _udf


def signature_col(shingle_hashes: Column, cfg: DedupConfig) -> Column:
    return minhash_udf(cfg.num_perm, cfg.seed)(shingle_hashes)


# odd multiplier for the numpy gram mix (golden-ratio constant, same
# one splitmix64 uses); gram id = degree-(n-1) polynomial over n
# consecutive token hashes, vectorized as (n-1) multiply-adds over the
# whole token array — no per-gram allocation. A pure-Catalyst variant
# (xxhash64 over slices inside transform()) was measured FAR slower:
# higher-order-function lambdas evaluate interpreted, allocating a
# slice array per gram (~1ms/doc at 400 words vs ~0.2ms here).
_GRAM_MIX = np.uint64(0x9E3779B97F4A7C15)


def _mix_grams(t: np.ndarray, n: int) -> np.ndarray:
    """Gram multiset (duplicates kept) of one doc's token hashes."""
    m = len(t)
    with np.errstate(**_WRAP):
        if m >= n:
            h = t[: m - n + 1].copy()
            for k in range(1, n):
                h = h * _GRAM_MIX + t[k : m - n + 1 + k]
        else:
            h = t[:1].copy()
            for k in range(1, m):
                h = h * _GRAM_MIX + t[k : k + 1]
    return h


def token_gram_sig_udf(num_perm: int, seed: int, n: int):
    """pandas UDF: per-token xxhash64 array -> 128-long signature ONLY.

    The dedup pipeline's hot hop: gram mix + MinHash in one pass, no
    shingle-set output (output is 1 KB/doc instead of ~4 KB — the wide
    distinct-gram sets are recomputed exactly once for verification by
    token_gram_sets_udf). Duplicates skip np.unique: MinHash is
    multiset-invariant."""
    a, b = _perm_coeffs(num_perm, seed)
    a_col, b_col = a[:, None], b[:, None]
    empty = np.full(num_perm, np.iinfo(np.int64).max, dtype=np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for tok_hashes in it:
            out = []
            for th in tok_hashes:
                if th is None or len(th) == 0:
                    out.append(empty)
                    continue
                t = np.asarray(th, dtype=np.int64).astype(np.uint64)
                out.append(minhash_kernel(_mix_grams(t, n), a_col, b_col))
            yield pd.Series(out)

    return _udf


def token_gram_sets_udf(n: int):
    """pandas UDF: per-token xxhash64 array -> DISTINCT gram ids
    (sorted). The set-consumer counterpart of token_gram_sig_udf, used
    once per dedup run to feed exact-Jaccard verification."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        empty = np.empty(0, dtype=np.int64)
        for tok_hashes in it:
            out = []
            for th in tok_hashes:
                if th is None or len(th) == 0:
                    out.append(empty)
                    continue
                t = np.asarray(th, dtype=np.int64).astype(np.uint64)
                out.append(np.unique(_mix_grams(t, n)).astype(np.int64))
            yield pd.Series(out)

    return _udf


def token_gram_minhash_udf(num_perm: int, seed: int, n: int):
    """pandas UDF: per-token xxhash64 array -> struct(shingle_hashes,
    signature) — both halves in one hop, for callers that want the
    add_signatures contract in a single python pass."""
    a, b = _perm_coeffs(num_perm, seed)
    a_col, b_col = a[:, None], b[:, None]
    empty_sig = np.full(num_perm, np.iinfo(np.int64).max, dtype=np.int64)
    empty_sh = np.empty(0, dtype=np.int64)

    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("shingle_hashes", T.ArrayType(T.LongType())),
                T.StructField("signature", T.ArrayType(T.LongType())),
            ]
        )
    )
    def _udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for tok_hashes in it:
            sh_out, sig_out = [], []
            for th in tok_hashes:
                if th is None or len(th) == 0:
                    sh_out.append(empty_sh)
                    sig_out.append(empty_sig)
                    continue
                t = np.asarray(th, dtype=np.int64).astype(np.uint64)
                g = np.unique(_mix_grams(t, n))
                sh_out.append(g.astype(np.int64))
                sig_out.append(minhash_kernel(g, a_col, b_col))
            yield pd.DataFrame({"shingle_hashes": sh_out, "signature": sig_out})

    return _udf


def band_structs_col(sig: Column | str, cfg: DedupConfig) -> Column:
    """array<struct<band_id int, band_hash long>> — JVM expression.

    band_hash = xxhash64(band_id, row_0, ..., row_{r-1}); including the
    band id in the hash means a single 64-bit key identifies the bucket
    (no cross-band collisions beyond hash collisions).
    """
    s = F.col(sig) if isinstance(sig, str) else sig
    r = cfg.rows_per_band
    return F.transform(
        F.sequence(F.lit(0), F.lit(cfg.bands - 1)),
        lambda band: F.struct(
            band.cast("int").alias("band_id"),
            F.xxhash64(band, F.slice(s, band * r + 1, r)).alias("band_hash"),
        ),
    )


def explode_bands(sig_df: DataFrame, id_col: str, cfg: DedupConfig) -> DataFrame:
    """(id, signature) -> (id, band_id, band_hash), one row per band."""
    return sig_df.select(
        F.col(id_col),
        F.explode(band_structs_col("signature", cfg)).alias("b"),
    ).select(id_col, F.col("b.band_id"), F.col("b.band_hash"))


def sig_agreement_col(sig_a: Column | str, sig_b: Column | str, num_perm: int) -> Column:
    """Estimated Jaccard = fraction of agreeing signature components —
    pure JVM (zip_with + aggregate), no Python."""
    a = F.col(sig_a) if isinstance(sig_a, str) else sig_a
    b = F.col(sig_b) if isinstance(sig_b, str) else sig_b
    agree = F.zip_with(a, b, lambda x, y: F.when(x == y, 1).otherwise(0))
    total = F.aggregate(agree, F.lit(0), lambda acc, x: acc + x)
    return total / F.lit(float(num_perm))
