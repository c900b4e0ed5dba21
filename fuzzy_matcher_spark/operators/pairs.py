"""Shared candidate-pair generation: capped self-equi-join on bucket keys.

The skew-control pattern used by every blocking scheme (MinHash bands,
SimHash slices, prefix keys): one window over the bucket keys counts
members (reusing the same shuffle the join needs), small buckets emit
all pairs via self-join, oversized buckets emit a sorted chain of
consecutive pairs — linear in bucket size, connectivity-preserving.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from fuzzy_matcher_spark.operators.cachereg import register_cache as _register_cache

# the capped_bucket_stats columns
BUCKET_STATS = ("n_buckets", "max_bucket", "n_capped", "pairs_dropped_by_cap")
# above this cap the single-row flattened-combos array (O(cap^2)
# structs) switches to a two-step explode with O(cap) per-row memory
_FLAT_COMBOS_MAX_CAP = 256


def capped_self_join_pairs(
    idx: DataFrame,
    bucket_keys: list[str],
    id_col: str,
    cap: int,
    payload: str | None = None,
    bucket_stats: Observation | None = None,
) -> DataFrame:
    """idx(bucket_keys..., id_col) -> distinct (a, b) with a < b.

    With ``payload`` (a narrow per-id column, e.g. the 8-byte SimHash
    fingerprint), the output additionally carries ``{payload}_a`` /
    ``{payload}_b`` so a downstream verifier needs ZERO joins back to
    the id->payload relation — the payload rides the window/regroup
    shuffles this function already pays. Only worth it for per-id
    payloads of a few bytes; wide payloads (MinHash signatures,
    shingle sets) belong in a candidate-sized join instead
    (dedup_minhash.verify_pairs). The payload must be functionally
    determined by ``id_col`` or the closing distinct() re-duplicates
    pairs.

    Join-free shape: one window pass tags every index row with its
    bucket size and the bucket hub (min id); small buckets regroup
    via collect_list — SAFE, the size filter already bounds groups to
    ``cap`` — and emit all i<j combinations as a pure-JVM nested
    transform; oversized buckets emit star pairs (hub = min id) —
    linear like a chain but diameter 2, so connected components
    converges in O(1) rounds. The previous self-join formulation
    shuffled + sorted the band index twice more and re-evaluated the
    window per consumer (measured 73s -> ~25s at 12.8M index rows).

    Memory shape: with cap <= _FLAT_COMBOS_MAX_CAP the n*(n-1)/2
    combination structs of one bucket materialize as a single in-row
    array before explode (fine at dedup's cap 64, ~2k structs). Larger
    caps (ann.lsh_dup_pairs passes 2048 => ~2.1M structs, tens of MB
    in ONE row) switch to a two-step explode — posexplode the sorted
    id array, then explode only each element's suffix slice — which
    bounds per-row materialization to O(cap) instead of O(cap^2) at
    the cost of carrying the id array through one extra explode.

    ``bucket_stats``: an Observation that the first action over the
    result fills with the ``capped_bucket_stats`` row, taken from the
    window pass this function already runs — aggregated over the hub
    rows (one per bucket), no extra job; read it with
    ``observed_bucket_stats``.
    """
    w = Window.partitionBy(*bucket_keys)
    tagged = idx.select(
        *bucket_keys,
        F.col(id_col),
        *([F.col(payload)] if payload else []),
        F.count(F.lit(1)).over(w).alias("_bn"),
        F.min(id_col).over(w).alias("_hub"),
        # the star branch pairs every member against the hub, so the
        # hub's payload is resolved in the same window pass — min over
        # (id, payload) structs = the min-id row (ids unique), and
        # struct-min is window-safe on every Spark version this repo
        # targets (min_by over a window is not)
        *(
            [
                F.min(F.struct(F.col(id_col), F.col(payload)))
                .over(w)[payload]
                .alias("_hub_pay")
            ]
            if payload
            else []
        ),
    )
    # tagged feeds TWO branches (small-bucket regroup + big-bucket star
    # pairs). ReuseExchange does not fire across them under AQE, so an
    # unpersisted window subtree is evaluated twice — two full index
    # shuffles + two window passes (measured: duplicate 75 MB shuffle
    # writes and a doubled 27 core-s window stage at 300k docs).
    # Persisting the narrow tagged index runs it once; callers'
    # release_caches()/new dedup calls free it.
    tagged = _register_cache(tagged.persist())

    if payload:
        # struct sorts by field order => (id, payload) sorts by id
        # (ids unique), keeping the a < b emission order identical to
        # the payload-free shape
        elem = F.struct(
            F.col(id_col).alias("i"), F.col(payload).alias("p")
        )
    else:
        elem = F.col(id_col)
    ids = F.sort_array(F.collect_list(elem))
    grouped = (
        tagged.where((F.col("_bn") <= cap) & (F.col("_bn") >= 2))
        .groupBy(*bucket_keys)
        .agg(ids.alias("_ids"))
    )
    if cap <= _FLAT_COMBOS_MAX_CAP:
        combos = F.flatten(
            F.transform(
                F.sequence(F.lit(1), F.size("_ids") - 1),
                lambda i: F.transform(
                    F.sequence(i + 1, F.size("_ids")),
                    lambda j: F.struct(
                        F.element_at("_ids", i).alias("a"),
                        F.element_at("_ids", j).alias("b"),
                    ),
                ),
            )
        )
        exploded = grouped.select(F.explode(combos).alias("_p"))
        if payload:
            pairs_small = exploded.select(
                F.col("_p.a.i").alias("a"),
                F.col("_p.b.i").alias("b"),
                F.col("_p.a.p").alias(f"{payload}_a"),
                F.col("_p.b.p").alias(f"{payload}_b"),
            )
        else:
            pairs_small = exploded.select(F.col("_p.a"), F.col("_p.b"))
    else:
        n = F.size("_ids")
        exploded = (
            grouped.select(
                F.col("_ids"), F.posexplode("_ids").alias("_i", "_a")
            )
            .select(
                "_a",
                F.explode(
                    F.slice(F.col("_ids"), F.col("_i") + 2, n - F.col("_i") - 1)
                ).alias("_b"),
            )
        )
        if payload:
            pairs_small = exploded.select(
                F.col("_a.i").alias("a"),
                F.col("_b.i").alias("b"),
                F.col("_a.p").alias(f"{payload}_a"),
                F.col("_b.p").alias(f"{payload}_b"),
            )
        else:
            pairs_small = exploded.select(
                F.col("_a").alias("a"), F.col("_b").alias("b")
            )

    star = tagged
    if bucket_stats is not None:
        hub = F.col(id_col) == F.col("_hub")
        star = star.observe(
            bucket_stats, *_bucket_stats_aggs(F.when(hub, F.col("_bn")), cap)
        )
    pairs_big = (
        star.where((F.col("_bn") > cap) & (F.col(id_col) != F.col("_hub")))
        .select(
            F.col("_hub").alias("a"),
            F.col(id_col).alias("b"),
            *(
                [
                    F.col("_hub_pay").alias(f"{payload}_a"),
                    F.col(payload).alias(f"{payload}_b"),
                ]
                if payload
                else []
            ),
        )
    )

    # distinct over (a, b[, payloads]): payload is functionally
    # determined by id (precondition above), so cardinality matches
    # the payload-free distinct
    return pairs_small.union(pairs_big).distinct()


def _bucket_stats_aggs(n: Column, cap: int) -> list[Column]:
    """The capped_bucket_stats aggregates over rows carrying a bucket
    size ``n``, one non-NULL ``n`` per bucket (rows with a NULL ``n``
    are not counted)."""
    n = n.cast("long")
    full = n * (n - 1) / 2
    zero = F.lit(0).cast("long")
    # coalesce: max/sum over ZERO buckets (empty corpus, or every doc
    # filtered out upstream) return NULL, and the metrics recorder
    # int()-casts these — the stats row must stay well-typed
    return [
        F.count(n).alias("n_buckets"),
        F.coalesce(F.max(n), zero).alias("max_bucket"),
        F.coalesce(
            F.sum(F.when(n > cap, 1).otherwise(0)).cast("long"), zero
        ).alias("n_capped"),
        F.coalesce(
            F.sum(F.when(n > cap, full - (n - 1)).otherwise(0)).cast("long"),
            zero,
        ).alias("pairs_dropped_by_cap"),
    ]


def observed_bucket_stats(observed: Observation) -> dict[str, int]:
    """The capped_bucket_stats row a ``capped_self_join_pairs(...,
    bucket_stats=observed)`` pass filled in. When AQE proves the index
    empty it can prune the observed scan; the Observation then completes
    with an empty row, which ``Observation.get`` cannot convert — that
    index has no buckets, so every stat is zero."""
    # the JVM row, checked before .get converts it
    if observed._jo.getRow().length() == 0:
        return dict.fromkeys(BUCKET_STATS, 0)
    return {k: int(v) for k, v in observed.get.items()}


def capped_bucket_stats(
    idx: DataFrame, bucket_keys: list[str], cap: int
) -> DataFrame:
    """Observability for the capping trade-off: per-bucket-size stats
    with the number of pairs the star emission drops vs all-pairs
    (full = n*(n-1)/2, star = n-1). One aggregation over the index, on
    demand; the checkpointed pipeline observes the same row during its
    pairs pass instead (capped_self_join_pairs(bucket_stats=…))."""
    sizes = idx.groupBy(*bucket_keys).agg(F.count(F.lit(1)).alias("n"))
    return sizes.agg(*_bucket_stats_aggs(F.col("n"), cap))


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resilient equi-join: replicate the (smaller) right side
    ``salt`` times and scatter the left side across replicas, so one
    hot key spreads over ``salt`` reducers instead of one.

    Complements AQE's skew-join splitting (which only fires above size
    thresholds and not under every join strategy): use this for
    probe-vs-index joins whose key histogram is known to be
    pathological — e.g. LSH band keys of boilerplate web pages at
    10^12-doc scale (SURVEY.md §4.3). Within this repo the self-join
    paths use bucket capping instead (bounded degree by construction),
    so this utility is for the asymmetric joins.
    """
    left_s = left.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt))
    )
    right_s = right.join(
        F.broadcast(
            left.sparkSession.range(salt).select(F.col("id").cast("int").alias("_salt"))
        )
    )
    out = left_s.join(right_s, [key, "_salt"], how)
    return out.drop("_salt")
