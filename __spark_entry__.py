"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Operator coverage (SURVEY.md §2): normalization (O3), exact dedup /
hash-agg merge (O4b analog), edit-threshold verification (O4d via
levenshtein), weighted window top-k (O4f), plus the north-rule dedup
stack (MinHash-LSH, SimHash, CC) and training-data ops (token stats,
lang id, quality, fingerprint, ANN). Non-SQL-expressible ops (minhash
bands, simhash, CC clusters, LSH ANN) have no oracle entry -> driver
records rows-only checks.

Float discipline for oracle parity: aggregates of doubles are summed
as exact decimals and cast to double at the end (order-independent);
per-row double expressions use identical operation order in both
engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fuzzy_matcher_spark.config import DedupConfig
from fuzzy_matcher_spark.functions.normalize import normalize_col
from fuzzy_matcher_spark.functions.textstats import (
    bpe_token_count_col,
    fingerprint_col,
    lang_id_col,
    quality_score_col,
    repetition_stats_cols,
    token_count_col,
)
from fuzzy_matcher_spark.functions.shingles import shingles_col
from fuzzy_matcher_spark.operators.ann import brute_force_topk, lsh_topk
from fuzzy_matcher_spark.operators.dedup_exact import exact_clusters, exact_pairs
from fuzzy_matcher_spark.operators.dedup_minhash import (
    add_signatures,
    candidate_pairs,
    minhash_dedup,
    verify_pairs,
)
from fuzzy_matcher_spark.operators.dedup_simhash import (
    add_fingerprints,
    simhash_candidate_pairs,
    simhash_verify,
)
from fuzzy_matcher_spark.operators.topk import topk_per_group

DEDUP_CFG = DedupConfig(shingle_mode="word", shingle_size=4, jaccard_threshold=0.8)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: MinHash-LSH near-duplicate clustering of documents."""
    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    return minhash_dedup(docs, DEDUP_CFG, text_col="text", id_col="doc_id")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_normalize_docs(spark, sf):
    return _t(spark, sf, "documents").select(
        "doc_id", normalize_col("text").alias("norm_text")
    )


def q_doc_fingerprint(spark, sf):
    return _t(spark, sf, "documents").select(
        "doc_id", fingerprint_col("text").alias("fingerprint")
    )


def q_exact_dup_clusters(spark, sf):
    return exact_clusters(_t(spark, sf, "documents"), "text", "doc_id").select(
        "doc_id", "cluster_id"
    )


def _docs_with_planted_dups(spark, sf):
    """documents plus deterministic byte-identical copies (doc_id %7==3
    shifted by +1_000_000). The shipped sf0.01 corpus has no exact
    duplicates, which made the pair/dropped oracles hash-match on
    empty sets — true but evidence-free. Planting makes them
    non-vacuous; the oracle SQL plants the identical rows."""
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    planted = docs.where(F.col("doc_id") % 7 == 3).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    return docs.unionByName(planted)


def q_exact_dup_pairs(spark, sf):
    return exact_pairs(_docs_with_planted_dups(spark, sf), "text", "doc_id")


def q_token_stats(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        token_count_col("text").cast("long").alias("n_tokens"),
        bpe_token_count_col("text").cast("long").alias("n_bpe_tokens"),
    )


def q_lang_id(spark, sf):
    return _t(spark, sf, "documents").select(
        "doc_id", lang_id_col("text").alias("lang_guess")
    )


def q_quality_score(spark, sf):
    return _t(spark, sf, "documents").select(
        "doc_id", quality_score_col("text").alias("quality")
    )


def q_repetition_stats(spark, sf):
    from fuzzy_matcher_spark.functions.shingles import tokens_col

    base = _t(spark, sf, "documents").withColumn("_toks", tokens_col("text"))
    stats = repetition_stats_cols(F.col("_toks"))
    return base.select(
        "doc_id", *[c.alias(name) for name, c in stats.items()]
    )


# Gopher/RefinedWeb-style keep/drop thresholds (tuned non-vacuous on
# the sf0.01 corpus: every rule fires; ~40% keep)
_QF_MIN_TOKENS = 25
_QF_MIN_DISTINCT = 0.35
_QF_MAX_TOP_FRAC = 0.10
_QF_MAX_DUP_GRAM = 0.02


def q_quality_filter(spark, sf):
    stats = q_repetition_stats(spark, sf)
    reason = (
        F.when(F.col("n_tokens") < _QF_MIN_TOKENS, "short")
        .when(F.col("distinct_ratio") < _QF_MIN_DISTINCT, "low_diversity")
        .when(F.col("top_token_frac") > _QF_MAX_TOP_FRAC, "top_token")
        .when(F.col("dup_gram_frac") > _QF_MAX_DUP_GRAM, "repetition")
        .otherwise("ok")
    )
    return stats.select(
        "doc_id", reason.alias("reason"), (reason == "ok").alias("keep")
    )


# deterministic raw-url synthesis from (doc_id, source) — VALID IN
# BOTH ENGINES (concat / CASE / cast only), exercising every
# canonicalization rule: scheme case, default vs explicit port, empty
# path, tracking params, param order, fragments, schemeless urls
URL_SYNTH_SQL = """
    CASE WHEN doc_id % 11 = 10
         THEN concat('WWW.Example.COM/NoScheme/', cast(doc_id as string))
         ELSE concat(
           CASE WHEN doc_id % 4 = 2 THEN 'HTTP://' ELSE 'HTTPS://' END,
           upper(source), '.Example.COM',
           CASE WHEN doc_id % 5 = 0
                THEN CASE WHEN doc_id % 4 = 2 THEN ':80' ELSE ':443' END
                WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END,
           CASE WHEN doc_id % 3 = 0 THEN ''
                ELSE concat('/Docs/', cast(doc_id as string)) END,
           CASE WHEN doc_id % 13 = 3 THEN ''
                WHEN doc_id % 2 = 0 THEN '?utm_source=feed&b=2&a=1'
                ELSE '?z=9&utm_campaign=x' END,
           CASE WHEN doc_id % 13 = 3 THEN '#/route?tab=1'
                WHEN doc_id % 7 = 0 THEN '#Frag' ELSE '' END)
    END
"""


def q_url_normalize(spark, sf):
    from fuzzy_matcher_spark.functions.urls import host_col, url_normalize_col

    d = _t(spark, sf, "documents").withColumn("url", F.expr(URL_SYNTH_SQL))
    return d.select(
        "doc_id",
        "url",
        url_normalize_col("url").alias("url_norm"),
        host_col("url").alias("host"),
    )


def q_shingle_count(spark, sf):
    from fuzzy_matcher_spark.functions.shingles import add_shingles

    d = add_shingles(_t(spark, sf, "documents"), "word", 4)
    return d.select(
        "doc_id", F.size("_sh").cast("long").alias("n_shingles")
    )


def q_lev_pairs_parts(spark, sf):
    p = _t(spark, sf, "part").select("p_partkey", "p_brand", "p_name")
    a = p.select(
        F.col("p_brand"),
        F.col("p_partkey").alias("a_key"),
        F.col("p_name").alias("a_name"),
    )
    b = p.select(
        F.col("p_brand"),
        F.col("p_partkey").alias("b_key"),
        F.col("p_name").alias("b_name"),
    )
    return (
        a.join(b, "p_brand")
        .where(F.col("a_key") < F.col("b_key"))
        .withColumn("dist", F.levenshtein("a_name", "b_name"))
        .where(F.col("dist") <= 3)
        .select(
            "a_key",
            "b_key",
            F.col("dist").cast("long").alias("dist"),
            (
                F.lit(1.0)
                - F.col("dist")
                / F.greatest(F.length("a_name"), F.length("b_name"))
            ).alias("sim"),
        )
    )


def q_tpch_q1(spark, sf):
    li = _t(spark, sf, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(20,4)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.count(F.lit(1)).alias("count_order"),
            (
                F.sum(dec("l_discount")).cast("double") / F.count(F.lit(1))
            ).alias("avg_disc"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "sum_qty",
            "sum_base_price",
            "count_order",
            "avg_disc",
        )
    )


def q_topk_orders_per_customer(spark, sf):
    o = _t(spark, sf, "orders")
    return topk_per_group(
        o.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        [F.desc("o_totalprice"), F.col("o_orderkey")],
        3,
    ).select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.col("rank").cast("long").alias("rank"),
    )


def q_customer_nation_agg(spark, sf):
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(20,4)"))
            .cast("double")
            .alias("sum_acctbal"),
        )
    )


def q_events_hourly(spark, sf):
    e = _t(spark, sf, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(20,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


def q_ann_topk(spark, sf):
    emb = _t(spark, sf, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    probes = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    out = brute_force_topk(emb, probes, k=3)
    return out.select(
        "probe_id", "vec_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


def q_exact_keep_canonical(spark, sf):
    """Deduplicated corpus after exact dedup: canonical doc per cluster
    (identical texts tie on length => smallest id wins)."""
    from fuzzy_matcher_spark.operators.canonical import keep_canonical

    docs = _t(spark, sf, "documents")
    clusters = exact_clusters(docs, "text", "doc_id")
    return keep_canonical(clusters, docs).select("doc_id")


def _emb_with_planted_dups(spark, sf, vec_col="e"):
    """embeddings plus byte-identical vector copies (vec_id %11==5
    shifted by +100_000): cosine(v, v) computes identically in both
    engines, so the threshold-pair oracles exercise real values
    instead of hash-matching empty sets (no sf0.01 pair reaches 0.8)."""
    emb = _t(spark, sf, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(vec_col),
    )
    planted = emb.where(F.col("vec_id") % 11 == 5).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), vec_col
    )
    return emb.unionByName(planted)


def q_embedding_dup_pairs(spark, sf):
    """Embedding-cosine near-duplicate pairs (brute force, exact)."""
    from fuzzy_matcher_spark.operators.ann import dot_col, norm_col

    emb = _emb_with_planted_dups(spark, sf)
    a = emb.select(F.col("vec_id").alias("a"), F.col("e").alias("_ea"))
    b = emb.select(F.col("vec_id").alias("b"), F.col("e").alias("_eb"))
    return (
        a.join(b, F.col("a") < F.col("b"))
        .withColumn(
            "cosine",
            dot_col("_ea", "_eb") / (norm_col("_ea") * norm_col("_eb")),
        )
        .where(F.col("cosine") >= 0.8)
        .select("a", "b", "cosine")
    )


def q_embedding_dup_pairs_lsh(spark, sf):
    """Bucketed (hyperplane-LSH) embedding near-dup pairs — the scale
    path for threshold-pair generation; same output contract as the
    brute-force query and oracled by the same brute-force SQL. Runs
    over the planted-duplicate corpus: identical vectors share every
    hyperplane bucket, so LSH recall on the planted pairs is exactly 1
    and the hash-match is non-vacuous. Richer recall evidence (near-
    but-not-identical planted dups) is in tests/test_ann_lsh.py."""
    from fuzzy_matcher_spark.operators.ann import lsh_dup_pairs

    emb = _emb_with_planted_dups(spark, sf, vec_col="embedding")
    return lsh_dup_pairs(emb, threshold=0.8)


def q_events_sessions(spark, sf):
    """Sessionization: 30-minute inactivity gap splits sessions."""
    from fuzzy_matcher_spark.operators.sessions import session_stats

    return session_stats(_t(spark, sf, "events"))


def q_dedup_dropped(spark, sf):
    """Set difference: docs removed by exact dedup (all minus kept),
    over the planted-duplicate corpus so the result is non-empty."""
    docs = _docs_with_planted_dups(spark, sf)
    kept = exact_clusters(docs, "text", "doc_id").select(
        F.col("cluster_id").alias("doc_id")
    )
    return docs.select("doc_id").exceptAll(kept.distinct())


def q_events_json_props(spark, sf):
    """JSON extraction (from_json) + aggregation over events.props."""
    e = _t(spark, sf, "events")
    k = F.from_json("props", "k INT").getField("k")
    return (
        e.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("k").cast("long")).alias("sum_k"),
            F.max("k").cast("long").alias("max_k"),
        )
    )


def q_matcher_exact_search(spark, sf):
    """Matcher with all-zero budgets (exact-only path, O14 invalid-probe
    semantics): probe = every 100th customer against the full corpus.

    The probe set exercises all three zero-budget match directions
    non-vacuously: unmodified names (exact equi-join), names truncated
    by two raw chars (probe is a proper prefix of stored values -> free
    BFS completion, breadth_first_search.go:62-73), and names with a
    'zz' suffix (stored is a proper prefix of the probe -> end-of-string
    node passed mid-walk, utils.go:30-43 step 3)."""
    from fuzzy_matcher_spark.config import CoreParams, FieldParams, MatchConfig
    from fuzzy_matcher_spark.operators.matcher import prepare, search

    cfg = MatchConfig(
        fields={"c_name": FieldParams(0, 0, 1.0, "default", 1.0)},
        core=CoreParams(max_edits=0),
    )
    cust = _t(spark, sf, "customer")
    base = prepare(cust.select(F.col("c_custkey").alias("id"), "c_name"), cfg)
    probe_name = (
        F.when(F.col("c_custkey") % 300 == 3, F.concat(F.col("c_name"), F.lit("zz")))
        .when(
            F.col("c_custkey") % 300 == 103,
            F.expr("substring(c_name, 1, length(c_name)-2)"),
        )
        .otherwise(F.col("c_name"))
    )
    probes = prepare(
        cust.where(F.col("c_custkey") % 100 == 3).select(
            F.col("c_custkey").alias("probe_id"), probe_name.alias("c_name")
        ),
        cfg,
    )
    return search(base, probes, cfg, probe_id_col="probe_id")


# --- rows-only (not SQL-expressible: minhash/simhash/CC/LSH) ---


def q_matcher_lev_search(spark, sf):
    """Fuzzy matcher with the levenshtein kernel — fully SQL-expressible,
    so the DuckDB oracle computes the *exact corpus-wide* answer and a
    hash-match also hard-proves blocking recall (any pair the blocking
    dropped would make Spark miss a row the oracle has).

    Config choice makes the edit gate non-binding: names normalize to 17
    chars, so score >= 0.85 implies levenshtein <= 2 and trie-edits <=
    levenshtein <= max_edits=3 — the match set is exactly
    {pairs: lev_sim >= 0.85}, reference decision order
    (fuzzy_matcher_core.go:220-290)."""
    from fuzzy_matcher_spark.config import CoreParams, FieldParams, MatchConfig
    from fuzzy_matcher_spark.operators.matcher import prepare, search

    cfg = MatchConfig(
        fields={"c_name": FieldParams(4, 3, 1.0, "levenshtein", 0.85)},
        core=CoreParams(max_edits=3),
    )
    cust = _t(spark, sf, "customer")
    base = prepare(cust.select(F.col("c_custkey").alias("id"), "c_name"), cfg)
    probes = prepare(
        cust.where(F.col("c_custkey") % 100 == 3).select(
            F.col("c_custkey").alias("probe_id"),
            F.concat(
                F.expr("substring(c_name, 1, length(c_name)-1)"), F.lit("x")
            ).alias("c_name"),
        ),
        cfg,
    )
    return search(base, probes, cfg, probe_id_col="probe_id")


def q_matcher_golden_roster(spark, sf):
    """Reference-parity golden suite through the DRIVER contract
    (r3 ask 7 / r4 VERDICT #5): the 20-member roster
    (tests/test_data/example_members.json) probed with the reference's
    fuzzy_search_cases.json + nickname scenario batch, full
    strcmp95-LT matcher path (example_member_config: JW firstname 0.2
    / JW surname 0.4 / exact birthdate 0.4, trie budgets, top-5).
    Returns integer-stable columns plus the score rounded to 4
    decimals; the DuckDB oracle is the literal expected VALUES. Two
    claims, separately: MEMBERSHIP and RANKS are reference parity
    (the fixtures specify who must match and in what order, including
    nickname hits and the Bob->Robert rejection); the 4-decimal SCORE
    literals are a self-regression pin (the reference fixtures
    specify score BANDS, not exact values — exact values necessarily
    come from this engine's own scoring and pin it against drift)."""
    from fuzzy_matcher_spark.config import example_member_config
    from fuzzy_matcher_spark.operators.matcher import search
    from fuzzy_matcher_spark.sources.members import (
        members_df,
        probe_validity_col,
        probes_df,
    )

    cfg = example_member_config()
    base = members_df(spark, cfg)
    probes = probes_df(
        spark,
        [(i, fn, sn, bd) for i, (fn, sn, bd) in enumerate(GOLDEN_PROBES)],
    )
    out = search(base, probes, cfg, is_valid_col=probe_validity_col())
    return out.select(
        "probe_id",
        "id",
        F.col("rank").cast("int").alias("rank"),
        F.round("score", 4).alias("score_r"),
    )


# (firstname, surname, birthdate) probe batch: fuzzy_search_cases.json
# + edge_case_tests.json + nickname_tests.json scenarios (the same
# batches the golden pytest suite asserts score bands for)
GOLDEN_PROBES = [
    ("John", "Smith", "1990-05-15"),
    ("Jon", "Smith", "1990-05-15"),
    ("Micheal", "Brown", "1992-08-22"),
    ("Sara", "Jhonson", "1985-12-03"),
    ("Xyz", "Nonexistent", "2000-01-01"),
    ("John", "Smith", "1985-01-01"),
    ("Ema", "Davis", "1988-03-10"),
    ("Jmes", "Wilson", "1995-01-18"),
    ("Janes", "Wilson", "1995-01-18"),
    ("Al", "Li", "1988-01-01"),
    ("Jahn", "Smythe", "1990-05-15"),
    ("John", "Johnson", "1990-01-01"),
    ("Ben", "Anderson", "1989-09-14"),
    ("Mike", "Brown", "1992-08-22"),
    ("Liz", "Smith", "1990-05-15"),
    ("Bill", "Moore", "1987-11-08"),
    ("Alex", "Jackson", "1986-02-28"),
    ("Chris", "Walker", "1987-04-02"),
    ("Matt", "Lewis", "1995-05-23"),
    ("Dan", "Garcia", "1988-08-07"),
    ("Michael", "Brown", "1992-08-22"),
    ("Bob", "Johnson", "1985-12-03"),
]


def q_lev_pairs_clusters(spark, sf):
    """Connected components over the (hash-matching) lev_pairs_parts
    edge set — oracled by DuckDB recursive min-label propagation, the
    cluster analog of candidate-merge (fuzzy_matcher_core.go:173-207)."""
    from fuzzy_matcher_spark.operators.connected_components import (
        connected_components,
    )

    edges = q_lev_pairs_parts(spark, sf).select(
        F.col("a_key").alias("a"), F.col("b_key").alias("b")
    )
    return connected_components(edges).select(
        F.col("id").cast("long").alias("id"),
        F.col("component").cast("long").alias("component"),
    )


def q_matcher_fuzzy_search(spark, sf):
    """Fuzzy matcher (JW verification, trie-edit budgets) over customer
    names with single-character corruptions."""
    from fuzzy_matcher_spark.config import CoreParams, FieldParams, MatchConfig
    from fuzzy_matcher_spark.operators.matcher import prepare, search

    cfg = MatchConfig(
        fields={"c_name": FieldParams(6, 3, 1.0, "jaro", 0.85)},
        core=CoreParams(max_edits=3),
    )
    cust = _t(spark, sf, "customer")
    base = prepare(cust.select(F.col("c_custkey").alias("id"), "c_name"), cfg)
    probes = prepare(
        cust.where(F.col("c_custkey") % 100 == 3).select(
            F.col("c_custkey").alias("probe_id"),
            F.concat(
                F.expr("substring(c_name, 1, length(c_name)-1)"), F.lit("x")
            ).alias("c_name"),
        ),
        cfg,
    )
    return search(base, probes, cfg, probe_id_col="probe_id")


def q_matcher_jw_search(spark, sf):
    """Jaro-Winkler matcher path with a corpus-wide hard oracle.

    Kernel = ``jaro_duckdb`` (standard JW, bitwise-identical to
    DuckDB's ``jaro_winkler_similarity``; see functions/similarity.py)
    so the whole fuzzy plan — blocking joins, candidate merge, JW
    verification, weighted score, top-5 window — hash-checks against
    plain SQL. Budgets are set above any name length (trie_edit <=
    min(len) <= 17 < 64), so the edit gate is provably non-binding and
    the match set is exactly {pairs: jw >= 0.85}; the blocking contract
    routes every such pair through the short-value fallback keys
    (cutoff 2*64+1 > 17), i.e. recall is structural, and any dropped
    pair would break the hash. The reference-parity strcmp95+LT kernel
    stays golden-pinned and is exercised rows-only by
    ``matcher_fuzzy_search``."""
    from fuzzy_matcher_spark.config import CoreParams, FieldParams, MatchConfig
    from fuzzy_matcher_spark.operators.matcher import prepare, search

    cfg = MatchConfig(
        fields={"c_name": FieldParams(64, 64, 1.0, "jaro_duckdb", 0.85)},
        core=CoreParams(max_edits=64),
    )
    cust = _t(spark, sf, "customer")
    base = prepare(cust.select(F.col("c_custkey").alias("id"), "c_name"), cfg)
    probes = prepare(
        cust.where(F.col("c_custkey") % 100 == 3).select(
            F.col("c_custkey").alias("probe_id"),
            F.concat(
                F.expr("substring(c_name, 1, length(c_name)-1)"), F.lit("x")
            ).alias("c_name"),
        ),
        cfg,
    )
    return search(base, probes, cfg, probe_id_col="probe_id")


def q_substring_pairs(spark, sf):
    """Winnowing + pairwise-LCS substring engine, projected to (a, b)
    so the 60-gram equi-join SQL (same predicate: 'shares a common
    substring of length >= 60') is an exact oracle — the suffix-array
    twin carries the same oracle, giving both engines independent
    hard checks."""
    from fuzzy_matcher_spark.operators.dedup_substring import (
        substring_candidates,
        substring_verify,
    )

    cfg = DedupConfig(min_substring=60)
    docs = _t(spark, sf, "documents")
    return substring_verify(substring_candidates(docs, cfg), docs, cfg).select(
        "a", "b"
    )


def q_suffix_array_pairs(spark, sf):
    """Generalized suffix-array engine (same predicate as
    substring_pairs; anchor-bucketed SA instead of pairwise LCS)."""
    from fuzzy_matcher_spark.operators.suffix_array import suffix_substring_pairs

    return suffix_substring_pairs(
        _t(spark, sf, "documents"), DedupConfig(min_substring=60)
    )


def q_ngram_dup_clusters(spark, sf):
    from fuzzy_matcher_spark.operators.dedup_ngram import ngram_dedup

    return ngram_dedup(_t(spark, sf, "documents"), DEDUP_CFG)


def q_media_features(spark, sf):
    """Multimodal plumbing: documents' bytes as opaque media content.

    The raw ``feature array<float>`` is projected to a scalar digest
    (xxhash64 over the rounded components) so the driver's pandas
    canonicalizer — which sorts column values — never sees an
    unhashable list column.
    """
    from fuzzy_matcher_spark.operators.multimodal import extract_features

    media = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("text").cast("binary").alias("content"),
        F.create_map(F.lit("src"), F.col("source")).alias("meta"),
    )
    feats = extract_features(media, deterministic_fake=True)
    digest = F.xxhash64(
        F.concat_ws(
            ",", F.transform("feature", lambda x: F.round(x.cast("double"), 5).cast("string"))
        )
    )
    return feats.select(
        "media_id", "kind", "n_bytes", digest.alias("feature_digest")
    )


def q_media_meta(spark, sf):
    """Media-ingest plumbing, JVM columns only: the binary byte length
    and typed-metadata extraction are SQL-expressible, so this half of
    the multimodal path gets a hard oracle while the numpy featureizer
    digest stays rows-only in `media_features`."""
    media = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("text").cast("binary").alias("content"),
        F.create_map(F.lit("src"), F.col("source")).alias("meta"),
    )
    return media.select(
        "media_id",
        "kind",
        F.length("content").cast("long").alias("n_bytes"),
        F.element_at("meta", F.lit("src")).alias("src"),
    )


def q_minhash_band_index(spark, sf):
    sig = add_signatures(_t(spark, sf, "documents"), DEDUP_CFG)
    from fuzzy_matcher_spark.functions.minhash import explode_bands

    return explode_bands(sig, "doc_id", DEDUP_CFG)


def q_near_dup_pairs(spark, sf):
    """LSH candidates + exact-Jaccard verify, oracled by a DuckDB
    brute-force over all pairs: banding recall and the exact verify are
    what is under test."""
    docs = _t(spark, sf, "documents")
    sig = add_signatures(docs, DEDUP_CFG).persist()
    cand = candidate_pairs(sig, DEDUP_CFG)
    return verify_pairs(cand, sig, DEDUP_CFG)


def q_near_dup_clusters(spark, sf):
    return minhash_dedup(_t(spark, sf, "documents"), DEDUP_CFG)


def q_near_dup_keep_canonical(spark, sf):
    from fuzzy_matcher_spark.operators.canonical import elect_canonical

    docs = _t(spark, sf, "documents")
    clusters = minhash_dedup(docs, DEDUP_CFG)
    return elect_canonical(clusters, docs)


def q_simhash_pairs(spark, sf):
    fp = add_fingerprints(_t(spark, sf, "documents"), DEDUP_CFG)
    return simhash_verify(simhash_candidate_pairs(fp, DEDUP_CFG), fp, DEDUP_CFG)


def q_lsh_ann_topk(spark, sf):
    emb = _t(spark, sf, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    probes = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return lsh_topk(emb, probes, k=3)


def q_ivf_ann_topk(spark, sf):
    """IVF-flat ANN (driver-trained spherical k-means + inverted-list
    equi-join + exact re-rank; operators/ann.py::ivf_topk). Rows-only:
    the k-means training loop is not SQL-expressible — recall vs brute
    force and centroid determinism are pinned by tests/test_ann_lsh.py,
    and exact-cosine re-rank parity rides the ann_topk oracle."""
    from fuzzy_matcher_spark.operators.ann import ivf_topk

    emb = _t(spark, sf, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    probes = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return ivf_topk(emb, probes, k=3, n_centroids=32, nprobe=8)


def q_cross_dup_pairs(spark, sf):
    """Cross-corpus near-dup pairs (operators/dedup_cross.py): even
    doc_ids play the existing indexed corpus, odd ids the new crawl.
    Same signature config as the flagship; oracled by DuckDB
    brute-force cross-side Jaccard."""
    from fuzzy_matcher_spark.operators.dedup_cross import cross_dup_pairs

    docs = _t(spark, sf, "documents")
    idx = docs.where(F.col("doc_id") % 2 == 0)
    probes = docs.where(F.col("doc_id") % 2 == 1)
    return cross_dup_pairs(idx, probes, DEDUP_CFG)


def q_cross_dedup_keep(spark, sf):
    """Keep-side of cross-corpus dedup: new-crawl docs with no
    near-duplicate in the indexed corpus (ids only)."""
    from fuzzy_matcher_spark.operators.dedup_cross import cross_dedup_keep

    docs = _t(spark, sf, "documents")
    idx = docs.where(F.col("doc_id") % 2 == 0)
    probes = docs.where(F.col("doc_id") % 2 == 1)
    return cross_dedup_keep(idx, probes, DEDUP_CFG).select("doc_id")


def q_contamination_hits(spark, sf):
    """Benchmark decontamination hit report (operators/decontaminate.py):
    docs sharing >= 1 word 13-gram with the held-out set (doc_id % 10
    == 0 plays the eval set). Bloom prefilter ON — the oracle proves
    it drops nothing. Generalizes the reference's probe-vs-index
    search contract to span-level containment."""
    from fuzzy_matcher_spark.operators.decontaminate import contamination_hits

    docs = _t(spark, sf, "documents")
    bench = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    return contamination_hits(corpus, bench, n=13)


def q_decontaminated_keep(spark, sf):
    """Keep-side of decontamination: corpus docs with zero benchmark
    13-gram overlap (anti-join against the hit report)."""
    from fuzzy_matcher_spark.operators.decontaminate import decontaminate

    docs = _t(spark, sf, "documents")
    bench = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    return decontaminate(corpus, bench, n=13).select("doc_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "normalize_docs": q_normalize_docs,
        "doc_fingerprint": q_doc_fingerprint,
        "exact_dup_clusters": q_exact_dup_clusters,
        "exact_dup_pairs": q_exact_dup_pairs,
        "token_stats": q_token_stats,
        "lang_id": q_lang_id,
        "quality_score": q_quality_score,
        "repetition_stats": q_repetition_stats,
        "quality_filter": q_quality_filter,
        "url_normalize": q_url_normalize,
        "shingle_count": q_shingle_count,
        "lev_pairs_parts": q_lev_pairs_parts,
        "tpch_q1": q_tpch_q1,
        "topk_orders_per_customer": q_topk_orders_per_customer,
        "customer_nation_agg": q_customer_nation_agg,
        "events_hourly": q_events_hourly,
        "ann_topk": q_ann_topk,
        "exact_keep_canonical": q_exact_keep_canonical,
        "near_dup_keep_canonical": q_near_dup_keep_canonical,
        "embedding_dup_pairs": q_embedding_dup_pairs,
        "embedding_dup_pairs_lsh": q_embedding_dup_pairs_lsh,
        "events_sessions": q_events_sessions,
        "events_json_props": q_events_json_props,
        "dedup_dropped": q_dedup_dropped,
        "matcher_exact_search": q_matcher_exact_search,
        "matcher_golden_roster": q_matcher_golden_roster,
        "matcher_lev_search": q_matcher_lev_search,
        "matcher_jw_search": q_matcher_jw_search,
        "lev_pairs_clusters": q_lev_pairs_clusters,
        "matcher_fuzzy_search": q_matcher_fuzzy_search,
        "minhash_band_index": q_minhash_band_index,
        "near_dup_pairs": q_near_dup_pairs,
        "near_dup_clusters": q_near_dup_clusters,
        "simhash_pairs": q_simhash_pairs,
        "substring_pairs": q_substring_pairs,
        "suffix_array_pairs": q_suffix_array_pairs,
        "ngram_dup_clusters": q_ngram_dup_clusters,
        "media_features": q_media_features,
        "media_meta": q_media_meta,
        "lsh_ann_topk": q_lsh_ann_topk,
        "ivf_ann_topk": q_ivf_ann_topk,
        "contamination_hits": q_contamination_hits,
        "decontaminated_keep": q_decontaminated_keep,
        "cross_dup_pairs": q_cross_dup_pairs,
        "cross_dedup_keep": q_cross_dedup_keep,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_TOKS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"

# shared word-4-gram shingle-set CTE for the cross-corpus dedup
# oracles (same grammar as the near_dup_pairs oracle: DEDUP_CFG is
# word mode, shingle_size=4, zero-token docs excluded)
_CROSS_SHINGLES = """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    s AS (
      SELECT doc_id,
        CASE WHEN len(toks) >= 4
             THEN list_distinct(list_transform(range(1, len(toks) - 2),
                      i -> array_to_string(toks[i:i+3], ' ')))
             ELSE [array_to_string(toks, ' ')] END AS sh
      FROM t WHERE len(toks) > 0
    )
"""

# shared word-13-gram CTE for the decontamination oracles (mirrors
# shingles.py word mode including the short-doc whole-string fallback)
_DECON_GRAMS = f"""
    WITH tok AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ),
    grams AS (
      SELECT doc_id, CASE WHEN len(t) >= 13
          THEN list_distinct(list_transform(range(1, len(t) - 11),
                             i -> array_to_string(t[i:i+12], ' ')))
          ELSE [array_to_string(t, ' ')] END AS gs
      FROM tok
    ),
    eg AS (SELECT doc_id, unnest(gs) AS g FROM grams)
"""
_STOPS = (
    "['the','and','of','to','is','der','die','und','das','ist',"
    "'el','la','que','los','una','le','les','des','est','dans']"
)


def _near_dup_clusters_sql() -> str:
    """Recursive CC over (brute-force exact-Jaccard pairs UNION exact
    star pairs), singletons coalesced — the end-to-end flagship oracle."""
    return f"""
        WITH RECURSIVE t AS (
          SELECT doc_id, {_TOKS} AS toks FROM documents
        ), s AS (
          SELECT doc_id,
            CASE WHEN len(toks) >= 4
                 THEN list_distinct(list_transform(range(1, len(toks) - 2),
                          i -> array_to_string(toks[i:i+3], ' ')))
                 ELSE [array_to_string(toks, ' ')] END AS sh
          FROM t WHERE len(toks) > 0
        ), jp AS (
          SELECT a, b FROM (
            SELECT a.doc_id AS a, b.doc_id AS b,
                   len(list_intersect(a.sh, b.sh)) AS i,
                   len(a.sh) AS la, len(b.sh) AS lb
            FROM s a JOIN s b ON a.doc_id < b.doc_id)
          WHERE i / (la + lb - i) >= 0.8
        ), ep AS (
          SELECT m AS a, doc_id AS b FROM (
            SELECT min(doc_id) OVER (PARTITION BY text) AS m, doc_id
            FROM documents)
          WHERE m <> doc_id
        ), e AS (SELECT a, b FROM jp UNION SELECT a, b FROM ep),
        ed AS (SELECT a AS u, b AS v FROM e UNION SELECT b AS u, a AS v FROM e),
        reach(id, lbl) AS (
          SELECT u, u FROM ed
          UNION
          SELECT ed.v, reach.lbl FROM reach JOIN ed ON ed.u = reach.id
        ), comp AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id)
        SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
    """


# one SQL for both embedding-dup engines: brute force IS the contract,
# and the LSH path must reproduce it exactly on this corpus (identical
# planted vectors share every hyperplane bucket -> recall 1)
_EMB_DUP_SQL = """
    WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    e AS (
      SELECT vec_id, v FROM e0
      UNION ALL
      SELECT vec_id + 100000, v FROM e0 WHERE vec_id % 11 = 5
    )
    SELECT a.vec_id AS a, b.vec_id AS b,
           list_dot_product(a.v, b.v) /
           (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
             AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) /
          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
          >= 0.8
"""


def oracle_sql() -> dict[str, str]:
    lang_case = """
        WITH t AS (
          SELECT doc_id, list_distinct({toks}) AS toks FROM documents
        ), s AS (
          SELECT doc_id,
            len(list_intersect(toks, ['the','and','of','to','is'])) AS en,
            len(list_intersect(toks, ['der','die','und','das','ist'])) AS de,
            len(list_intersect(toks, ['el','la','que','los','una'])) AS es,
            len(list_intersect(toks, ['le','les','des','est','dans'])) AS fr
          FROM t
        )
        SELECT doc_id,
          CASE
            WHEN en > 0 AND en >= de AND en >= es AND en >= fr THEN 'en'
            WHEN de > 0 AND de >= es AND de >= fr THEN 'de'
            WHEN es > 0 AND es >= fr THEN 'es'
            WHEN fr > 0 THEN 'fr'
            ELSE 'und'
          END AS lang_guess
        FROM s
    """.format(toks=_TOKS)

    quality = f"""
        WITH t AS (
          SELECT doc_id, text, {_TOKS} AS toks FROM documents
        )
        SELECT doc_id,
          0.5 * (CASE WHEN length(text) > 0
                 THEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / length(text)
                 ELSE 0.0 END)
          + 0.3 * (CASE WHEN len(toks) > 0
                   THEN len(list_filter(toks, t2 -> list_contains({_STOPS}, t2))) / len(toks)
                   ELSE 0.0 END)
          + 0.2 * least(len(toks) / 100.0, 1.0) AS quality
        FROM t
    """

    # repetition metrics: int/int divisions and the 1.0-x subtraction
    # are single correctly-rounded double ops in both engines;
    # thresholds cast to DOUBLE so DuckDB never compares via DECIMAL
    rep_stats_body = f"""
        WITH t AS (
          SELECT doc_id, {_TOKS} AS toks FROM documents
        )
        SELECT doc_id,
          CAST(len(toks) AS BIGINT) AS n_tokens,
          CASE WHEN len(toks) > 0
               THEN len(list_distinct(toks)) / len(toks)
               ELSE 0.0 END AS distinct_ratio,
          CASE WHEN len(toks) > 0
               THEN list_max(list_transform(list_distinct(toks),
                        w -> len(list_filter(toks, x -> x = w)))) / len(toks)
               ELSE 0.0 END AS top_token_frac,
          CASE WHEN len(toks) >= 3
               THEN 1.0 - len(list_distinct(list_transform(
                        range(1, len(toks) - 1),
                        i -> array_to_string(toks[i:i+2], ' '))))
                    / (len(toks) - 2)
               ELSE 0.0 END AS dup_gram_frac
        FROM t
    """
    quality_filter = f"""
        WITH s AS ({rep_stats_body}),
        r AS (
          SELECT doc_id,
            CASE
              WHEN n_tokens < 25 THEN 'short'
              WHEN distinct_ratio < CAST(0.35 AS DOUBLE) THEN 'low_diversity'
              WHEN top_token_frac > CAST(0.10 AS DOUBLE) THEN 'top_token'
              WHEN dup_gram_frac > CAST(0.02 AS DOUBLE) THEN 'repetition'
              ELSE 'ok'
            END AS reason
          FROM s
        )
        SELECT doc_id, reason, reason = 'ok' AS keep FROM r
    """

    # independent DuckDB implementation of the url canonical grammar
    # (functions/urls.py docstring); raw urls built by the SAME
    # synthesis expression the Spark query uses
    url_normalize = f"""
        WITH raw AS (
          SELECT doc_id, trim({URL_SYNTH_SQL}) AS url FROM documents
        ), parts AS (
          SELECT doc_id, url,
            lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))
              AS scheme,
            lower(regexp_extract(url,
              '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
            regexp_extract(url,
              '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS p,
            regexp_extract(url, '^[^#]*?\\?([^#]*)', 1) AS q
          FROM raw
        ), norm AS (
          SELECT doc_id, url, scheme,
            regexp_replace(hostport, ':[0-9]*$', '') AS host,
            regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
            CASE WHEN p = '' THEN '/' ELSE p END AS path,
            coalesce(array_to_string(list_sort(list_filter(string_split(q, '&'),
              x -> len(x) > 0 AND NOT regexp_matches(x,
                   '^(utm_[a-z0-9_]*|gclid|fbclid|ref)='))), '&'), '') AS cq
          FROM parts
        )
        SELECT doc_id, url,
          CASE WHEN scheme = '' THEN lower(url)
               ELSE concat(scheme, '://', host,
                 CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                        OR (scheme = 'https' AND port = '443')
                      THEN '' ELSE concat(':', port) END,
                 path,
                 CASE WHEN cq = '' THEN '' ELSE concat('?', cq) END)
          END AS url_norm,
          host
        FROM norm
    """

    shingles = f"""
        WITH t AS (
          SELECT doc_id, {_TOKS} AS toks FROM documents
        )
        SELECT doc_id,
          CAST(CASE WHEN len(toks) >= 4
               THEN len(list_distinct(list_transform(range(1, len(toks) - 2),
                        i -> array_to_string(toks[i:i+3], ' '))))
               ELSE 1 END AS BIGINT) AS n_shingles
        FROM t
    """

    ann = """
        WITH c AS (
          SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        ), p AS (
          SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pe
          FROM embeddings WHERE vec_id < 5
        ), scored AS (
          SELECT p.probe_id, c.vec_id,
                 list_dot_product(c.e, p.pe) /
                 (sqrt(list_dot_product(c.e, c.e)) * sqrt(list_dot_product(p.pe, p.pe)))
                 AS cosine
          FROM c, p WHERE c.vec_id <> p.probe_id
        ), ranked AS (
          SELECT probe_id, vec_id, cosine,
                 row_number() OVER (PARTITION BY probe_id
                                    ORDER BY cosine DESC, vec_id) AS rank
          FROM scored
        )
        SELECT probe_id, vec_id, cosine, rank FROM ranked WHERE rank <= 3
    """

    return {
        "normalize_docs": (
            "SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')"
            " AS norm_text FROM documents"
        ),
        "doc_fingerprint": (
            "SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g'))"
            " AS fingerprint FROM documents"
        ),
        "exact_dup_clusters": """
            SELECT d.doc_id, m.cluster_id
            FROM documents d
            JOIN (SELECT text, min(doc_id) AS cluster_id
                  FROM documents GROUP BY text) m
            ON d.text = m.text
        """,
        "exact_dup_pairs": """
            WITH d AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 3
            )
            SELECT a, b FROM (
              SELECT min(doc_id) OVER (PARTITION BY text) AS a, doc_id AS b
              FROM d)
            WHERE a <> b
        """,
        "token_stats": f"""
            SELECT doc_id,
                   CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
                   CAST(len(regexp_extract_all(lower(text),
                        '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens
            FROM documents
        """,
        "lang_id": lang_case,
        "quality_score": quality,
        "repetition_stats": rep_stats_body,
        "quality_filter": quality_filter,
        "url_normalize": url_normalize,
        "shingle_count": shingles,
        "lev_pairs_parts": """
            SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
                   CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
                   1.0 - levenshtein(a.p_name, b.p_name)
                         / greatest(length(a.p_name), length(b.p_name)) AS sim
            FROM part a JOIN part b
              ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
            WHERE levenshtein(a.p_name, b.p_name) <= 3
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE)
                     AS sum_base_price,
                   count(*) AS count_order,
                   CAST(sum(CAST(l_discount AS DECIMAL(20,4))) AS DOUBLE) / count(*)
                     AS avg_disc
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "topk_orders_per_customer": """
            SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey)
                       AS rank
              FROM orders)
            WHERE rank <= 3
        """,
        "exact_keep_canonical": (
            "SELECT min(doc_id) AS doc_id FROM documents GROUP BY text"
        ),
        "embedding_dup_pairs": _EMB_DUP_SQL,
        "embedding_dup_pairs_lsh": _EMB_DUP_SQL,
        "events_sessions": """
            WITH g AS (
              SELECT user_id,
                     CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) IS NULL
                          OR date_diff('second',
                               lag(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id), ts) > 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM events)
            SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM g GROUP BY user_id
        """,
        "dedup_dropped": """
            WITH d AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 3
            )
            SELECT doc_id FROM d
            EXCEPT
            SELECT min(doc_id) AS doc_id FROM d GROUP BY text
        """,
        "events_json_props": """
            SELECT event_type, count(*) AS n,
                   CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT)
                     AS sum_k,
                   CAST(max(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT)
                     AS max_k
            FROM events GROUP BY event_type
        """,
        # Reference-parity pin: the 20-member roster + golden probe
        # batch is a FIXED input (no testdata tables involved), so the
        # oracle is the literal expected result — ported from the
        # reference's golden fixtures (fuzzy_search_cases.json,
        # edge_case_tests.json, nickname_tests.json score bands). A
        # hash match in CORRECTNESS therefore IS reference parity for
        # the full strcmp95-LT matcher path (candidates -> verify ->
        # weighted score -> top-5), recorded through the driver
        # contract instead of only pytest.
        "matcher_golden_roster": """
            SELECT CAST(probe_id AS BIGINT) AS probe_id,
                   CAST(id AS BIGINT) AS id,
                   CAST(rank AS INTEGER) AS rank,
                   CAST(score_r AS DOUBLE) AS score_r
            FROM (VALUES
              (0, 1, 1, 1.0),
              (1, 1, 1, 0.9867),
              (2, 3, 1, 0.9957),
              (3, 2, 1, 0.981),
              (6, 4, 1, 0.9867),
              (7, 5, 1, 0.9907),
              (8, 5, 1, 0.9813),
              (12, 9, 1, 0.9708),
              (13, 3, 1, 0.9562),
              (15, 7, 1, 0.9452),
              (16, 11, 1, 0.9778),
              (17, 19, 1, 0.9782),
              (18, 17, 1, 0.9829),
              (19, 15, 1, 0.9767),
              (20, 3, 1, 1.0)
            ) AS t(probe_id, id, rank, score_r)
        """,
        "matcher_exact_search": """
            WITH nb AS (
              SELECT c_custkey,
                     regexp_replace(lower(c_name), '[^a-z0-9]+', '', 'g') AS nk
              FROM customer),
            pr AS (
              SELECT c_custkey AS probe_id,
                     regexp_replace(lower(
                       CASE WHEN c_custkey % 300 = 3 THEN c_name || 'zz'
                            WHEN c_custkey % 300 = 103
                              THEN substring(c_name, 1, length(c_name)-2)
                            ELSE c_name END),
                       '[^a-z0-9]+', '', 'g') AS pk
              FROM customer WHERE c_custkey % 100 = 3)
            SELECT probe_id, id, score, rank FROM (
              SELECT p.probe_id, b.c_custkey AS id, 1.0 AS score,
                     CAST(row_number() OVER (PARTITION BY p.probe_id
                                             ORDER BY b.c_custkey) AS INT) AS rank
              FROM pr p JOIN nb b
                ON p.pk = b.nk
                OR (length(b.nk) > 0 AND length(p.pk) > length(b.nk)
                    AND starts_with(p.pk, b.nk))
                OR (length(p.pk) > 0 AND length(b.nk) > length(p.pk)
                    AND starts_with(b.nk, p.pk)))
            WHERE rank <= 5
        """,
        "customer_nation_agg": """
            SELECT r_name, n_name, count(*) AS n_customers,
                   CAST(sum(CAST(c_acctbal AS DECIMAL(20,4))) AS DOUBLE)
                     AS sum_acctbal
            FROM customer c
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r_name, n_name
        """,
        "events_hourly": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                   event_type, count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "ann_topk": ann,
        "near_dup_pairs": f"""
            WITH t AS (
              SELECT doc_id, {_TOKS} AS toks FROM documents
            ), s AS (
              SELECT doc_id,
                CASE WHEN len(toks) >= 4
                     THEN list_distinct(list_transform(range(1, len(toks) - 2),
                              i -> array_to_string(toks[i:i+3], ' ')))
                     ELSE [array_to_string(toks, ' ')] END AS sh
              FROM t WHERE len(toks) > 0
            ), p AS (
              SELECT a.doc_id AS a, b.doc_id AS b,
                     len(list_intersect(a.sh, b.sh)) AS i,
                     len(a.sh) AS la, len(b.sh) AS lb
              FROM s a JOIN s b ON a.doc_id < b.doc_id
            )
            SELECT a, b, i / (la + lb - i) AS jaccard
            FROM p WHERE i / (la + lb - i) >= 0.8
        """,
        "suffix_array_pairs": """
            WITH g AS (
              SELECT doc_id, unnest(list_transform(range(1, length(text) - 58),
                             i -> text[i:i+59])) AS gram
              FROM documents WHERE length(text) >= 60
            )
            SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
            FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        """,
        "near_dup_clusters": _near_dup_clusters_sql(),
        "near_dup_keep_canonical": f"""
            WITH clusters AS ({_near_dup_clusters_sql()})
            SELECT cluster_id, canonical_id, cluster_size FROM (
              SELECT c.cluster_id, d.doc_id AS canonical_id,
                     CAST(count(*) OVER (PARTITION BY c.cluster_id) AS BIGINT)
                       AS cluster_size,
                     row_number() OVER (PARTITION BY c.cluster_id
                                        ORDER BY length(d.text) DESC, d.doc_id)
                       AS rn
              FROM clusters c JOIN documents d ON c.doc_id = d.doc_id)
            WHERE rn = 1
        """,
        "lev_pairs_clusters": """
            WITH RECURSIVE e AS (
              SELECT a.p_partkey AS u, b.p_partkey AS v
              FROM part a JOIN part b
                ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
              WHERE levenshtein(a.p_name, b.p_name) <= 3
            ), ed AS (SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e),
            reach(id, lbl) AS (
              SELECT u, u FROM ed
              UNION
              SELECT ed.v, reach.lbl FROM reach JOIN ed ON ed.u = reach.id
            )
            SELECT CAST(id AS BIGINT) AS id,
                   CAST(min(lbl) AS BIGINT) AS component
            FROM reach GROUP BY id
        """,
        "matcher_lev_search": """
            WITH nb AS (
              SELECT c_custkey,
                     regexp_replace(lower(c_name), '[^a-z0-9]+', '', 'g') AS nk
              FROM customer),
            pr AS (
              SELECT c_custkey AS probe_id,
                     regexp_replace(lower(substring(c_name, 1, length(c_name)-1)
                                          || 'x'),
                                    '[^a-z0-9]+', '', 'g') AS pk
              FROM customer WHERE c_custkey % 100 = 3),
            scored AS (
              SELECT p.probe_id, b.c_custkey AS id,
                     1.0 - levenshtein(p.pk, b.nk)
                           / greatest(length(p.pk), length(b.nk)) AS score
              FROM pr p CROSS JOIN nb b),
            ranked AS (
              SELECT probe_id, id, score,
                     CAST(row_number() OVER (PARTITION BY probe_id
                                             ORDER BY score DESC, id) AS INT)
                       AS rank
              FROM scored WHERE score >= 0.85)
            SELECT probe_id, id, score, rank FROM ranked WHERE rank <= 5
        """,
        "matcher_jw_search": """
            WITH nb AS (
              SELECT c_custkey,
                     regexp_replace(lower(c_name), '[^a-z0-9]+', '', 'g') AS nk
              FROM customer),
            pr AS (
              SELECT c_custkey AS probe_id,
                     regexp_replace(lower(substring(c_name, 1, length(c_name)-1)
                                          || 'x'),
                                    '[^a-z0-9]+', '', 'g') AS pk
              FROM customer WHERE c_custkey % 100 = 3),
            scored AS (
              SELECT p.probe_id, b.c_custkey AS id,
                     jaro_winkler_similarity(p.pk, b.nk) AS score
              FROM pr p CROSS JOIN nb b),
            ranked AS (
              SELECT probe_id, id, score,
                     CAST(row_number() OVER (PARTITION BY probe_id
                                             ORDER BY score DESC, id) AS INT)
                       AS rank
              FROM scored WHERE score >= 0.85)
            SELECT probe_id, id, score, rank FROM ranked WHERE rank <= 5
        """,
        # same exact-Jaccard >= 0.8 + exact-pairs + CC contract as the
        # MinHash flagship: the recursive-CTE clusters SQL is a full
        # oracle for the deterministic modular-sampling engine too — a
        # hash match here hard-proves its blocking recall
        "ngram_dup_clusters": _near_dup_clusters_sql(),
        # 'shares a >= 60-char substring' has an exact 60-gram
        # equi-join formulation — identical predicate to the
        # suffix-array twin, so both engines carry independent oracles
        "substring_pairs": """
            WITH g AS (
              SELECT doc_id, unnest(list_transform(range(1, length(text) - 58),
                             i -> text[i:i+59])) AS gram
              FROM documents WHERE length(text) >= 60
            )
            SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
            FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        """,
        "media_meta": """
            SELECT doc_id AS media_id, 'image' AS kind,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   source AS src
            FROM documents
        """,
        # word 13-grams mirror functions/shingles.py exactly: lower,
        # split on non-alphanumeric runs, drop empties, space-join;
        # docs shorter than 13 tokens contribute their whole token
        # string as one gram. A hash match proves the Spark side's
        # xxhash64 gram compression + bloom prefilter lose nothing.
        "contamination_hits": _DECON_GRAMS + """
            , bench AS (SELECT DISTINCT g FROM eg WHERE doc_id % 10 = 0)
            SELECT eg.doc_id, count(DISTINCT eg.g) AS n_hit_grams
            FROM eg JOIN bench USING (g)
            WHERE eg.doc_id % 10 <> 0
            GROUP BY eg.doc_id
        """,
        "decontaminated_keep": _DECON_GRAMS + """
            , bench AS (SELECT DISTINCT g FROM eg WHERE doc_id % 10 = 0)
            SELECT d.doc_id FROM documents d
            WHERE d.doc_id % 10 <> 0
              AND NOT EXISTS (
                SELECT 1 FROM eg JOIN bench USING (g)
                WHERE eg.doc_id = d.doc_id)
        """,
        # cross-corpus dedup: brute-force Jaccard restricted to
        # (even index) x (odd probe) pairs — same shingle grammar as
        # the near_dup_pairs oracle, so a hash match additionally
        # proves the asymmetric banding + id-remapped verify path
        "cross_dup_pairs": _CROSS_SHINGLES + """
            , p AS (
              SELECT a.doc_id AS index_id, b.doc_id AS probe_id,
                     len(list_intersect(a.sh, b.sh)) AS i,
                     len(a.sh) AS la, len(b.sh) AS lb
              FROM s a JOIN s b
                ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
            )
            SELECT index_id, probe_id, i / (la + lb - i) AS jaccard
            FROM p WHERE i / (la + lb - i) >= 0.8
        """,
        "cross_dedup_keep": _CROSS_SHINGLES + """
            , hit AS (
              SELECT DISTINCT b.doc_id
              FROM s a JOIN s b
                ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
              WHERE len(list_intersect(a.sh, b.sh))
                    / (len(a.sh) + len(b.sh)
                       - len(list_intersect(a.sh, b.sh))) >= 0.8
            )
            SELECT d.doc_id FROM documents d
            WHERE d.doc_id % 2 = 1
              AND NOT EXISTS (SELECT 1 FROM hit WHERE hit.doc_id = d.doc_id)
        """,
    }
