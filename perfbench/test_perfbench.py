"""Tests of the benchmark's own generator, output checks and tracing
helpers (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

import json
import re

import numpy as np

import checks
import corpus
import tracing


def _shingles(tokens, n=5):
    return {tuple(tokens[i : i + n]) for i in range(len(tokens) - n + 1)}


def _jaccard(a, b) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


def _text_tokens(text: str) -> list[str]:
    return text.split(" ")


# --- corpus -------------------------------------------------------------------


def test_same_seed_same_corpus():
    a, b = corpus.generate(7, 800), corpus.generate(7, 800)
    assert a.table.equals(b.table)
    np.testing.assert_array_equal(a.family, b.family)


def test_different_seeds_differ():
    a, b = corpus.generate(7, 800), corpus.generate(8, 800)
    assert not a.table["text"].equals(b.table["text"])


def test_shape_and_ground_truth_stay_outside_the_table():
    c = corpus.generate(3, 1200)
    assert len(c) == 1200
    assert list(c.table.columns) == ["url", "text"]
    assert c.table["url"].is_unique
    kinds = {c.kind[f] for f in c.family}
    assert kinds == {"single", "exact", "trunc", "edit", "template"}
    sizes = np.bincount(c.family)
    template_sizes = [sizes[f] for f, k in enumerate(c.kind) if k == "template"]
    # larger than the engine's band-bucket cap (DedupConfig.max_band_bucket)
    assert template_sizes and min(template_sizes) > 64


def test_text_is_lowercase_words_matching_tokens():
    c = corpus.generate(5, 300)
    for text, toks in zip(c.table["text"][:50], c.tokens[:50]):
        words = _text_tokens(text)
        assert len(words) == len(toks)
        assert all(re.fullmatch(r"[a-z]{2,10}", w) for w in words)


def test_planted_pairs_are_near_duplicates():
    c = corpus.generate(11, 2000)
    texts = [_text_tokens(t) for t in c.table["text"]]
    worst = 1.0
    for fam in np.unique(c.family)[:400]:
        members = np.flatnonzero(c.family == fam)[:20]
        for i in members:
            for j in members:
                if i < j:
                    worst = min(worst, _jaccard(texts[i], texts[j]))
    assert worst >= 0.84  # engine threshold is 0.8


def test_distinct_families_share_almost_nothing():
    c = corpus.generate(12, 2000)
    texts = [_text_tokens(t) for t in c.table["text"]]
    rng = np.random.default_rng(0)
    worst = 0.0
    for _ in range(300):
        i, j = rng.integers(0, len(texts), 2)
        if c.family[i] != c.family[j]:
            worst = max(worst, _jaccard(texts[i], texts[j]))
    assert worst < 0.1


# Spark SQL ``SELECT xxhash64('<value>')`` (seed 42), one value per
# branch of the algorithm: < 4 bytes tail, 8-byte lanes, a 4-byte tail,
# and the 32-byte stripe loop
SPARK_XXHASH64 = {
    "spark": -1960931134668248110,
    "abcdefgh": 2470326616177429180,
    "abcdefghijkl": 3897903351825168219,
    "https://site7.example/p/3/0001234.html": -3656912622986248425,
}


def test_xxhash64_matches_spark():
    assert corpus.xxhash64(b"", seed=0) == 0xEF46DB3751D8E999 - (1 << 64)
    for value, expected in SPARK_XXHASH64.items():
        assert corpus.xxhash64(value.encode()) == expected


def test_url_ids_are_unique():
    c = corpus.generate(4, 3000)
    ids = corpus.url_ids(c.table["url"])
    assert len(np.unique(ids)) == len(ids)


# --- checks -------------------------------------------------------------------


KINDS = ["template", "exact", "single"]


def _truth():
    ids = np.array([10, 11, 12, 20, 21, 30], dtype=np.int64)
    fam = np.array([0, 0, 0, 1, 1, 2], dtype=np.int64)
    return ids, fam


def test_perfect_clustering_passes():
    ids, fam = _truth()
    r = checks.check_clusters(ids, np.array([10, 10, 10, 20, 20, 30]), ids, fam, KINDS)
    assert r.ok and r.recall == 1.0 and r.planted_pairs == 4
    assert r.recall_by_kind == {"template": 1.0, "exact": 1.0}


def test_merged_families_fail():
    ids, fam = _truth()
    r = checks.check_clusters(ids, np.array([10, 10, 10, 10, 10, 30]), ids, fam, KINDS)
    assert not r.ok and r.cross_family_clusters == 1


def test_split_family_lowers_recall():
    ids, fam = _truth()
    r = checks.check_clusters(ids, np.array([10, 10, 12, 20, 20, 30]), ids, fam, KINDS)
    assert r.recall_by_kind["template"] == 1 / 3 and r.recall == 1 / 3 and not r.ok


def test_split_small_families_fail_beside_whole_templates():
    # one 150-page template family (11,175 pairs) kept whole, and 100
    # two-member exact families of which 60 are split: 99.5% of the
    # planted pairs are recovered, but most small families are lost
    n_tpl, n_small, n_split = 150, 100, 60
    ids = np.arange(n_tpl + 2 * n_small, dtype=np.int64)
    fam = np.concatenate([np.zeros(n_tpl), 1 + np.arange(2 * n_small) // 2]).astype(np.int64)
    kinds = ["template"] + ["exact"] * n_small
    clus = np.where(fam == 0, 0, fam * 10).astype(np.int64)
    split = np.flatnonzero(fam > 0)[1::2][:n_split]
    clus[split] += 1
    r = checks.check_clusters(ids, clus, ids, fam, kinds)
    assert r.recall_by_kind == {"template": 1.0, "exact": 0.4}
    assert r.recall == 0.4 and not r.ok
    assert any("exact recall" in p for p in r.problems)


def test_missing_and_unknown_rows_fail():
    ids, fam = _truth()
    r = checks.check_clusters(ids[:-1], np.array([10, 10, 10, 20, 20]), ids, fam, KINDS)
    assert not r.ok
    bad = ids.copy()
    bad[-1] = 99
    r = checks.check_clusters(bad, np.array([10, 10, 10, 20, 20, 99]), ids, fam, KINDS)
    assert not r.ok


def test_components_from_pairs():
    ids = np.array([5, 3, 9, 7], dtype=np.int64)
    got = checks.components(ids, np.array([[9, 3], [7, 9]], dtype=np.int64))
    np.testing.assert_array_equal(got, [5, 3, 3, 3])


# --- tracing helpers ----------------------------------------------------------


def test_union_length_merges_overlaps():
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing.union_length([]) == 0
    assert tracing.clip([(0, 10), (12, 13)], 2, 5) == [(2, 5)]


def test_program_frame_names_modules_in_tree_and_zip():
    assert (
        tracing.program_frame("/x/fuzzy_matcher_spark/operators/pairs.py")
        == "operators.pairs"
    )
    assert (
        tracing.program_frame("/r/fms.zip/fuzzy_matcher_spark/sources/tableio.py")
        == "sources.tableio"
    )
    assert tracing.program_frame("/x/perfbench/run.py") is None


def test_stack_at_prefers_deepest_stack_inside_the_job():
    a = (("plans.pipeline", "run"),)
    b = a + (("sources.tableio", "write"),)
    samples = [(1.0, a), (2.0, b), (3.0, a)]
    assert tracing.stack_at(samples, 1.5, 3.5) == b
    assert tracing.stack_at(samples, 3.5, 4.0) == a  # none inside: last before


def test_layer_table_counts_a_shared_stage_once():
    stages = {
        1: {"tasks": 4, "task_s": 2.0, "durations": [1], "completed": 1},
        2: {"tasks": 2, "task_s": 1.0, "durations": [1], "completed": 1},
        3: {"tasks": 9, "task_s": 9.0, "durations": [1]},  # never ran
    }
    jobs = [
        {"module": "a", "start": 0.0, "end": 1.0, "stages": [1, 2]},
        {"module": "b", "start": 1.0, "end": 2.0, "stages": [2, 3]},
    ]
    rows = tracing.layer_table(jobs, stages)
    assert rows["a"]["tasks"] == 6 and rows["a"]["stages"] == 2
    assert rows["b"]["tasks"] == 0 and rows["b"]["jobs"] == 1


def _levenshtein(a: str, b: str) -> int:
    row = list(range(len(b) + 1))
    for i, x in enumerate(a, 1):
        prev, row[0] = row[0], i
        for j, y in enumerate(b, 1):
            prev, row[j] = row[j], min(row[j] + 1, row[j - 1] + 1, prev + (x != y))
    return row[-1]


def test_name_pairs_are_seeded_and_within_the_edit_budget():
    a, b = corpus.name_pairs(5, 200), corpus.name_pairs(5, 200)
    assert a == b and corpus.name_pairs(6, 200) != a
    probes, stored = a
    assert all(re.fullmatch(r"[a-z]{3,12}", s) for s in stored)
    assert max(_levenshtein(p, s) for p, s in zip(probes, stored)) <= 2


def _log_lines(job: int, stage: int, t: float) -> list[dict]:
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job, "Submission Time": t * 1e3,
         "Stage IDs": [stage], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
         "Task Info": {"Launch Time": t * 1e3, "Finish Time": t * 1e3 + 500},
         "Task Metrics": {"Executor Run Time": 500}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": stage}},
        {"Event": "SparkListenerJobEnd", "Job ID": job, "Completion Time": t * 1e3 + 600},
    ]


def test_event_logs_of_one_application_merge(tmp_path):
    paths = []
    for i, (job, stage, t) in enumerate([(3, 7, 20.0), (1, 2, 10.0)]):
        p = tmp_path / f"op{i}"
        p.write_text("\n".join(json.dumps(e) for e in _log_lines(job, stage, t)))
        paths.append(str(p))
    log = tracing.parse_event_logs(paths)
    assert [j["id"] for j in log["jobs"]] == [1, 3]
    assert log["jobs"][0]["end"] == 10.6 and log["app_start"] is None
    assert set(log["stages"]) == {2, 7} and log["stages"][7]["task_s"] == 0.5
