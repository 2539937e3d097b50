"""Typo matching parity: levenshtein.robot goldens + engine vs oracle
(/root/reference/test/robot/levenshtein.robot:24-92; FIXTURES.md §3.3)."""

import datetime as dt

import pytest

from marlin_spark.config import EngineConfig
from marlin_spark.index.build import IndexBuilder
from marlin_spark.oracle.typo import expand_typo, maxdist, osa_distance
from marlin_spark.query.engine import SearchEngine

LEV_WORDS = [
    "test", "best", "atest", "testa", "tset", "etst",
    "tets", "tesg", "tset", "tast", "tegt",
]

GOLDENS = [  # (query, expected match count), all prefix mode
    ("btest", 4),
    ("atest", 3),
    ("ctest", 3),
    ("tes", 3),
    ("te", 5),
    ("t", 8),
]


def test_maxdist_rule():
    # dtrie.c:766-770
    assert maxdist(1) == maxdist(3) == 0
    assert maxdist(4) == maxdist(7) == 1
    assert maxdist(8) == maxdist(20) == 2


def test_osa_transposition_counts_one():
    assert osa_distance("tset", "test") == 1
    assert osa_distance("etst", "test") == 1  # et<->te transposition
    assert osa_distance("abc", "abc") == 0
    assert osa_distance("abc", "acb") == 1


@pytest.mark.parametrize("q,want", GOLDENS)
def test_oracle_matches_robot_goldens(q, want):
    ms = set(expand_typo(q, set(LEV_WORDS), prefix=True))
    assert sum(1 for t in LEV_WORDS if t in ms) == want


@pytest.fixture(scope="module")
def lev_index(spark, tmp_path_factory):
    rows = [
        {
            "conv_id": "lev", "turn_idx": i, "role": "user",
            "text": w, "tool": None,
            "ts": dt.datetime(2024, 1, 1, 0, 0, i),
        }
        for i, w in enumerate(LEV_WORDS)
    ]
    d = str(tmp_path_factory.mktemp("lev_idx"))
    cfg = EngineConfig(block_size=8, range_size=64, n_term_buckets=4)
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    df = spark.createDataFrame(
        [tuple(r[k] for k in ("conv_id", "turn_idx", "role", "text", "tool", "ts")) for r in rows],
        schema,
    )
    IndexBuilder(spark, d, cfg).build(df, "lv")
    return SearchEngine(spark, d, cfg)


@pytest.mark.parametrize("q,want", GOLDENS)
def test_engine_typo_match_counts(lev_index, q, want):
    assert lev_index.typo_match(q, prefix_last=True).count() == want


def test_engine_typo_exact_mode(lev_index):
    # without prefix: 'tes' (maxdist 0) matches nothing exactly
    assert lev_index.typo_match("tes", prefix_last=False).count() == 0
    # 'btest' dist<=1 non-prefix: test, best, atest
    assert lev_index.typo_match("btest", prefix_last=False).count() == 3


# ---------------------------------------------------------------- round 2
def test_vectorized_osa_matches_scalar_oracle():
    """osa_match_batch (numpy DP over a batch) == term_matches (scalar
    oracle) over randomized strings, both modes, all maxdists."""
    import random

    import numpy as np

    from marlin_spark.oracle.typo import term_matches
    from marlin_spark.query.typo_vec import osa_match_batch

    rng = random.Random(13)
    alphabet = "abcdef"
    vocab = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 12)))
        for _ in range(400)
    ]
    arr = np.array(vocab, dtype=object)
    for q in ["ab", "abc", "abcd", "fedcba", "aabbcc", "abcdefab", "a"]:
        for d in (0, 1, 2):
            for prefix in (False, True):
                got = osa_match_batch(q, arr, prefix, d)
                want = np.array(
                    [term_matches(q, t, prefix, d) for t in vocab], dtype=bool
                )
                assert (got == want).all(), (q, d, prefix)


def _expand(oracle, word, prefix):
    return set(expand_typo(word, set(oracle.postings), prefix=prefix))


def _typo_engine(spark, tiny_index, local_bytes):
    """An engine over the tiny index; local_bytes=0 sends every typo
    expansion that scans an fc partition to the distributed fallback."""
    d, cfg, _ = tiny_index
    if local_bytes is not None:
        cfg = cfg.with_(typo_local_bytes=local_bytes)
    eng = SearchEngine(spark, d, cfg)
    on_spark = eng._typo_scan_terms([("worst", False, 1)])[0] is None
    assert on_spark == (local_bytes == 0)
    return eng


@pytest.mark.parametrize("local_bytes", [None, 0], ids=["driver", "spark"])
def test_multi_word_typo_is_and_of_expansions(spark, tiny_index, tiny_oracle, local_bytes):
    """Reference semantics: every word typo-expands and the match set is
    the AND of per-word expansion ORs (squery.c:72-142,159-166)."""
    eng = _typo_engine(spark, tiny_index, local_bytes)
    for q, words in [("worst tes", ["worst", "tes"]), ("this bets", ["this", "bets"])]:
        want = None
        for i, w in enumerate(words):
            exp = _expand(tiny_oracle, w, prefix=(i == len(words) - 1))
            docs = set()
            for t in exp:
                docs |= set(tiny_oracle.postings.get(t, {}))
            want = docs if want is None else (want & docs)
        got = {r["docid"] for r in eng.typo_match(q, prefix_last=True).collect()}
        assert got == want, q


@pytest.mark.parametrize("local_bytes", [None, 0], ids=["driver", "spark"])
def test_match_marlin_typos_expands_generated_terms(spark, tiny_index, tiny_oracle, local_bytes):
    """typos=True expands every generated term (words, neighbor concats,
    full concatenation) before the same boolean combine."""
    from marlin_spark.oracle.tokenizer import analyze

    eng = _typo_engine(spark, tiny_index, local_bytes)

    def expected(q, prefix_last=True):
        words = [t for t, _ in analyze(q, "marlin", mode="search")]
        if len(words) == 1:
            exp = _expand(tiny_oracle, words[0], prefix_last)
            return {doc for t in exp for doc in tiny_oracle.postings.get(t, {})}
        terms = []
        for i, w in enumerate(words):
            terms.append(w)
            if i + 1 < len(words):
                terms.append(w + words[i + 1])
        combined = "".join(words)
        nterms = len(terms)
        result = None
        for i in range(len(words)):
            grp = set()
            for j in (2 * i - 1, 2 * i, 2 * i + 1):
                if 0 <= j < nterms:
                    pf = prefix_last and j == nterms - 1
                    for t in _expand(tiny_oracle, terms[j], pf):
                        grp |= set(tiny_oracle.postings.get(t, {}))
            result = grp if result is None else (result & grp)
        for t in _expand(tiny_oracle, combined, prefix_last):
            result |= set(tiny_oracle.postings.get(t, {}))
        return result

    for q in ["tset", "aaaa bbbb", "worst bets"]:
        got = {
            r["docid"]
            for r in eng.match_marlin(q, prefix_last=True, typos=True).collect()
        }
        assert got == expected(q), q


def test_ranked_typos_feature_same_on_spark_fallback(spark, tiny_index):
    """The rank cascade's typos feature is the expansion's OSA distance,
    whether the driver or the distributed fallback computes it."""
    rows = {}
    for local_bytes in (None, 0):
        eng = _typo_engine(spark, tiny_index, local_bytes)
        out = eng.search_ranked("worst bets", k=10_000, explain=True)
        rows[local_bytes] = sorted((r["docid"], r["typos"]) for r in out.collect())
    assert rows[None] and any(t for _d, t in rows[None])
    assert rows[0] == rows[None]


def test_typo_dictionary_scan_is_pruned_before_udf(lev_index):
    """Fuzzy expansion must NOT scan the whole dictionary (round-2
    verdict item #1): the pruned filter scans only the fc partitions of
    the word's front chars (+ oth) and covers the rest with exact/range
    candidates; the driver-local path answers without a Spark job."""
    eng = lev_index
    got = eng._typo_expand_words([("btest", False, 1)])
    assert sorted(got[0]) == ["atest", "best", "test"]
    flt = eng._last_fuzzy_filter
    # scanned partitions: first chars b, t + the oth safety partition
    assert flt.partitions == {"b", "t", "oth"}
    # wild-front candidates cover substitution/insertion at position 0
    assert "ctest" in flt.exact and "cbtest" in flt.exact


def test_fuzzy_filter_is_exact_superset():
    """Property: for random (word, prefix, maxdist) specs over a random
    vocabulary, EVERY oracle-matching term is admitted by the pruned
    filter (partition scan | exact candidate | prefix range) — the
    condition under which pruning can never change results."""
    import random

    from marlin_spark.oracle.typo import term_matches
    from marlin_spark.query.fuzzy import spec_filter, term_fc_py

    rng = random.Random(99)
    alphabet = "abcdxy_0é"
    vocab = {
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 12)))
        for _ in range(3000)
    }
    words = ["abcd", "dcba", "xaycd", "abcdxy0a", "ab_d0xya", "a", "abc"]
    for w in words:
        for prefix in (False, True):
            d = maxdist(len(w))
            f = spec_filter(w, prefix, d)
            for t in vocab:
                if not term_matches(w, t, prefix, d):
                    continue
                admitted = (
                    term_fc_py(t) in f.partitions
                    or t in f.exact
                    or any(t.startswith(r) for r in f.ranges)
                )
                assert admitted, (w, t, prefix, d)
