"""Top-k BM25 rank-identity: Spark engine (exact AND WAND paths) vs the
single-process oracle, over the reference query set (FIXTURES.md §4)."""

import pytest
from pyspark.sql import functions as F

from marlin_spark.query.engine import SearchEngine

QUERIES = [
    "",                       # 1. empty = match-all
    "test",                   # 2. single exact term
    "worst",                  # 3. rare term
    "aaaa bbbb",              # 6. two-word
    "this best worst",        # 7. three-word
    "state-of-the-art",       # hyphen analyzer path
    "U.S.A.",                 # abbreviation path
    "don't stop",
    "zzzz-not-in-corpus",
]


@pytest.fixture(scope="module")
def engine(spark, tiny_index):
    d, cfg, _ = tiny_index
    return SearchEngine(spark, d, cfg)


def _oracle_ranks(tiny_oracle, q, k=10, mode="any", prefix=False):
    return [
        (d, round(s, 6))
        for d, s in tiny_oracle.search(q, k=k, mode=mode, prefix_last=prefix)
    ]


def _spark_ranks(engine, q, k=10, mode="any", prefix=False, wand=True):
    rows = engine.search(
        q, k=k, mode=mode, prefix_last=prefix, use_wand=wand
    ).collect()
    return [(r["docid"], round(r["score"], 6)) for r in rows]


@pytest.mark.parametrize("q", QUERIES)
def test_rank_identity_exact_path(engine, tiny_oracle, q):
    assert _spark_ranks(engine, q, wand=False) == _oracle_ranks(tiny_oracle, q)


@pytest.mark.parametrize("q", QUERIES)
def test_rank_identity_wand_path(engine, tiny_oracle, q):
    assert _spark_ranks(engine, q, wand=True) == _oracle_ranks(tiny_oracle, q)


@pytest.mark.parametrize("q", ["this best", "aaaa bbbb cccc", "best worst"])
def test_rank_identity_mode_all(engine, tiny_oracle, q):
    for wand in (False, True):
        assert _spark_ranks(engine, q, mode="all", wand=wand) == _oracle_ranks(
            tiny_oracle, q, mode="all"
        )


PREFIX_QUERIES = ["tes", "aaa", "stat", "th", "worst tes", "this aaa"]


@pytest.mark.parametrize("q", PREFIX_QUERIES)
def test_rank_identity_prefix_last(engine, tiny_oracle, q):
    """Exact, WAND and driver-local paths, disjunctive and conjunctive.
    Under mode='all' every expansion of the typed-last word shares that
    word's slot, so a doc must be counted by distinct slots, not by the
    number of matching terms."""
    for mode in ("any", "all"):
        want = _oracle_ranks(tiny_oracle, q, mode=mode, prefix=True)
        for wand in (False, True):
            got = _spark_ranks(engine, q, mode=mode, prefix=True, wand=wand)
            assert got == want, (mode, wand)
        local = [
            (d, round(s, 6))
            for d, s in engine.search_local(q, k=10, mode=mode, prefix_last=True)
        ]
        assert local == want, (mode, "local")


def test_prefix_last_queries_share_a_slot(engine):
    """The prefix queries above exercise slot sharing: some multi-word
    plan maps two or more terms to one slot."""
    shared = []
    for q in PREFIX_QUERIES:
        plan = engine.plan(q, prefix_last=True)
        slots = [s for _idf, slot_set in plan.term_meta.values() for s in slot_set]
        if plan.n_slots > 1 and len(set(slots)) < len(slots):
            shared.append(q)
    assert shared


def test_prefix_expansion_that_is_also_a_query_word(engine, tiny_oracle):
    """'worst wor' in mode='all': 'worst' is both a query word and a wor*
    expansion, so a doc holding only 'worst' satisfies both words."""
    q = "worst wor"
    want = _oracle_ranks(tiny_oracle, q, mode="all", prefix=True)
    assert want
    for wand in (False, True):
        assert _spark_ranks(engine, q, mode="all", prefix=True, wand=wand) == want
    local = [
        (d, round(s, 6))
        for d, s in engine.search_local(q, k=10, mode="all", prefix_last=True)
    ]
    assert local == want


def test_prefix_applies_to_typed_last_word(engine, tiny_oracle):
    """PREFIX_LAST targets the last word in QUERY order even when it sorts
    first alphabetically (reference: query.c generate_query_terms applies
    the prefix at i == num_words-1, not after sorting)."""
    # 'worst tes': typed-last 'tes' sorts before 'worst'. The expansion
    # must cover tes* terms (test/tesg/testa/...) — under the old bug the
    # prefix landed on 'worst' and every tes*-only doc was missed.
    tes_docs = {
        d
        for t, plist in tiny_oracle.postings.items()
        if t.startswith("tes")
        for d in plist
    }
    worst_docs = set(tiny_oracle.postings.get("worst", {}))
    want = tes_docs | worst_docs
    got_oracle = {
        d for d, _ in tiny_oracle.search("worst tes", k=10_000, prefix_last=True)
    }
    assert got_oracle == want
    assert tes_docs - worst_docs  # the expansion really adds docs
    got_spark = {
        r["docid"]
        for r in engine.search(
            "worst tes", k=10_000, prefix_last=True, use_wand=False
        ).collect()
    }
    assert got_spark == got_oracle


def test_topk_sweep(engine, tiny_oracle):
    for k in (1, 5, 50, 200):
        assert _spark_ranks(engine, "this", k=k) == _oracle_ranks(
            tiny_oracle, "this", k=k
        )


def test_head_term_wand_equals_exact(engine, tiny_oracle):
    # max-df Zipf head term: WAND stress (FIXTURES.md §4 item 8)
    head = max(tiny_oracle.postings, key=lambda t: len(tiny_oracle.postings[t]))
    assert _spark_ranks(engine, head, wand=True) == _oracle_ranks(
        tiny_oracle, head
    )


def test_hydrate_returns_turn_text(engine, tiny_oracle, tiny_rows):
    hits = engine.search("worst", k=3, use_wand=False)
    rows = engine.hydrate(hits).collect()
    assert rows
    by_key = {(r["conv_id"], r["turn_idx"]): r["text"] for r in rows}
    originals = {(r["conv_id"], r["turn_idx"]): r["text"] for r in tiny_rows}
    for key, text in by_key.items():
        assert originals[key] == text  # per-turn text equality invariant


def test_search_many_matches_single(engine, tiny_oracle):
    qs = {"q1": "test", "q2": "worst best", "q3": "aaaa bbbb cccc"}
    out = engine.search_many(qs, k=10)
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["docid"], round(r["score"], 6)))
    for qid, q in qs.items():
        expect = [
            (i + 1, d, s) for i, (d, s) in enumerate(_oracle_ranks(tiny_oracle, q))
        ]
        assert sorted(got.get(qid, [])) == expect, qid


def test_search_many_wand_matches_exact(engine, tiny_oracle):
    qs = {
        "q1": "test",
        "q2": "worst best",
        "q3": "aaaa bbbb cccc",
        "q4": "this",
        "q5": "zzznope",
    }
    wand = engine.search_many_wand(qs, k=10)
    got = {}
    for r in wand.collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["docid"], round(r["score"], 6))
        )
    for qid, q in qs.items():
        expect = [
            (i + 1, d, s)
            for i, (d, s) in enumerate(_oracle_ranks(tiny_oracle, q))
        ]
        assert sorted(got.get(qid, [])) == expect, qid


def test_search_many_wand_mode_all(engine, tiny_oracle):
    qs = {"a": "this best", "b": "aaaa bbbb"}
    out = engine.search_many_wand(qs, k=10, mode="all")
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], []).append((r["docid"], round(r["score"], 6)))
    for qid, q in qs.items():
        want = _oracle_ranks(tiny_oracle, q, mode="all")
        assert sorted(got.get(qid, [])) == sorted(want), qid


def test_search_many_wand_mode_all_over_64_terms(spark, tmp_path):
    """A conjunctive query with >64 distinct terms must still match: the
    former uint64 slot bitmask aliased slots >= 64 (1 << (slot & 63)),
    so coverage could never reach n_slots and long conjunctive queries
    silently returned zero rows."""
    from marlin_spark.config import EngineConfig
    from marlin_spark.index.build import IndexBuilder
    from marlin_spark.query.engine import SearchEngine

    words = [f"w{i:03d}xq" for i in range(70)]
    rows = [
        ("c0", 0, "user", " ".join(words), None),
        ("c0", 1, "assistant", " ".join(words[:40]), None),  # partial: no match
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    )
    d = str(tmp_path / "idx70")
    cfg = EngineConfig(block_size=16, range_size=64, n_term_buckets=8)
    IndexBuilder(spark, d, cfg).build(df, build_id="t70")
    eng = SearchEngine(spark, d, cfg)
    out = eng.search_many_wand({"q": " ".join(words)}, k=5, mode="all").collect()
    assert [r["docid"] for r in out] == [1], out


def test_local_fast_path_rank_identical(engine, tiny_oracle):
    import time

    for q in ["test", "worst best", "state-of-the-art", "this"]:
        want = _oracle_ranks(tiny_oracle, q)
        got = [
            (d, round(s, 6)) for d, s in engine.search_local(q, k=10)
        ]
        assert got == want, q
    # search_local vs the Spark plan of search()
    for q in ["test", "aaaa bbbb"]:
        got = _spark_ranks(engine, q)  # distributed
        got_local = [(d, round(s, 6)) for d, s in engine.search_local(q, k=10)]
        assert got_local == got, q
    # latency: driver-local answers are sub-50ms after warmup
    engine.search_local("test", k=10)
    t0 = time.time()
    for _ in range(10):
        engine.search_local("worst best", k=10)
    per_q = (time.time() - t0) / 10
    assert per_q < 0.25, per_q


def test_local_fast_path_modes(engine, tiny_oracle):
    got = [
        (d, round(s, 6))
        for d, s in engine.search_local("this best", k=10, mode="all")
    ]
    assert got == _oracle_ranks(tiny_oracle, "this best", mode="all")
    got = [
        (d, round(s, 6))
        for d, s in engine.search_local("tes", k=10, prefix_last=True)
    ]
    assert got == _oracle_ranks(tiny_oracle, "tes", prefix=True)


class _Count:
    def __init__(self):
        self.value = 0

    def add(self, n):
        self.value += n


def test_wand_counters_cover_every_range(spark, tiny_df, tiny_oracle, tmp_path):
    """make_wand_scorer's counters (read by the range-skip ratio): a
    small-k head-term query skips ranges, and every range of its blocks
    is counted once, skipped or scored. Ranges of 8 docs give the head
    term ~10 ranges to prune."""
    from marlin_spark.config import EngineConfig
    from marlin_spark.index.build import IndexBuilder
    from marlin_spark.query.engine import KERNEL_COLS
    from marlin_spark.query.wand import make_wand_scorer

    d = str(tmp_path / "idx_r8")
    cfg = EngineConfig(block_size=4, range_size=8, n_term_buckets=4)
    IndexBuilder(spark, d, cfg).build(tiny_df, build_id="r8")
    eng = SearchEngine(spark, d, cfg)
    head = max(tiny_oracle.postings, key=lambda t: len(tiny_oracle.postings[t]))
    plan = eng.plan(head, k=1)
    blocks = (
        eng.cat.read(spark, "postings")
        .filter(F.col("term") == head)
        .select(*KERNEL_COLS)
        .toPandas()
    )
    acc = {"ranges_skipped": _Count(), "ranges_scored": _Count()}
    scorer = make_wand_scorer(
        plan.term_meta, plan.k, plan.n_slots, plan.mode, eng.cfg.k1,
        eng.cfg.b, eng.avgdl, acc, deleted=eng.deleted,
    )
    out = next(scorer(iter([blocks])))
    assert list(out.columns) == ["docid", "score"]
    got = [(int(d), round(float(s), 6)) for d, s in zip(out["docid"], out["score"])]
    assert got == _oracle_ranks(tiny_oracle, head, k=1)
    skipped, scored = acc["ranges_skipped"].value, acc["ranges_scored"].value
    assert skipped > 0
    assert skipped + scored == blocks["range_id"].nunique()
