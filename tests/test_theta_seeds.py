"""Theta seeds: the dictionary's precomputed top_maxes column and the
global lower bound each plan carries (QueryPlan.theta_seed, set by
SearchEngine.plan_queries).

The seed contract is the safety property WAND's cross-partition pruning
rests on: seed(q) <= q's final k-th best score. These tests pin it
directly against the oracle, plus the gates that must disable it, and
check that single queries on both placements are seeded and still rank
as the oracle does.
"""

import datetime as dt
import shutil

import numpy as np
import pytest
from pyspark.sql import SparkSession  # noqa: F401

from marlin_spark.query.engine import SearchEngine

SEEDED_QUERIES = [("bi", False), ("ta de", False), ("lefu buku kifa", False),
                  ("bi lef", True)]


@pytest.fixture(scope="module")
def engine(spark, tiny_index):
    d, cfg, _ = tiny_index
    return SearchEngine(spark, d, cfg)


@pytest.fixture(scope="module")
def small_block_engine(spark, tiny_df, tmp_path_factory):
    """The tiny corpus in 4-doc blocks: its head terms have 10 or more
    blocks, so top_maxes can seed k = 10 (in tiny_index's 16-doc blocks
    no term has more than a handful)."""
    from marlin_spark.config import EngineConfig
    from marlin_spark.index.build import IndexBuilder

    d = str(tmp_path_factory.mktemp("small_blocks"))
    cfg = EngineConfig(block_size=4, range_size=64, n_term_buckets=8)
    IndexBuilder(spark, d, cfg).build(tiny_df, build_id="t0")
    return SearchEngine(spark, d, cfg)


def test_dictionary_has_top_maxes(engine):
    rows = engine._dictionary_lookup(["the"], []) or engine._dictionary_lookup(
        ["state"], []
    )
    assert rows, "dictionary lookup found nothing"
    tm = rows[0].get("top_maxes")
    assert tm, "top_maxes column missing from dictionary"
    # sorted descending, bounded at 16
    assert list(tm) == sorted(tm, reverse=True)
    assert len(tm) <= 16


@pytest.mark.parametrize("k", [1, 3, 10])
def test_seed_is_lower_bound_of_kth_best(engine, small_block_engine, tiny_oracle, k):
    """For every query: seed <= oracle's k-th best score (the exact
    statement partitions rely on to drop candidates)."""
    queries = {
        "q_the": "the",
        "q_multi": "state of the art",
        "q_two": "neural retrieval",
        "q_rare": "hyperparameter",
        "q_head": "bi",
        "q_mixed": "ta de worst",
    }
    for eng in (engine, small_block_engine):
        plans = eng.plan_queries(queries, k)
        for qid, q in queries.items():
            seed = plans[qid].theta_seed
            if seed is None:
                continue
            hits = tiny_oracle.search(q, k=k, mode="any")
            if len(hits) < k:
                # fewer than k matches: every match must survive seeding,
                # i.e. the seed may not exceed any true score
                for _, s in hits:
                    assert seed <= s + 1e-9, (qid, seed, s)
            else:
                kth = hits[k - 1][1]
                assert seed <= kth + 1e-9, (qid, seed, kth)
    assert small_block_engine.plan("bi", k).theta_seed is not None


def test_seed_gates(spark, engine, tiny_index, tmp_path, monkeypatch):
    # k=1: every matched term has >= 1 block, so a seed must exist
    assert engine.plan("the", 1).theta_seed is not None
    # conjunctive mode: a seed doc might fail the slot check
    assert engine.plan("the", 1, "all").theta_seed is None
    # tombstones present: block maxes may belong to deleted docs
    engine.deleted = np.array([0], dtype=np.int64)
    try:
        assert engine.plan("the", 1).theta_seed is None
    finally:
        engine.deleted = None
    # no top_maxes (pre-upgrade index layout)
    real = engine._dictionary_lookup
    monkeypatch.setattr(engine, "_dictionary_lookup", lambda terms, prefixes: [
        dict(r, top_maxes=None) for r in real(terms, prefixes)
    ])
    assert engine.plan("the", 1).theta_seed is None
    monkeypatch.undo()
    # a live delta segment: base block maxes may not hold under its avgdl
    from marlin_spark.streaming.incremental import IncrementalIndexer

    base_dir, cfg, _ = tiny_index
    d = str(tmp_path / "idx")
    shutil.copytree(base_dir, d)
    assert SearchEngine(spark, d, cfg).plan("the", 1).theta_seed is not None
    IncrementalIndexer(spark, d, cfg).process_batch(spark.createDataFrame(
        [("nrt-a", 0, "user", "the bi ta", None, dt.datetime(2025, 1, 1))],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    ), 0)
    assert SearchEngine(spark, d, cfg).plan("the", 1).theta_seed is None


@pytest.mark.parametrize("k", [1, 3, 10])
def test_single_queries_are_seeded_and_match_oracle(small_block_engine, tiny_oracle, k):
    """search_local and search plan single queries through the one
    planner, so both placements run seeded, and rank as the oracle."""
    eng = small_block_engine
    for q, prefix in SEEDED_QUERIES:
        assert eng.plan(q, k, "any", prefix).theta_seed is not None, (q, k)
        want = [
            (d, round(s, 9))
            for d, s in tiny_oracle.search(q, k=k, mode="any", prefix_last=prefix)
        ]
        local = [(d, round(s, 9)) for d, s in eng.search_local(q, k, "any", prefix)]
        on_spark = [
            (r["docid"], round(r["score"], 9))
            for r in eng.search(q, k, "any", prefix).collect()
        ]
        assert local == want, (q, k, "local")
        assert on_spark == want, (q, k, "spark")


def test_batched_wand_seeded_equals_oracle(engine, tiny_oracle):
    """End-to-end: search_many_wand (seeds active on this clean index)
    matches the oracle ranking for a mixed batch including duplicate
    term-sets (dedupe fan-out path)."""
    queries = {
        "a": "the",
        "b": "state of the art",
        "c": "art of state the",  # same term set as b -> deduped
        "d": "neural retrieval",
        "e": "the",  # duplicate of a
    }
    out = engine.search_many_wand(queries, k=5)
    got = {
        qid: [(r["docid"], round(r["score"], 6)) for r in rows]
        for qid, rows in _group(out.collect()).items()
    }
    for qid, q in queries.items():
        want = [
            (d, round(s, 6)) for d, s in tiny_oracle.search(q, k=5, mode="any")
        ]
        assert got.get(qid, []) == want, qid


def _group(rows):
    out = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append(r)
    for rs in out.values():
        rs.sort(key=lambda r: r["rank"])
    return out


def test_spark_fallback_lookup_caches_top_maxes(engine):
    """A prefix lookup caches each expansion's top_maxes, as an exact
    lookup does (both are the one pyarrow dictionary read): caching
    (df, None) would disable theta-seed pruning for any term that first
    entered the cache through a prefix."""
    engine._df_cache = {}
    rows = engine._dictionary_lookup([], ["the"])
    assert "the" in {r["term"] for r in rows}
    df, tm = engine._df_cache["the"]
    assert tm is not None and len(tm) >= 1 and tm[0] > 0.0


def test_df_cache_is_bounded(engine, monkeypatch):
    """Distinct unknown query terms cannot grow the term -> df cache past
    DF_CACHE_MAX; a lookup after it starts over answers as before."""
    from marlin_spark.query import engine as engine_mod

    want = engine._dictionary_lookup(["the", "neural"], [])
    monkeypatch.setattr(engine_mod, "DF_CACHE_MAX", 8)
    engine._df_cache = {}
    for i in range(50):
        assert engine._dictionary_lookup([f"zzunknown{i}"], []) == []
        assert len(engine._df_cache) <= 8
        assert engine._dictionary_lookup(["the", "neural"], []) == want
        assert len(engine._df_cache) <= 8
