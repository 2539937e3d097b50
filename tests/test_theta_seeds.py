"""Theta seeds: the dictionary's precomputed top_maxes column and the
global lower bounds derived from it (engine._theta_seeds).

The seed contract is the safety property batched WAND's cross-partition
pruning rests on: seed(q) <= q's final k-th best score. These tests pin
it directly against the oracle, plus the gates that must disable it.
"""

import pytest
from pyspark.sql import SparkSession  # noqa: F401

from marlin_spark.query.engine import SearchEngine


@pytest.fixture(scope="module")
def engine(spark, tiny_index):
    d, cfg, _ = tiny_index
    return SearchEngine(spark, d, cfg)


def _metas(engine, queries, k):
    per_q = {qid: engine.analyze_query(q) for qid, q in queries.items()}
    all_terms = sorted({t for ts in per_q.values() for t in ts})
    rows = engine._dictionary_lookup(all_terms, [])
    df_map = {r["term"]: r["df"] for r in rows}
    kth_of = {
        r["term"]: r["top_maxes"][k - 1]
        for r in rows
        if r.get("top_maxes") and len(r["top_maxes"]) >= k
    }
    metas = {}
    for qid, terms in per_q.items():
        m = {
            t: (engine.idf(df_map[t]), s)
            for s, t in enumerate(terms)
            if t in df_map
        }
        if m:
            metas[qid] = m
    return metas, kth_of


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
def test_seed_is_lower_bound_of_kth_best(engine, tiny_oracle, k):
    """For every query: seed <= oracle's k-th best score (the exact
    statement partitions rely on to drop candidates)."""
    queries = {
        "q_the": "the",
        "q_multi": "state of the art",
        "q_two": "neural retrieval",
        "q_rare": "hyperparameter",
    }
    metas, kth_of = _metas(engine, queries, k)
    seeds = engine._theta_seeds(metas, k, kth_of, "any") or {}
    for qid, q in queries.items():
        if qid not in seeds:
            continue
        hits = tiny_oracle.search(q, k=k, mode="any")
        if len(hits) < k:
            # fewer than k matches: every match must survive seeding,
            # i.e. the seed may not exceed any true score
            for _, s in hits:
                assert seeds[qid] <= s + 1e-9, (qid, seeds[qid], s)
        else:
            kth = hits[k - 1][1]
            assert seeds[qid] <= kth + 1e-9, (qid, seeds[qid], kth)


def test_seed_gates(engine):
    # k=1: every matched term has >= 1 block, so a seed must exist
    metas, kth_of = _metas(engine, {"q": "the"}, 1)
    assert engine._theta_seeds(metas, 1, kth_of, "any")
    # conjunctive mode: a seed doc might fail the slot check
    assert engine._theta_seeds(metas, 1, kth_of, "all") is None
    # no top_maxes (pre-upgrade index layout)
    assert engine._theta_seeds(metas, 1, {}, "any") is None
    # tombstones present: block maxes may belong to deleted docs
    import numpy as np

    engine.deleted = np.array([0], dtype=np.int64)
    try:
        assert engine._theta_seeds(metas, 1, kth_of, "any") is None
    finally:
        engine.deleted = None


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
