"""Filters, facets, metric aggs, highlight — marlin-parity features
(SURVEY.md §2.4/§2.5, FIXTURES.md §3.4)."""

import pytest
from pyspark.sql import functions as F

from marlin_spark.index.catalog import IndexCatalog
from marlin_spark.query.aggs import doc_size_stats, facet_counts, metric_aggs
from marlin_spark.query.engine import SearchEngine
from marlin_spark.query.filters import filter_to_column
from marlin_spark.query.highlight import highlight_text, snippet


@pytest.fixture(scope="module")
def engine(spark, tiny_index):
    d, cfg, _ = tiny_index
    return SearchEngine(spark, d, cfg)


@pytest.fixture(scope="module")
def docs(spark, tiny_index):
    d, _, _ = tiny_index
    return IndexCatalog(d).read(spark, "docs")


def _pydocs(tiny_rows):
    ordered = sorted(tiny_rows, key=lambda r: (r["conv_id"], r["turn_idx"]))
    return [dict(r, docid=i + 1) for i, r in enumerate(ordered)]


# ---------------------------------------------------------------- filters
@pytest.mark.parametrize(
    "tree,pred",
    [
        ({"role": "user"}, lambda r: r["role"] == "user"),
        ({"role": {"$eq": "tool"}}, lambda r: r["role"] == "tool"),
        ({"role": {"$ne": "user"}}, lambda r: r["role"] != "user"),
        ({"role": {"$in": ["user", "tool"]}}, lambda r: r["role"] in ("user", "tool")),
        # $ne/$nin match docs where the field is NULL (reference bitmap
        # complement semantics, filter_apply.c:77-86)
        ({"tool": {"$ne": "search"}}, lambda r: r["tool"] != "search"),
        ({"tool": {"$nin": ["search", "python"]}}, lambda r: r["tool"] not in ("search", "python")),
        ({"turn_idx": {"$gt": 2}}, lambda r: r["turn_idx"] > 2),
        ({"turn_idx": {"$gte": 2, "$lt": 5}}, lambda r: 2 <= r["turn_idx"] < 5),
        ({"$and": [{"role": "user"}, {"turn_idx": {"$lte": 1}}]},
         lambda r: r["role"] == "user" and r["turn_idx"] <= 1),
        ({"$or": [{"role": "system"}, {"tool": "search"}]},
         lambda r: r["role"] == "system" or r["tool"] == "search"),
        ({"$nin": [{"role": "system"}, {"tool": "search"}]},
         lambda r: not (r["role"] == "system" or r["tool"] == "search")),
        ({"role": "user", "turn_idx": 0},
         lambda r: r["role"] == "user" and r["turn_idx"] == 0),
    ],
)
def test_filter_matches_python_semantics(docs, tiny_rows, tree, pred):
    got = {r["docid"] for r in docs.filter(filter_to_column(tree)).select("docid").collect()}
    want = {r["docid"] for r in _pydocs(tiny_rows) if pred(r)}
    assert got == want, tree


def test_filter_validation():
    with pytest.raises(ValueError):
        filter_to_column({"$bogus": 1})
    with pytest.raises(ValueError):
        filter_to_column({"role": {"$bogus": 1}})
    with pytest.raises(ValueError):
        filter_to_column({})


def test_search_with_filter(engine, tiny_oracle, docs, tiny_rows):
    cond = filter_to_column({"role": "user"})
    hits = engine.search("this", k=50, filter_cond=cond).collect()
    user_ids = {r["docid"] for r in _pydocs(tiny_rows) if r["role"] == "user"}
    oracle_hits = [d for d, _ in tiny_oracle.search("this", k=1000) if d in user_ids][:50]
    assert [r["docid"] for r in hits] == oracle_hits


def test_filtered_search_matches_oracle_with_tombstone_and_delta(
    spark, tiny_index, tiny_rows, tmp_path
):
    """A filtered search() equals the oracle's ranking restricted to
    filter AND live, at 9 dp: pruned and unpruned (use_wand=False) kernel
    runs, both modes, with a tombstoned doc and an uncompacted batch.
    Until compaction every path scores with the base's statistics: the
    oracle over base + delta docs, given the base's n_docs, avgdl and df."""
    import datetime as dt
    import shutil

    from marlin_spark.oracle.bm25 import OracleIndex, assign_docids
    from marlin_spark.streaming.incremental import IncrementalIndexer

    base_dir, cfg, _ = tiny_index
    d = str(tmp_path / "filtered_idx")
    shutil.copytree(base_dir, d)
    streamed = [
        ("nrt-a", 0, "user", "this worst best streamed", None),
        ("nrt-a", 1, "assistant", "this test worst best", None),
        ("nrt-b", 0, "user", "worst this this", None),
        ("nrt-b", 1, "user", "test this again", None),
    ]
    inc = IncrementalIndexer(spark, d, cfg)
    inc.process_batch(
        spark.createDataFrame(
            [r + (dt.datetime(2025, 1, 1),) for r in streamed],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        ),
        0,
    )
    base_docs = assign_docids(tiny_rows)
    n = len(base_docs)
    docs = base_docs + [(n + i + 1, r[3]) for i, r in enumerate(sorted(streamed))]
    role = {doc["docid"]: doc["role"] for doc in _pydocs(tiny_rows)}
    role.update({n + i + 1: r[2] for i, r in enumerate(sorted(streamed))})
    base = OracleIndex(base_docs)
    oracle = OracleIndex(docs)
    oracle.n_docs, oracle.avgdl, oracle.df = base.n_docs, base.avgdl, base.df
    # the best-ranked user turn for "this" goes; the filter must not
    # hand its top-k slot back to it
    victim = next(
        doc for doc, _ in oracle.search("this", k=10_000) if role[doc] == "user"
    )
    inc.delete_docids([victim])
    eng = SearchEngine(spark, d, cfg)
    cond = filter_to_column({"role": "user"})
    hit_delta = False
    for mode in ("any", "all"):
        for q in ("this", "worst best", "this test", "worst"):
            want = [
                (doc, round(s, 9))
                for doc, s in oracle.search(q, k=10_000, mode=mode)
                if role[doc] == "user" and doc != victim
            ][:5]
            assert want, (q, mode)
            hit_delta |= any(doc > n for doc, _ in want)
            for use_wand in (True, False):
                got = [
                    (r["docid"], round(r["score"], 9))
                    for r in eng.search(
                        q, k=5, mode=mode, use_wand=use_wand, filter_cond=cond
                    ).collect()
                ]
                assert got == want, (q, mode, use_wand)
    assert hit_delta


def test_ts_range_filter(docs, tiny_rows):
    import datetime as dt

    cut = dt.datetime(2024, 1, 1, 0, 1, 0)
    got = docs.filter(filter_to_column({"ts": {"$lt": cut}})).count()
    want = sum(1 for r in tiny_rows if r["ts"] < cut)
    assert got == want


# ----------------------------------------------------------------- facets
def test_facet_counts_all_docs(docs, tiny_rows):
    rows = facet_counts(docs, None, "role", n=10).collect()
    got = {r["role"]: r["count"] for r in rows}
    from collections import Counter

    want = Counter(r["role"] for r in tiny_rows)
    assert got == dict(want)
    # ordered desc by count then value
    counts = [r["count"] for r in rows]
    assert counts == sorted(counts, reverse=True)


def test_facet_counts_on_match_set(engine, docs, tiny_oracle, tiny_rows):
    hits = engine.search("this", k=1000, use_wand=False)
    rows = facet_counts(docs, hits, "role", n=3).collect()
    matched = {d for d, _ in tiny_oracle.search("this", k=10_000)}
    from collections import Counter

    want = Counter(
        r["role"] for r in _pydocs(tiny_rows) if r["docid"] in matched
    )
    for r in rows:
        assert r["count"] == want[r["role"]]
    assert len(rows) == min(3, len(want))


def test_facet_nulls_excluded(docs, tiny_rows):
    rows = facet_counts(docs, None, "tool", n=10).collect()
    assert all(r["tool"] is not None for r in rows)


# ------------------------------------------------------------ metric aggs
def test_metric_aggs_match_python(docs, tiny_rows):
    out = metric_aggs(
        docs,
        None,
        {
            "m1": {"op": "max", "field": "turn_idx"},
            "m2": {"op": "min", "field": "turn_idx"},
            "m3": {"op": "avg", "field": "dl"},
            "m4": {"op": "cardinality", "field": "role"},
            "m5": {"op": "stats", "field": "turn_idx"},
        },
    )
    tis = [r["turn_idx"] for r in tiny_rows]
    assert out["m1"] == max(tis)
    assert out["m2"] == min(tis)
    assert out["m4"] == len({r["role"] for r in tiny_rows})
    assert out["m5"]["count"] == len(tis)
    assert out["m5"]["sum"] == sum(tis)
    assert abs(out["m5"]["avg"] - sum(tis) / len(tis)) < 1e-9
    assert out["m5"]["min"] == min(tis) and out["m5"]["max"] == max(tis)


def test_metric_aggs_over_match_set(engine, docs, tiny_oracle):
    hits = engine.search("worst", k=1000, use_wand=False)
    out = metric_aggs(docs, hits, {"c": {"op": "count", "field": "docid"}})
    assert out["c"] == len(tiny_oracle.search("worst", k=10_000))


def test_doc_size_stats(docs, tiny_rows):
    out = doc_size_stats(docs)
    lens = [len(r["text"]) for r in tiny_rows]
    assert out["min"] == min(lens) and out["max"] == max(lens)
    assert out["sum"] == sum(lens) and out["count"] == len(lens)


# -------------------------------------------------------------- highlight
def test_highlight_wraps_matches():
    out = highlight_text("This is the Best day", {"best"})
    assert out == "This is the <em>Best</em> day"


def test_highlight_hyphen_parts_and_concat():
    out = highlight_text("truly state-of-the-art stuff", {"stateoftheart"})
    assert "<em>state-of-the-art</em>" in out
    out2 = highlight_text("truly state-of-the-art stuff", {"art"})
    assert "<em>" in out2


def test_highlight_normalized_match():
    out = highlight_text("Café culture", {"cafe"})
    assert out.startswith("<em>Café</em>")


def test_snippet_windows_around_match():
    text = " ".join(f"w{i}" for i in range(50)) + " target " + " ".join(
        f"v{i}" for i in range(50)
    )
    out = snippet(text, {"target"}, window=8)
    assert "<em>target</em>" in out
    assert out.startswith("… ") and out.endswith(" …")
    assert len(out.split()) <= 12
