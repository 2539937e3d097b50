"""The WAND kernel's per-range scoring against the oracle at 9 dp.

Every placement of make_batch_wand_kernel (the driver's search_local,
the Spark WAND job, the batched search_many_wand) must rank exactly as
oracle/bm25.py does on the tiny index, whose 64-doc ranges give it
several ranges: both modes, prefix_last, driver-resident tombstones and
an uncompacted delta segment whose docids fall inside a base range. The
driver placement also runs with multi-term ranges forced onto each
accumulator layout (the range's docid span, the query's distinct docids).
"""

import datetime as dt
import shutil

import pytest
from pyspark.sql import functions as F

from marlin_spark.oracle.bm25 import OracleIndex, assign_docids
from marlin_spark.query import wand
from marlin_spark.query.engine import KERNEL_COLS, SearchEngine
from marlin_spark.query.wand import make_wand_scorer
from marlin_spark.streaming.incremental import IncrementalIndexer

QUERIES = ["bi", "ta de", "lefu buku kifa", "lomahopi bi sa", "worst",
           "this best worst", "aaaa bbbb", "test", "prefix suffix bi"]
PREFIX_QUERIES = ["lef", "bi lom", "ta k", "this aaa", "tes"]


def _want(oracle, q, mode="any", prefix=False, drop=frozenset(), k=10):
    hits = oracle.search(q, k=10_000, mode=mode, prefix_last=prefix)
    return [(d, round(s, 9)) for d, s in hits if d not in drop][:k]


def _placements(eng, queries, mode, prefix=False, k=10):
    """{placement: {query: [(docid, score)]}} over every placement of
    the kernel; the batched one takes no prefix_last."""
    out = {"local": {}, "spark": {}}
    for q in queries:
        out["local"][q] = [(d, round(s, 9)) for d, s in eng.search_local(q, k, mode, prefix)]
        out["spark"][q] = [
            (r["docid"], round(r["score"], 9))
            for r in eng.search(q, k, mode, prefix).collect()
        ]
    out.update(_layouts(eng, queries, mode, prefix, k))
    if not prefix:
        ranked = {}
        for r in eng.search_many_wand({q: q for q in queries}, k, mode).collect():
            ranked.setdefault(r["query_id"], []).append(
                (r["rank"], r["docid"], round(r["score"], 9))
            )
        out["many"] = {q: [(d, s) for _r, d, s in sorted(ranked.get(q, []))]
                       for q in queries}
    return out


def _layouts(eng, queries, mode, prefix=False, k=10):
    """search_local with every multi-term range scored over the range's
    docid span, then over the query's distinct docids."""
    out = {}
    real = wand._DENSE_SPAN_PER_POSTING
    try:
        for name, ratio in (("local-span", 1 << 30), ("local-distinct", 0)):
            wand._DENSE_SPAN_PER_POSTING = ratio
            out[name] = {
                q: [(d, round(s, 9)) for d, s in eng.search_local(q, k, mode, prefix)]
                for q in queries
            }
    finally:
        wand._DENSE_SPAN_PER_POSTING = real
    return out


def _batch(spark, rows):
    return spark.createDataFrame(
        [r + (dt.datetime(2025, 1, 1),) for r in rows],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )


@pytest.fixture()
def index_copy(tiny_index, tmp_path):
    base_dir, cfg, _ = tiny_index
    d = str(tmp_path / "idx")
    shutil.copytree(base_dir, d)
    return d, cfg


@pytest.mark.parametrize("mode", ["any", "all"])
def test_every_placement_matches_oracle(spark, tiny_index, tiny_oracle, mode):
    d, cfg, _ = tiny_index
    eng = SearchEngine(spark, d, cfg)
    got = _placements(eng, QUERIES, mode)
    for q in QUERIES:
        want = _want(tiny_oracle, q, mode)
        for where, answers in got.items():
            assert answers[q] == want, (where, q, mode)
    assert any(got["local"][q] for q in QUERIES)


def test_prefix_last_matches_oracle(spark, tiny_index, tiny_oracle, last_job_id):
    d, cfg, _ = tiny_index
    eng = SearchEngine(spark, d, cfg)
    for mode in ("any", "all"):
        # the driver placement expands the prefix without a Spark job
        job0 = last_job_id()
        for q in PREFIX_QUERIES:
            eng.search_local(q, 10, mode, True)
        assert last_job_id() == job0, mode
        got = _placements(eng, PREFIX_QUERIES, mode, prefix=True)
        for q in PREFIX_QUERIES:
            want = _want(tiny_oracle, q, mode, prefix=True)
            assert want or mode == "all", q
            for where, answers in got.items():
                assert answers[q] == want, (where, q, mode)


def test_driver_tombstones_match_oracle(spark, index_copy, tiny_rows, tiny_oracle):
    """Deleted docs are masked in the kernel; until compaction the
    survivors keep the build's statistics, so the expected answer is the
    full oracle's ranking without the deleted docids."""
    d, cfg = index_copy
    keys = sorted((r["conv_id"], r["turn_idx"]) for r in tiny_rows)
    victims = keys[::7]
    IncrementalIndexer(spark, d, cfg).delete_turns(victims)
    eng = SearchEngine(spark, d, cfg)
    assert eng.deleted is not None
    drop = frozenset(keys.index(v) + 1 for v in victims)
    for mode in ("any", "all"):
        got = _placements(eng, QUERIES, mode)
        for q in QUERIES:
            want = _want(tiny_oracle, q, mode, drop=drop)
            for where, answers in got.items():
                assert answers[q] == want, (where, q, mode)


def test_delta_inside_a_base_range_matches_oracle(spark, index_copy, tiny_rows):
    """An uncompacted batch's docids continue the base's last 64-doc
    range, so one (range, term) run holds base and delta blocks. Until
    compaction every path scores with the base's n_docs, avgdl and df:
    the oracle over base + delta docs, given the base's statistics."""
    d, cfg = index_copy
    streamed = [
        ("nrt-a", 0, "user", "bi ta lefu lefu", None),
        ("nrt-a", 1, "assistant", "de buku bi", None),
        ("nrt-b", 0, "user", "kifa kifa lomahopi bi sa", None),
        ("nrt-b", 1, "user", "ta ta ta prefix", None),
    ]
    inc = IncrementalIndexer(spark, d, cfg)
    inc.process_batch(_batch(spark, streamed), 0)
    eng = SearchEngine(spark, d, cfg)
    base_docs = assign_docids(tiny_rows)
    n = len(base_docs)
    assert n % cfg.range_size  # the delta's first docid shares a base range
    docs = base_docs + [(n + i + 1, r[3]) for i, r in enumerate(sorted(streamed))]
    base = OracleIndex(base_docs)
    oracle = OracleIndex(docs)
    oracle.n_docs, oracle.avgdl, oracle.df = base.n_docs, base.avgdl, base.df
    for mode in ("any", "all"):
        got = _placements(eng, QUERIES, mode)
        hit_delta = False
        for q in QUERIES:
            want = _want(oracle, q, mode)
            hit_delta |= any(doc > n for doc, _ in want)
            for where, answers in got.items():
                assert answers[q] == want, (where, q, mode)
        assert hit_delta, mode


class _Count:
    def __init__(self):
        self.value = 0

    def add(self, v):
        self.value += v


def test_range_pruning_skips_ranges(spark, tiny_index, tiny_oracle):
    """Block-max range pruning survives the per-range scorer: top-1 queries
    over terms found in both 64-doc ranges of the tiny index skip one."""
    d, cfg, _ = tiny_index
    eng = SearchEngine(spark, d, cfg)
    terms = ["aaaa", "this", "bbbb", "cccc", "best"]
    blocks = (
        eng.cat.read(spark, "postings").filter(F.col("term").isin(terms))
        .select(*KERNEL_COLS).toPandas()
    )
    acc = {"ranges_skipped": _Count(), "ranges_scored": _Count()}
    for t in terms:
        plan = eng.plan(t, k=1)
        scorer = make_wand_scorer(
            plan.term_meta, plan.k, plan.n_slots, plan.mode, eng.cfg.k1,
            eng.cfg.b, eng.avgdl, acc,
        )
        mine = blocks[blocks["term"] == t]
        assert mine["range_id"].nunique() == 2, t
        out = next(scorer(iter([mine])))
        got = [(int(doc), round(float(s), 9)) for doc, s in zip(out["docid"], out["score"])]
        assert got == _want(tiny_oracle, t, k=1), t
    assert acc["ranges_skipped"].value > 0
    assert acc["ranges_skipped"].value + acc["ranges_scored"].value == 2 * len(terms)


def test_damaged_blocks_raise_instead_of_allocating():
    """Blocks of one range whose docids lie 2^40 apart (a damaged index;
    a real range spans range_size docids) fail loudly: the dense
    accumulator over that span would ask for terabytes."""
    import numpy as np

    from marlin_spark.functions.codec import encode_block
    from marlin_spark.query.wand import QueryPlan, make_batch_wand_kernel

    def block(docid):
        one = np.array([1], np.int64)
        return encode_block(np.array([docid], np.int64), one, one * 3, np.empty(0))[0]

    blocks = {
        "term": np.array(["a", "a"], dtype=object),
        "range_id": np.array([0, 0]),
        "n_docs": np.array([1, 1]),
        "max_tfnorm": np.array([1.0, 1.0]),
        "postings": np.array([block(1), block(1 << 40)], dtype=object),
    }
    plan = QueryPlan("a", ["a"], {"a": (1.0, frozenset({0}))}, n_slots=1)
    kernel = make_batch_wand_kernel({"": plan})
    with pytest.raises(RuntimeError, match="damaged"):
        kernel(blocks)


def test_mixed_mode_batch_is_one_kernel_call(spark, tiny_index, monkeypatch):
    """Plans of both modes, with and without prefix_last, score in ONE
    kernel call on the driver (and in one Spark job), each as its own
    search_local answers it: a plan carries its mode's required slots."""
    from marlin_spark.query import engine as engine_mod

    d, cfg, _ = tiny_index
    eng = SearchEngine(spark, d, cfg)
    plans, want = {}, {}
    for mode, prefix in (("any", False), ("all", False), ("all", True), ("any", True)):
        qs = PREFIX_QUERIES if prefix else QUERIES
        batch = {f"{mode} {prefix} {q}": q for q in qs}
        for qid, p in eng.plan_queries(batch, 10, mode, prefix).items():
            if p.term_meta:
                plans[qid] = p
                want[qid] = [(d, round(s, 9))
                             for d, s in eng.search_local(p.query, 10, mode, prefix)]
    assert any(want.values())
    calls = []
    real = engine_mod.make_batch_wand_kernel

    def counting(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(engine_mod, "make_batch_wand_kernel", counting)
    got = eng._local_topk(plans)
    assert len(calls) == 1
    assert {qid: [(d, round(s, 9)) for d, s in hits]
            for qid, hits in got.items()} == want
    on_spark = {}
    for r in eng._wand_scores(plans).collect():
        on_spark.setdefault(r["query_id"], []).append((r["docid"], round(r["score"], 9)))
    for qid, hits in want.items():
        top = sorted(on_spark.get(qid, []), key=lambda h: (-h[1], h[0]))[:10]
        assert top == hits, qid


@pytest.mark.parametrize("uncompacted", [False, True])
def test_one_delta_listing_per_lookup_and_batch(spark, index_copy, monkeypatch,
                                                uncompacted):
    """The planner lists the live delta segments with ONE read of the
    snapshot pointer, and the seed gate and the block fetch both use that
    list: one read per search_local and one per search_many_wand."""
    from marlin_spark.index.catalog import IndexCatalog

    d, cfg = index_copy
    if uncompacted:
        IncrementalIndexer(spark, d, cfg).process_batch(
            _batch(spark, [("nrt-a", 0, "user", "bi ta lefu", None)]), 0
        )
    calls = []
    real = IndexCatalog.read_snapshot

    def counting(self):
        calls.append(self.dir)
        return real(self)

    monkeypatch.setattr(IndexCatalog, "read_snapshot", counting)
    eng = SearchEngine(spark, d, cfg)
    for q, mode, prefix in (("bi", "any", False), ("ta de", "all", False),
                            ("bi lef", "any", True)):
        calls.clear()
        assert eng.search_local(q, 10, mode, prefix)
        assert len(calls) == 1, (q, mode, prefix, calls)
    calls.clear()
    # k=1: every matched term has a top_maxes entry, so the seed gate runs
    assert eng.search_many_wand({q: q for q in QUERIES}, 1).collect()
    assert len(calls) == 1, calls
