"""Physical-plan assertions: the optimizations we claim must be visible
in .explain output (partition pruning, predicate pushdown, column
pruning, broadcast joins) — per the task's scale-first mandate."""

import pytest
from pyspark.sql import functions as F

from marlin_spark.query.engine import SearchEngine


@pytest.fixture(scope="module")
def engine(spark, tiny_index):
    d, cfg, _ = tiny_index
    return SearchEngine(spark, d, cfg)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_postings_scan_prunes_partitions_and_positions(engine):
    plan = engine.plan("test worst")
    plan_str = _plan(engine._matched_blocks(plan.term_meta, plan.segments))
    # bucket partition pruning reaches the scan
    assert "PartitionFilters" in plan_str
    assert "bucket" in plan_str.split("PartitionFilters")[1][:200]
    # term predicate pushed to parquet
    assert "PushedFilters" in plan_str
    pushed = plan_str.split("PushedFilters")[1][:300]
    assert "term" in pushed
    # positions column never read for scoring
    read = plan_str.split("ReadSchema")[-1]
    assert "positions" not in read


def test_dictionary_lookup_pushes_term_filter(engine, spark):
    d = engine.cat.read(spark, "dictionary").filter(
        (F.col("fc") == "t") & (F.col("term") == "test")
    )
    plan_str = _plan(d)
    assert "PartitionFilters" in plan_str
    assert "fc" in plan_str.split("PartitionFilters")[1][:200]
    assert "PushedFilters" in plan_str


def test_fuzzy_distributed_scan_prunes_fc_partitions(engine, spark):
    """The distributed typo fallback must reach the dictionary scan with
    fc partition filters + term predicates (round-2 verdict item #1: no
    O(|dictionary|) scan per fuzzy query)."""
    from marlin_spark.query.fuzzy import spark_conditions, specs_filter

    flt = specs_filter([("worst", False, 1)])
    cond_part, cond_cand = spark_conditions(flt)
    dic = engine.cat.read(spark, "dictionary")
    # scan (a): full-DP partitions — fc filter prunes at partition level
    p1 = _plan(dic.filter(cond_part))
    assert "fc" in p1.split("PartitionFilters")[1][:300]
    # scan (b): exact/range candidates — term predicates pushed to parquet
    p2 = _plan(dic.filter(cond_cand))
    assert "term" in p2.split("PushedFilters")[1][:400]
    # and the union plan the engine actually runs carries both
    u = _plan(engine._fuzzy_pruned_dictionary(flt))
    assert "PartitionFilters" in u and "PushedFilters" in u


def test_hydrate_uses_broadcast_join(engine):
    hits = engine.search("worst", k=3, use_wand=False)
    plan_str = _plan(engine.hydrate(hits))
    assert "BroadcastHashJoin" in plan_str


def test_filtered_path_semi_joins_kernel_scores(engine):
    """A filtered query is the WAND kernel with pruning off, semi-joined
    to the filtered docs before one TakeOrderedAndProject: the scores
    come from the kernel, not from an aggregate over decoded postings."""
    from marlin_spark.query.filters import filter_to_column

    plan = engine.plan("this best worst")
    df = engine._search_plan(plan, filter_cond=filter_to_column({"role": "user"}))
    plan_str = _plan(df)
    assert "MapInPandas" in plan_str
    assert "LeftSemi" in plan_str
    # global top-k is TakeOrdered, not a full sort
    assert "TakeOrderedAndProject" in plan_str
    assert "Aggregate" not in plan_str


def test_wand_path_is_take_ordered(engine):
    df = engine._search_plan(engine.plan("this best"))
    assert "TakeOrderedAndProject" in _plan(df)


def test_docs_filter_pushdown(engine, spark):
    from marlin_spark.query.filters import filter_to_column

    docs = engine.cat.read(spark, "docs").filter(
        filter_to_column({"role": "user", "turn_idx": {"$gte": 2}})
    )
    plan_str = _plan(docs)
    pushed = plan_str.split("PushedFilters")[1][:300]
    assert "role" in pushed and "turn_idx" in pushed


def test_bm25_df_wholestage_codegen(spark):
    """The pure-Catalyst BM25 tokenize/score path stays JVM-side."""
    from marlin_spark.operators.bm25_df import bm25_topk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan_str = _plan(bm25_topk(docs, "spark join", k=5))
    # entirely JVM-side: no Python evaluation nodes anywhere
    assert "BatchEvalPython" not in plan_str
    assert "ArrowEvalPython" not in plan_str
    assert "MapInPandas" not in plan_str
    # round-6 shape: tf/dl come off the token array per row — the score
    # scan is join-free and exchange-free, top-k is a TakeOrdered
    assert "Join" not in plan_str
    assert "Exchange" not in plan_str
    assert "TakeOrderedAndProject" in plan_str


def test_search_ranked_sort_by_scale_shape(engine):
    """sortBy/rankBy path (round-2 verdict item #3): the compare-field
    join must broadcast the (plan-time-bounded) FEATURE side into the
    docs scan — not the docs side — and the global order must be a
    TakeOrderedAndProject (per-partition top-m + merge), never a full
    sort."""
    df = engine.search_ranked("worst", k=5, sort_by="turn_idx")
    plan_str = _plan(df)
    assert "TakeOrderedAndProject" in plan_str
    assert "BroadcastHashJoin" in plan_str
    # feats is the left/build side: BuildLeft, so docs/ streams
    assert "BuildLeft" in plan_str


def test_simhash_pair_join_is_banded_hash_join(spark):
    """dd_simhash must candidate-generate via a band-equality hash join:
    a BroadcastNestedLoopJoin / CartesianProduct over doc_id< is O(n^2)
    and dead at scale (round-1 verdict item #2)."""
    from marlin_spark.entry_queries import QUERIES

    df = QUERIES["dd_simhash"](spark, "/root/testdata/sf0.001")
    plan_str = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan_str
    assert "CartesianProduct" not in plan_str
    assert "Join" in plan_str  # there IS a join, and it's hash-based
