"""Short-prefix accelerator parity + pruning (dtrie short-prefix bitmap
analog, /root/reference/src/main/dtrie.c:355-375; the reference's wrk
workload is random 1-8-char prefixes, test/wrk/reddit.lua:13-27)."""

import numpy as np
import pytest

from marlin_spark.config import EngineConfig
from marlin_spark.index.build import IndexBuilder
from marlin_spark.index.prefix_accel import decode_docids, encode_docids
from marlin_spark.query.engine import SearchEngine


def test_docid_blob_roundtrip():
    for arr in (
        np.array([], dtype=np.int64),
        np.array([1], dtype=np.int64),
        np.array([1, 2, 3, 1000, 70000, 70001], dtype=np.int64),
        np.arange(1, 500, 7, dtype=np.int64),
    ):
        got = decode_docids(encode_docids(arr))
        assert got.tolist() == arr.tolist()


@pytest.fixture(scope="module")
def accel_index(spark, tiny_df, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("accel_idx"))
    cfg = EngineConfig(
        block_size=16, range_size=64, n_term_buckets=8,
        prefix_accel=True, prefix_accel_len=3,
    )
    IndexBuilder(spark, d, cfg).build(tiny_df, "pa0")
    return d, cfg


@pytest.fixture(scope="module")
def plain_engine(spark, tiny_index):
    d, cfg, _ = tiny_index
    return SearchEngine(spark, d, cfg)


def _docids(eng, exact, prefixes) -> set:
    """The match set of exact terms and prefixes in eng's segments."""
    return {
        r["docid"]
        for r in eng._docids_for(exact, prefixes, eng._segments()).collect()
    }


@pytest.mark.parametrize("prefix", ["t", "te", "tes", "w", "b", "zz", "a"])
def test_accel_matches_unaccelerated_path(spark, accel_index, plain_engine, prefix):
    """Accelerated short-prefix match set == the dictionary-expansion +
    postings-scan path over the same corpus, for hit and miss prefixes."""
    d, cfg = accel_index
    eng = SearchEngine(spark, d, cfg)
    assert eng._accel_len == 3
    assert _docids(eng, [], [prefix]) == _docids(plain_engine, [], [prefix]), prefix


def test_accel_mixed_exact_and_long_prefix(spark, accel_index, plain_engine):
    """exact terms + a short prefix + a long (>L) prefix combine into one
    distinct docid set identical to the unaccelerated engine."""
    d, cfg = accel_index
    eng = SearchEngine(spark, d, cfg)
    got = _docids(eng, ["worst"], ["t", "test"])
    assert got == _docids(plain_engine, ["worst"], ["t", "test"])


def test_accel_scan_is_partition_pruned(spark, accel_index):
    """The accel blob read must prune to the prefix's fc partition and
    push the prefix predicate (cost independent of vocabulary size)."""
    from marlin_spark.index.catalog import IndexCatalog
    from pyspark.sql import functions as F

    d, _cfg = accel_index
    cat = IndexCatalog(d)
    df = cat.read(spark, "prefix_accel").filter(
        (F.col("fc") == "t") & (F.col("prefix") == "te")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "fc" in plan.split("PartitionFilters")[1][:200]
    assert "prefix" in plan.split("PushedFilters")[1][:300]


def test_accel_sees_streaming_delta_before_compact(spark, accel_index):
    """A short-prefix query must include docs from uncompacted NRT delta
    segments (accel rebuilt only at compaction, like the dictionary)."""
    import datetime as dt

    from marlin_spark.streaming.incremental import IncrementalIndexer

    d, cfg = accel_index
    inc = IncrementalIndexer(spark, d, cfg)
    rows = [
        (
            "zconv", 0, "user", "zebrazx stripes", None,
            dt.datetime(2024, 1, 2),
        )
    ]
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    inc.process_batch(spark.createDataFrame(rows, schema), batch_id=1)
    eng = SearchEngine(spark, d, cfg)
    before = _docids(eng, [], ["zeb"])
    assert len(before) == 1  # only the delta doc matches 'zeb'
    inc.compact()
    eng.refresh()
    eng2 = SearchEngine(spark, d, cfg)
    after = _docids(eng2, [], ["zeb"])
    assert after == before
