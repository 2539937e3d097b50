"""Zero-shuffle dense-id fast path vs the shuffling general path.

The fast path (operators/docids.py:dense_ids_over_sorted_files) assigns
docid = file_offset + _metadata.row_index + 1 over a range-sorted
parquet table, proven disjoint from footer stats. It must agree
EXACTLY with with_dense_ids (global rank over (conv_id, turn_idx)) and
refuse (return None) any layout it cannot prove.
"""

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def sorted_corpus(spark, tmp_path_factory):
    from marlin_spark.corpus_spark import synthesize_transcripts

    d = str(tmp_path_factory.mktemp("sorted_corpus") / "t")
    synthesize_transcripts(spark, 300, partitions=6).write.parquet(d)
    return d


def test_layout_proof_accepts_sorted(sorted_corpus):
    from marlin_spark.operators.docids import sorted_files_layout

    layout = sorted_files_layout(sorted_corpus, "conv_id")
    assert layout is not None and len(layout) >= 2
    # offsets are a cumsum of file row counts in key order
    acc = 0
    for _base, n, off in layout:
        assert off == acc
        acc += n


def test_fast_path_equals_general_path(spark, sorted_corpus):
    from marlin_spark.operators.docids import (
        dense_ids_over_sorted_files,
        with_dense_ids,
    )

    fast = dense_ids_over_sorted_files(
        spark, sorted_corpus, ["conv_id", "turn_idx"], "docid"
    )
    assert fast is not None
    general = with_dense_ids(
        spark.read.parquet(sorted_corpus), ["conv_id", "turn_idx"], "docid"
    )
    a = {
        (r["conv_id"], r["turn_idx"]): r["docid"]
        for r in fast.select("conv_id", "turn_idx", "docid").collect()
    }
    b = {
        (r["conv_id"], r["turn_idx"]): r["docid"]
        for r in general.select("conv_id", "turn_idx", "docid").collect()
    }
    assert a == b
    assert sorted(a.values()) == list(range(1, len(a) + 1))  # dense, 1-based


def test_layout_proof_rejects_overlapping_files(spark, tmp_path):
    """A hash-partitioned write interleaves conv ranges across files —
    the footer proof must fail and send callers to the general path."""
    from marlin_spark.corpus_spark import synthesize_transcripts
    from marlin_spark.operators.docids import sorted_files_layout

    d = str(tmp_path / "unsorted")
    (synthesize_transcripts(spark, 200, partitions=4)
     .repartition(4, "turn_idx").write.parquet(d))
    assert sorted_files_layout(d, "conv_id") is None


def test_build_on_sorted_source_matches_oracle(spark, tmp_path, sorted_corpus):
    """End-to-end: a build given source_path produces the oracle's docid
    assignment (rank of (conv_id, turn_idx)) in its doc store."""
    from marlin_spark.config import EngineConfig
    from marlin_spark.index.build import IndexBuilder

    idx = str(tmp_path / "idx")
    cfg = EngineConfig(block_size=16, range_size=64, n_term_buckets=8)
    IndexBuilder(spark, idx, cfg).build(
        spark.read.parquet(sorted_corpus), "b0", source_path=sorted_corpus
    )
    docs = spark.read.parquet(os.path.join(idx, "docs"))
    got = [
        (r["conv_id"], r["turn_idx"])
        for r in docs.orderBy("docid").select("conv_id", "turn_idx").collect()
    ]
    assert got == sorted(got)
    n = len(got)
    assert docs.agg(F.min("docid"), F.max("docid")).first() == (1, n)


def test_source_path_build_over_many_small_files_matches_oracle(spark, tmp_path):
    """600 conversations staged as 12 sorted files: the docs scan packs
    several files into a task unless told not to, and a postings split
    of non-adjacent docid slabs emits partial blocks that interleave
    with another split's. Every docs file must hold increasing docids,
    and ranked answers must equal the oracle's."""
    import glob
    import random

    import pyarrow.parquet as pq

    from marlin_spark.corpus_spark import synthesize_transcripts
    from marlin_spark.index.build import IndexBuilder
    from marlin_spark.oracle.bm25 import OracleIndex, assign_docids
    from marlin_spark.oracle.corpus import VOCAB, generate
    from marlin_spark.query.engine import SearchEngine

    src = str(tmp_path / "src")
    synthesize_transcripts(spark, 600, partitions=12).write.parquet(src)
    idx = str(tmp_path / "idx")
    IndexBuilder(spark, idx).build(
        spark.read.parquet(src), "b0", source_path=src
    )
    files = glob.glob(os.path.join(idx, "docs", "*.parquet"))
    assert len(files) == 12
    for f in files:
        d = pq.read_table(f, columns=["docid"])["docid"].to_numpy()
        assert (d[1:] > d[:-1]).all(), f
    oracle = OracleIndex(assign_docids(list(generate(600))))
    eng = SearchEngine(spark, idx)
    rng = random.Random(3)
    for i in range(100):
        q = " ".join(rng.sample(VOCAB[:300], rng.randint(1, 3)))
        mode = ("any", "all")[i % 2]
        want = [(d, round(s, 9)) for d, s in oracle.search(q, 10, mode)]
        assert eng.search_local(q, 10, mode) == want, (q, mode)
