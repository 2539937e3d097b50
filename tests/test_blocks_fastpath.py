"""Equivalence of the bandwidth-lean builder sort fast path.

The doc-range builder has two internal orderings (index/blocks.py):

- FAST: stable int32 argsort by term code alone, valid when the
  partition is single-field with monotone docids (the main build path);
- GENERIC: composite (range, code, docid, pos) int64-key sort, used for
  multi-field or out-of-order partitions.

Both must emit the SAME block set — same (term, range_id, block_id)
keys, same stats, byte-identical postings/positions payloads — since the
merger and every query path decode them interchangeably. Reference
analog: segment layout independence of build order
(/root/reference/src/main/sindex.c postings segments).

The same builder writes every block of the index: the streaming delta
segments of IncrementalIndexer.process_batch and the postings that
compact() re-cuts must equal its output over the same docs rows.
"""

from __future__ import annotations

import datetime as dt
import shutil

import numpy as np
import pandas as pd
import pyarrow.dataset as pads
import pytest

from marlin_spark.config import EngineConfig
from marlin_spark.functions.codec import vb_decode, vb_encode_with_sizes
from marlin_spark.index.blocks import (
    BLOCK_SCHEMA,
    _OUT_COLS,
    make_block_merger,
    make_doc_range_builder,
)
from marlin_spark.index.build import IndexBuilder
from marlin_spark.index.catalog import IndexCatalog
from marlin_spark.streaming.incremental import IncrementalIndexer


def _run_builder(pdf: pd.DataFrame, force_generic: bool, block_size=4,
                 range_size=16) -> pd.DataFrame:
    builder = make_doc_range_builder(
        "marlin", 1.2, 0.75, 6.0, block_size, range_size,
        counters=None, fields=["text"], _force_generic=force_generic,
    )
    out = list(builder(iter([pdf])))
    assert out, "builder emitted nothing"
    res = pd.concat(out, ignore_index=True)
    key = ["term", "range_id", "block_id"]
    return res.sort_values(key).reset_index(drop=True)


def _corpus(n_docs: int, seed: int, start_docid: int = 1) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    vocab = ["alpha", "beta", "gamma", "delta", "run", "the", "tool",
             "query", "spark", "index"]
    texts, dls = [], []
    for _ in range(n_docs):
        n = int(rng.integers(1, 12))
        toks = [vocab[int(rng.integers(0, len(vocab)))] for _ in range(n)]
        texts.append(" ".join(toks))
        dls.append(n)
    return pd.DataFrame(
        {
            "docid": np.arange(start_docid, start_docid + n_docs,
                               dtype=np.int64),
            "dl": np.asarray(dls, dtype=np.int64),
            "text": texts,
        }
    )


@pytest.mark.parametrize("seed", [7, 91])
def test_fast_path_matches_generic(seed):
    pdf = _corpus(120, seed)
    fast = _run_builder(pdf, force_generic=False)
    slow = _run_builder(pdf, force_generic=True)
    assert len(fast) == len(slow)
    for col in ("term", "range_id", "block_id", "first_docid",
                "last_docid", "n_docs", "sum_tf"):
        assert fast[col].tolist() == slow[col].tolist(), col
    assert np.allclose(fast["max_tfnorm"], slow["max_tfnorm"])
    assert fast["postings"].tolist() == slow["postings"].tolist()
    assert fast["positions"].tolist() == slow["positions"].tolist()


def test_non_monotone_partition_falls_back_correctly():
    # same docs, shuffled row order: the fast path must NOT fire (docids
    # non-monotone) and the generic sort restores identical blocks
    pdf = _corpus(80, seed=3)
    shuffled = pdf.sample(frac=1.0, random_state=5).reset_index(drop=True)
    a = _run_builder(pdf, force_generic=False)
    b = _run_builder(shuffled, force_generic=False)
    assert a["postings"].tolist() == b["postings"].tolist()
    assert a["positions"].tolist() == b["positions"].tolist()


def test_fast_path_spans_range_boundaries():
    # docids crossing several range_size=16 boundaries, block cuts inside
    pdf = _corpus(100, seed=11, start_docid=9)  # misaligned start
    fast = _run_builder(pdf, force_generic=False)
    slow = _run_builder(pdf, force_generic=True)
    assert fast["range_id"].nunique() > 3
    assert fast["postings"].tolist() == slow["postings"].tolist()


def test_merger_folds_interleaved_splits():
    """A scan split may pack non-adjacent docs files, largest first:
    here docs 61-90 then 1-30 in one split, 31-60 in another. The
    partial blocks of one (term, range) group then interleave, and the
    merger must still emit the blocks of one builder pass over all
    docs, positions included."""
    pdf = _corpus(90, seed=5)
    splits = [pd.concat([pdf.iloc[60:], pdf.iloc[:30]]), pdf.iloc[30:60]]
    partial = pd.concat(
        [_run_builder(sp, force_generic=False, range_size=128) for sp in splits],
        ignore_index=True,
    )
    partial["bucket"] = 0
    merger = make_block_merger(1.2, 0.75, 6.0, 4)
    got = (
        pd.concat(list(merger(iter([partial]))), ignore_index=True)
        .sort_values(_KEY).reset_index(drop=True)
    )
    want = _run_builder(pdf, force_generic=False, range_size=128)
    assert len(got) == len(want)
    for col in _OUT_COLS:
        assert got[col].tolist() == want[col].tolist(), col


def test_vb_encode_uint32_input_identical():
    rng = np.random.default_rng(2)
    vals = rng.integers(0, 1 << 31, size=10_000, dtype=np.int64)
    b64, s64 = vb_encode_with_sizes(vals.astype(np.uint64))
    b32, s32 = vb_encode_with_sizes(vals.astype(np.uint32))
    assert b64 == b32
    assert np.array_equal(s64, s32)
    assert np.array_equal(vb_decode(b64), vals.astype(np.uint64))


# ------------------------------------------- one writer for every block
_KEY = ["term", "range_id", "block_id"]


@pytest.fixture(scope="module", params=[("text",), ("text", "role", "tool")],
                ids=["one_field", "three_fields"])
def writer_index(request, spark, tiny_df, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("writer_index"))
    cfg = EngineConfig(block_size=16, range_size=64, n_term_buckets=8,
                       indexed_fields=request.param)
    IndexBuilder(spark, d, cfg).build(tiny_df, build_id="w0")
    return d, cfg


def _stream_batch(spark, n: int, bid: int):
    words = ["worst", "best", "test", "this", "is", "aaaa", "bbbb"]
    rng = np.random.default_rng(bid)
    rows = [
        (f"w{bid}", i, ["user", "assistant"][i % 2],
         " ".join(words[j] for j in rng.integers(0, len(words), 1 + i % 9)),
         "search" if i % 3 == 0 else None,
         dt.datetime(2025, 1, 1))
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )


def _table_blocks(path: str) -> pd.DataFrame:
    return (
        pads.dataset(path, partitioning="hive", format="parquet")
        .to_table(columns=_OUT_COLS).to_pandas()
        .sort_values(_KEY).reset_index(drop=True)
    )


def _kernel_blocks(docs_path: str, cfg, avgdl: float) -> pd.DataFrame:
    """The doc-range builder over every docs row of ``docs_path`` as one
    partition: each (term, range) group is whole, so no merge applies."""
    fields = list(cfg.indexed_fields)
    docs = (
        pads.dataset(docs_path, format="parquet")
        .to_table(columns=["docid", "dl", *fields]).to_pandas()
        .sort_values("docid").reset_index(drop=True)
    )
    builder = make_doc_range_builder(
        cfg.analyzer, cfg.k1, cfg.b, avgdl, cfg.block_size, cfg.range_size,
        fields=fields,
    )
    out = pd.concat(list(builder(iter([docs]))), ignore_index=True)
    return out.sort_values(_KEY).reset_index(drop=True)


def _assert_same_blocks(got: pd.DataFrame, want: pd.DataFrame) -> None:
    assert len(got) == len(want) > 0
    for col in _OUT_COLS:  # max_tfnorm included: bit-identical floats
        assert got[col].tolist() == want[col].tolist(), col


def test_delta_segment_blocks_equal_doc_range_builder(
    spark, writer_index, tmp_path
):
    base, cfg = writer_index
    d = str(tmp_path / "idx")
    shutil.copytree(base, d)
    inc = IncrementalIndexer(spark, d, cfg)
    inc.process_batch(_stream_batch(spark, 90, 1), 1)
    cat = IndexCatalog(d)
    got = _table_blocks(cat.path("postings_delta/batch=1"))
    want = _kernel_blocks(cat.path("docs_delta/batch=1"), cfg,
                          inc.stats["avgdl"])
    assert want["n_docs"].max() == cfg.block_size  # multi-block groups
    _assert_same_blocks(got, want)


def test_compacted_blocks_equal_doc_range_builder(
    spark, writer_index, tmp_path
):
    base, cfg = writer_index
    d = str(tmp_path / "idx")
    shutil.copytree(base, d)
    inc = IncrementalIndexer(spark, d, cfg)
    for bid in (0, 2):
        inc.process_batch(_stream_batch(spark, 40, bid), bid)
    # tombstones in the base and in both delta segments
    base_max = int(inc.stats["max_docid"])
    cap = int(inc.stats["batch_capacity"])
    inc.delete_docids([1, 5, 6, 40, base_max + 3, base_max + 2 * cap + 7])
    avgdl_before = inc.stats["avgdl"]
    inc.compact()
    cat = IndexCatalog(d)
    stats = cat.read_json("stats.json")
    assert stats["avgdl"] != avgdl_before
    got = _table_blocks(cat.path("postings"))
    want = _kernel_blocks(cat.path("docs"), cfg, stats["avgdl"])
    _assert_same_blocks(got, want)
