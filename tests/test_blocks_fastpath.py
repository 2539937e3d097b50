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
import pyarrow as pa
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
from marlin_spark.index import build
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
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want) > 0
    for col in got.columns:  # max_tfnorm included: bit-identical floats
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


# ------------------------------------------------ placements of a batch
def _placed_index(spark, base, cfg, tmp_path, placement, nrt_placement):
    d = str(tmp_path / placement)
    shutil.copytree(base, d)
    nrt_placement("spark" if placement == "spark" else "driver")
    return d, IncrementalIndexer(spark, d, cfg)


def _table_rows(spark, path: str) -> tuple:
    """(Spark schema, docid-ordered rows) of a docs table."""
    df = spark.read.parquet(path)
    return df.schema, df.orderBy("docid").collect()


def _bucketed_blocks(path: str) -> pd.DataFrame:
    """Every block of a postings table, bucket column included."""
    return (
        pads.dataset(path, partitioning="hive", format="parquet")
        .to_table(columns=_OUT_COLS + ["bucket"]).to_pandas()
        .sort_values(_KEY).reset_index(drop=True)
    )


def test_delta_segment_equal_across_placements(
    spark, writer_index, tmp_path, nrt_placement, monkeypatch
):
    """The driver and Spark placements of one micro-batch write the same
    docs rows, in the same Spark schema, and byte-identical blocks (every
    column, bucket included), each equal to the doc-range builder's. So
    does the driver placement cut into many slabs, by docs and by bytes
    ('slabs'): the merger re-cuts the slabs' partial blocks."""
    base, cfg = writer_index
    docs, blocks = {}, {}
    for placement in ("driver", "spark", "slabs"):
        if placement == "slabs":
            monkeypatch.setattr(build, "DRIVER_SLAB_DOCS", 7)
            monkeypatch.setattr(build, "DRIVER_SLAB_BYTES", 60)
        d, inc = _placed_index(
            spark, base, cfg, tmp_path, placement, nrt_placement
        )
        inc.process_batch(_stream_batch(spark, 90, 1), 1)
        cat = IndexCatalog(d)
        docs[placement] = _table_rows(spark, cat.path("docs_delta/batch=1"))
        blocks[placement] = _bucketed_blocks(cat.path("postings_delta/batch=1"))
        want = _kernel_blocks(cat.path("docs_delta/batch=1"), cfg,
                              inc.stats["avgdl"])
        _assert_same_blocks(blocks[placement][_OUT_COLS], want)
    assert docs["driver"] == docs["spark"] == docs["slabs"]
    assert len(docs["driver"][1]) == 90
    _assert_same_blocks(blocks["driver"], blocks["spark"])
    _assert_same_blocks(blocks["slabs"], blocks["spark"])


def test_driver_slabs_bound_docs_and_bytes(monkeypatch):
    """Slabs hold at most DRIVER_SLAB_DOCS docs and DRIVER_SLAB_BYTES of
    text over the indexed fields (nulls count 0), or one larger doc."""
    monkeypatch.setattr(build, "DRIVER_SLAB_DOCS", 3)
    monkeypatch.setattr(build, "DRIVER_SLAB_BYTES", 10)
    tbl = pa.table({
        "text": ["aaaa", "bb", "c" * 25, None, "d", "e", "f", "gggg", "\u00e9" * 3],
        "role": ["x", None, None, None, "yyyyyyyy", None, None, None, None],
    })
    slabs = list(build.driver_slabs(tbl, ["text", "role"]))
    # sizes (bytes): 5, 2, 25, 0, 9, 1, 1, 4, 6
    assert slabs == [(0, 2), (2, 1), (3, 3), (6, 2), (8, 1)]
    assert list(build.driver_slabs(tbl.slice(0, 0), ["text"])) == []


def test_merge_local_cuts_slabs_between_term_range_groups(monkeypatch):
    """merge_local hands the kernel whole (term, range) groups, at most
    DRIVER_MERGE_POSTINGS postings per call or one larger group: one
    term's ranges may meet in different calls, one group never does."""
    monkeypatch.setattr(build, "DRIVER_MERGE_POSTINGS", 5)
    blocks = pd.DataFrame(
        [("a", 0, 2), ("a", 1, 3), ("b", 0, 3), ("a", 0, 1), ("b", 0, 3),
         ("c", 2, 9), ("d", 2, 1), ("d", 3, 1)],
        columns=["term", "range_id", "n_docs"],
    )
    calls = []

    def kernel(batches):
        pdf = next(batches)
        calls.append((sorted(set(zip(pdf["term"], pdf["range_id"]))),
                      int(pdf["n_docs"].sum())))
        return iter([])

    assert build.merge_local(blocks, kernel) is None
    assert calls == [
        ([("a", 0)], 3), ([("a", 1)], 3), ([("b", 0)], 6), ([("c", 2)], 9),
        ([("d", 2), ("d", 3)], 2),
    ]


def test_compacted_postings_equal_across_placements(
    spark, writer_index, tmp_path, nrt_placement
):
    """Two batches and deletes (a docid list, a key list, a key
    DataFrame) compacted on each placement: the compacted docs and
    postings are identical across placements and equal to the doc-range
    builder's over the compacted docs."""
    base, cfg = writer_index
    docs, blocks = {}, {}
    for placement in ("driver", "spark"):
        d, inc = _placed_index(spark, base, cfg, tmp_path, placement, nrt_placement)
        for bid in (0, 2):
            inc.process_batch(_stream_batch(spark, 40, bid), bid)
        base_max = int(inc.stats["max_docid"])
        cap = int(inc.stats["batch_capacity"])
        inc.delete_docids([1, 5, base_max + 3])
        inc.delete_turns([("w2", 7)])
        inc.delete_turns(spark.createDataFrame([("w0", 11)], "conv_id string, turn_idx int"))
        inc.compact()
        cat = IndexCatalog(d)
        stats = cat.read_json("stats.json")
        docs[placement] = _table_rows(spark, cat.path("docs"))
        ids = {r["docid"] for r in docs[placement][1]}
        # turn t of batch N's one conversation has docid base_max + N * cap + t + 1
        assert not ids & {1, 5, base_max + 3, base_max + 12, base_max + 2 * cap + 8}
        blocks[placement] = _bucketed_blocks(cat.path("postings"))
        want = _kernel_blocks(cat.path("docs"), cfg, stats["avgdl"])
        _assert_same_blocks(blocks[placement][_OUT_COLS], want)
    assert docs["driver"] == docs["spark"]
    _assert_same_blocks(blocks["driver"], blocks["spark"])


def _dictionary_rows(spark, path: str) -> tuple:
    """(Spark schema, term-ordered rows) of a dictionary table."""
    df = spark.read.parquet(path)
    return df.schema, df.orderBy("term").collect()


def test_compaction_equal_across_placements(
    spark, writer_index, tmp_path, compact_placement, last_job_id, monkeypatch
):
    """Two batches and deletes compacted on the Spark placement and on
    the driver, also with tiny merge slabs ('slabs': 7 postings): the
    staged docs (rows and Spark schema), blocks (every column), the
    dictionary (rows and Spark schema) and stats.json are equal. The
    driver placement runs no Spark job."""
    base, cfg = writer_index
    got = {}
    for placement in ("spark", "driver", "slabs"):
        d = str(tmp_path / placement)
        shutil.copytree(base, d)
        compact_placement("spark" if placement == "spark" else "driver")
        if placement == "slabs":
            monkeypatch.setattr(build, "DRIVER_MERGE_POSTINGS", 7)
        inc = IncrementalIndexer(spark, d, cfg)
        for bid in (0, 2):
            inc.process_batch(_stream_batch(spark, 40, bid), bid)
        base_max = int(inc.stats["max_docid"])
        inc.delete_docids([1, 5, 6, 40, base_max + 3])
        inc.delete_turns([("w2", 7)])
        j = last_job_id()
        inc.compact()
        jobs = last_job_id() - j
        summary = inc.cat.current_snapshot()["summary"]
        assert summary["placement"] == ("spark" if placement == "spark" else "driver")
        if placement == "spark":
            assert jobs > 0
        else:
            assert jobs == summary["spark_jobs"] == 0
        cat = IndexCatalog(d)
        stats = cat.read_json("stats.json")
        got[placement] = (
            _table_rows(spark, cat.path("docs")),
            _bucketed_blocks(cat.path("postings")),
            _dictionary_rows(spark, cat.path("dictionary")),
            stats,
        )
    want = got["spark"]
    assert len(want[0][1]) > 0 and len(want[2][1]) > 0
    for placement in ("driver", "slabs"):
        docs, blocks, dictionary, stats = got[placement]
        assert docs == want[0], placement
        _assert_same_blocks(blocks, want[1])
        assert dictionary == want[2], placement
        assert stats == want[3], placement


# texts where Python's str.split()/str.lower() and Java's \\s/$ differ
_NON_ASCII_TEXTS = [
    "eps\u00a0zeta worst", "alpha\u2003beta\tgamma best", "x\x1cy\u0085z",
    "\u0130stanbul \u212aelvin Stra\u00dfe \u03a3\u0391\u03a3 test",
    "\uff46\uff55\uff4c\uff4c width", "   ", "", None, "this is\r\nbest",
    "line\u2028 end\u0085 worst",
]


def _non_ascii_batch(spark, conv_id: str):
    return spark.createDataFrame(
        [(conv_id, i, "user", t, None, dt.datetime(2025, 1, 1))
         for i, t in enumerate(_NON_ASCII_TEXTS)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )


@pytest.mark.parametrize("analyzer", ["whitespace", "simple"])
def test_delta_segment_equal_across_placements_non_ascii(
    spark, tiny_df, tmp_path, nrt_placement, analyzer
):
    """The Spark placement takes dl from the Catalyst split (Java regex);
    the driver placement must count the same tokens, also where Python's
    str.split() and Java's \\s disagree (U+00A0, U+2003, U+0085, U+001C)
    and where lowercasing leaves ASCII (simple)."""
    cfg = EngineConfig(block_size=16, range_size=64, n_term_buckets=8,
                       analyzer=analyzer)
    base = str(tmp_path / "base")
    IndexBuilder(spark, base, cfg).build(tiny_df, build_id="a0")
    batch = _non_ascii_batch(spark, "u")
    docs, blocks = {}, {}
    for placement in ("driver", "spark"):
        d, inc = _placed_index(spark, base, cfg, tmp_path, placement, nrt_placement)
        inc.process_batch(batch, 1)
        cat = IndexCatalog(d)
        docs[placement] = _table_rows(spark, cat.path("docs_delta/batch=1"))
        blocks[placement] = _bucketed_blocks(cat.path("postings_delta/batch=1"))
        want = _kernel_blocks(cat.path("docs_delta/batch=1"), cfg,
                              inc.stats["avgdl"])
        _assert_same_blocks(blocks[placement][_OUT_COLS], want)
    assert docs["driver"] == docs["spark"]
    dl = [r["dl"] for r in docs["driver"][1]]
    assert dl[0] == (2 if analyzer == "whitespace" else 3)
    assert dl[5:8] == [0, 0, 0]
    _assert_same_blocks(blocks["driver"], blocks["spark"])


def _tf_per_doc(postings_path: str) -> dict:
    """docid -> the sum of its tf over every block of a postings table."""
    from marlin_spark.functions.codec import decode_blocks_many

    tbl = pads.dataset(postings_path, partitioning="hive", format="parquet").to_table(
        columns=["n_docs", "postings"]
    )
    docids, tfs, _dls, _ = decode_blocks_many(
        tbl["postings"].to_pylist(), tbl["n_docs"].to_numpy().astype(np.int64)
    )
    return pd.Series(tfs).groupby(docids).sum().to_dict()


@pytest.mark.parametrize("analyzer", ["whitespace", "simple"])
def test_dl_counts_the_indexed_tokens_non_ascii(
    spark, tmp_path, nrt_placement, compact_placement, analyzer
):
    """Every doc's dl equals the sum of tf over its postings, on the
    non-ASCII text set: after the bulk build, after an NRT batch on each
    placement and after a compaction on each placement, whose tables
    (docs, dictionary with its fc partitions) are equal."""
    cfg = EngineConfig(block_size=4, range_size=8, n_term_buckets=4,
                       analyzer=analyzer)
    base = str(tmp_path / "base")
    IndexBuilder(spark, base, cfg).build(_non_ascii_batch(spark, "a"), build_id="n0")

    def check(cat: IndexCatalog, docs: str, postings: str) -> None:
        dl = {r["docid"]: r["dl"] for r in spark.read.parquet(cat.path(docs)).collect()}
        tf = _tf_per_doc(cat.path(postings))
        assert {d: n for d, n in dl.items() if n} == tf
        assert len(tf) >= 7

    check(IndexCatalog(base), "docs", "postings")
    got = {}
    for placement in ("driver", "spark"):
        d = str(tmp_path / placement)
        shutil.copytree(base, d)
        nrt_placement(placement)
        compact_placement(placement)
        inc = IncrementalIndexer(spark, d, cfg)
        inc.process_batch(_non_ascii_batch(spark, "b"), 1)
        check(inc.cat, "docs_delta/batch=1", "postings_delta/batch=1")
        inc.delete_docids([2])
        inc.compact()
        assert inc.cat.current_snapshot()["summary"]["placement"] == placement
        check(inc.cat, "docs", "postings")
        got[placement] = (
            _table_rows(spark, inc.cat.path("docs")),
            _dictionary_rows(spark, inc.cat.path("dictionary")),
        )
    assert got["driver"] == got["spark"]
    if analyzer == "whitespace":
        fc = {r["term"]: r["fc"] for r in got["driver"][1][1]}
        assert fc["line\u2028"] == fc["end\u0085"] == "oth"
