"""The two placements of an NRT write (streaming/incremental.py).

A micro-batch of at most DRIVER_BATCH_MAX rows in DRIVER_BATCH_BYTES is
indexed on the driver from one bounded Arrow collect; a larger one runs
as Spark stages. Deletes always run on the driver (keys or docids given
as a DataFrame are collected first). Both placements must
write the same index: the same docids, the same docs rows and blocks
(byte identity is asserted in test_blocks_fastpath.py), the same
answers on every query path before and after compaction, and the same
behaviour on edge cases (empty batch, null text, null keys, timestamps).
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pytest

from marlin_spark.oracle.bm25 import OracleIndex, assign_docids
from marlin_spark.query.engine import SearchEngine
from marlin_spark.streaming import incremental
from marlin_spark.streaming.incremental import IncrementalIndexer

PLACEMENTS = ("driver", "spark")
SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp"
)
TS = dt.datetime(2025, 3, 4, 5, 6, 7, 891011)


@pytest.fixture()
def nrt_index(spark, tiny_index, tmp_path):
    base_dir, cfg, _ = tiny_index
    d = str(tmp_path / "nrt_idx")
    shutil.copytree(base_dir, d)
    return d, cfg


def _batch(spark, rows):
    return spark.createDataFrame([r + (TS,) for r in rows], SCHEMA)


def _paths(eng, q, k=1000):
    """Ranked (docid, score at 9 dp) of every query path."""
    return {
        "wand": [(r["docid"], round(r["score"], 9))
                 for r in eng.search(q, k=k).collect()],
        "exact": [(r["docid"], round(r["score"], 9))
                  for r in eng.search(q, k=k, use_wand=False).collect()],
        "local": [(doc, round(s, 9)) for doc, s in eng.search_local(q, k)],
    }


def test_mixed_placements_match_oracle(spark, nrt_index, tiny_rows, nrt_placement):
    """One batch per placement plus key deletes of a base, a driver-batch
    and a Spark-batch turn: before compaction every path returns the
    oracle's live docids; after it, the oracle's ranking at 9 dp."""
    d, cfg = nrt_index
    inc = IncrementalIndexer(spark, d, cfg)
    base_max = int(inc.stats["max_docid"])
    cap = int(inc.stats["batch_capacity"])
    docs = dict(assign_docids(tiny_rows))
    keys = {
        (r["conv_id"], r["turn_idx"]): i + 1
        for i, r in enumerate(sorted(tiny_rows, key=lambda r: (r["conv_id"], r["turn_idx"])))
    }
    batches = {
        "driver": [("mix-d", 1, "user", "worst driver placed turn", None),
                   ("mix-d", 0, "user", "this is best test", None)],
        "spark": [("mix-s", 0, "user", "worst spark placed turn", None),
                  ("mix-s", 1, "assistant", "aaaa bbbb test", None)],
    }
    for bid, placement in enumerate(PLACEMENTS):
        nrt_placement(placement)
        rows = batches[placement]
        inc.process_batch(_batch(spark, rows), bid)
        for i, r in enumerate(sorted(rows)):
            keys[(r[0], r[1])] = base_max + bid * cap + i + 1
            docs[keys[(r[0], r[1])]] = r[3]
    doomed = [min(k for k in keys if not k[0].startswith("mix-")),
              ("mix-d", 0), ("mix-s", 1)]
    inc.delete_turns(doomed)
    for key in doomed:
        del docs[keys[key]]
    oracle = OracleIndex(sorted(docs.items()))
    queries = ["worst", "best test", "aaaa bbbb", "this worst"]

    eng = SearchEngine(spark, d, cfg)
    for q in queries:
        want = {doc for doc, _ in oracle.search(q, k=1000)}
        for path, got in _paths(eng, q).items():
            assert {doc for doc, _ in got} == want, (q, path)
    inc.compact()
    eng = SearchEngine(spark, d, cfg)
    assert eng.stats["n_docs"] == len(docs)
    # a term new to the index is searchable from the compaction on
    for q in queries + ["placed"]:
        want = [(doc, round(s, 9)) for doc, s in oracle.search(q, k=10)]
        for path, got in _paths(eng, q, k=10).items():
            assert got == want, (q, path)


@pytest.mark.parametrize("placement", PLACEMENTS)
def test_empty_batch_leaves_readable_tables(spark, nrt_index, nrt_placement, placement):
    d, cfg = nrt_index
    nrt_placement(placement)
    inc = IncrementalIndexer(spark, d, cfg)
    n_docs = inc.stats["n_docs"]
    inc.process_batch(spark.createDataFrame([], SCHEMA), 0)
    assert inc.cat.current_snapshot()["segments"] == [[0, 1]]
    assert spark.read.parquet(inc.cat.path("docs_delta/batch=0")).count() == 0
    eng = SearchEngine(spark, d, cfg)
    paths = _paths(eng, "worst")
    assert paths["wand"] == paths["exact"] == paths["local"] != []
    assert eng.hydrate(eng.search("", k=1000)).count() == n_docs
    # a key delete reads the empty delta docs too
    first = sorted(inc.cat.read_docs(spark, cfg.range_size)
                   .select("conv_id", "turn_idx").collect())[0]
    inc.delete_turns([(first["conv_id"], first["turn_idx"])])
    inc.compact()
    assert inc.stats["n_docs"] == n_docs - 1


def test_null_text_and_null_keys_same_on_both_placements(
    spark, nrt_index, tmp_path, nrt_placement
):
    """A null text gets dl 0, and rows with null conv_id or turn_idx get
    the same docids on both placements (Spark orders nulls first)."""
    base, cfg = nrt_index
    rows = [
        ("n-b", 1, "user", None, None),
        (None, 4, "user", "worst null conv", None),
        ("n-b", None, "user", "best null turn", None),
        ("n-a", 0, "user", "this is test", None),
        (None, None, "user", "aaaa both null", None),
    ]
    got = {}
    for placement in PLACEMENTS:
        d = str(tmp_path / placement)
        shutil.copytree(base, d)
        nrt_placement(placement)
        inc = IncrementalIndexer(spark, d, cfg)
        inc.process_batch(_batch(spark, rows), 0)
        got[placement] = [
            (r["docid"], r["conv_id"], r["turn_idx"], r["text"], r["dl"])
            for r in spark.read.parquet(inc.cat.path("docs_delta/batch=0"))
            .orderBy("docid").collect()
        ]
    assert got["driver"] == got["spark"]
    base_max = int(inc.stats["max_docid"])
    assert [(doc - base_max, c, t) for doc, c, t, _x, _dl in got["driver"]] == [
        (1, None, None), (2, None, 4), (3, "n-a", 0), (4, "n-b", None), (5, "n-b", 1),
    ]
    assert [dl for *_r, text, dl in got["driver"] if text is None] == [0]


@pytest.mark.parametrize("placement", PLACEMENTS)
def test_timestamp_reads_back_unchanged(spark, nrt_index, nrt_placement, placement):
    d, cfg = nrt_index
    nrt_placement(placement)
    inc = IncrementalIndexer(spark, d, cfg)
    inc.process_batch(_batch(spark, [("ts-a", 0, "user", "worst timed turn", None)]), 0)
    docid = int(inc.stats["max_docid"]) + 1
    row = inc.cat.read_docs(spark, cfg.range_size).filter(f"docid = {docid}").collect()
    assert [r["ts"] for r in row] == [TS]
    eng = SearchEngine(spark, d, cfg)
    hyd = eng.hydrate(eng.search("worst", k=1000, use_wand=False)).collect()
    assert [r["ts"] for r in hyd if r["docid"] == docid] == [TS]


def test_driver_writes_run_one_spark_job_and_deletes_none(
    spark, nrt_index, tmp_path, last_job_id
):
    """A micro-batch under the gate costs one Spark job (its bounded
    collect), update_turns the same one, and list deletes none."""
    d, cfg = nrt_index
    src = str(tmp_path / "batch.parquet")
    _batch(spark, [(f"j-{i % 3}", i, "user", f"worst job count {i}", None)
                   for i in range(30)]).write.parquet(src)
    batch = spark.read.parquet(src)
    inc = IncrementalIndexer(spark, d, cfg)
    assert batch.count() <= incremental.DRIVER_BATCH_MAX

    j = last_job_id()
    inc.process_batch(batch, 0)
    assert last_job_id() - j == 1
    j = last_job_id()
    inc.update_turns(batch, 1)
    assert last_job_id() - j == 1
    j = last_job_id()
    inc.delete_turns([("j-0", 0), ("j-1", 1)])
    inc.delete_docids([2, 3])
    assert last_job_id() - j == 0

    eng = SearchEngine(spark, d, cfg)
    hits = {doc for doc, _ in eng.search_local("worst", k=1000)}
    # batch 0 was replaced by batch 1, two of whose turns were deleted
    base_max = int(inc.stats["max_docid"])
    streamed = {doc for doc in hits if doc > base_max}
    assert len(streamed) == 28
    assert min(streamed) > base_max + int(inc.stats["batch_capacity"])
    assert not {2, 3} & hits


def test_tombstone_invisible_until_renamed(spark, nrt_index, monkeypatch):
    """A driver delete writes its tombstone file under a dot-prefixed
    temp name, then renames it. A compaction run between the two (with a
    live batch and an earlier tombstone to fold) neither lists nor folds
    nor removes the temp file; after the rename the delete is masked,
    and the next compaction folds it."""
    d, cfg = nrt_index
    inc = IncrementalIndexer(spark, d, cfg)
    inc.process_batch(_batch(spark, [("tomb-a", 0, "user", "worst tomb", None)]), 0)
    inc.delete_docids([2])
    victim = sorted(inc.cat.read_docs(spark, cfg.range_size)
                    .select("conv_id", "turn_idx", "docid").collect())[0]
    real = os.replace
    seen = {}

    def hook(src, dst):
        if str(src).endswith(".parquet.tmp"):
            seen["tmp"] = os.path.basename(src)
            seen["listed"] = [os.path.basename(f) for f in inc._tombstone_files()]
            seen["engine_deleted"] = SearchEngine(spark, d, cfg).deleted.tolist()
            inc.compact()
            seen["after_compact"] = sorted(os.listdir(os.path.dirname(src)))
        return real(src, dst)

    monkeypatch.setattr(incremental.os, "replace", hook)
    inc.delete_turns([(victim["conv_id"], victim["turn_idx"])])
    monkeypatch.undo()

    assert seen["tmp"].startswith(".")
    assert len(seen["listed"]) == 1 and seen["tmp"] not in seen["listed"]
    assert seen["engine_deleted"] == [2]
    # the compaction folded batch 0 and docid 2, and removed only the
    # tombstone file it listed
    assert seen["after_compact"] == [seen["tmp"]]
    assert inc.cat.current_snapshot()["segments"] == []
    eng = SearchEngine(spark, d, cfg)
    assert eng.deleted.tolist() == [victim["docid"]]
    live = {r["docid"] for r in eng.search("", k=1000).collect()}
    assert victim["docid"] not in live and 2 not in live
    inc.compact()
    eng = SearchEngine(spark, d, cfg)
    assert eng.deleted is None
    assert not {victim["docid"], 2} & {
        r["docid"] for r in eng.cat.read_docs(spark, cfg.range_size).collect()
    }


def test_byte_gate_sends_long_batch_to_spark(
    spark, nrt_index, tmp_path, last_job_id, monkeypatch
):
    """A batch under the row gate whose Arrow table is over
    DRIVER_BATCH_BYTES runs as Spark stages, after its bounded collect,
    and writes the docs the driver placement writes."""
    d, cfg = nrt_index
    src = str(tmp_path / "batch.parquet")
    _batch(spark, [(f"b-{i % 4}", i, "user", f"worst long turn {i} " * 20, None)
                   for i in range(30)]).write.parquet(src)
    batch = spark.read.parquet(src)
    nbytes = batch.toArrow().nbytes
    got = {}
    for gate in (nbytes * 2, nbytes // 2):
        monkeypatch.setattr(incremental, "DRIVER_BATCH_BYTES", gate)
        on_driver = IncrementalIndexer._collect_small(batch) is not None
        assert on_driver == (gate > nbytes)
        idx = str(tmp_path / f"idx{gate}")
        shutil.copytree(d, idx)
        inc = IncrementalIndexer(spark, idx, cfg)
        j = last_job_id()
        inc.process_batch(batch, 0)
        assert (last_job_id() - j == 1) == on_driver
        got[on_driver] = sorted(
            tuple(r) for r in spark.read.parquet(inc.cat.path("docs_delta/batch=0"))
            .select("docid", "conv_id", "turn_idx", "dl").collect()
        )
    assert got[True] == got[False] and len(got[True]) == 30


def test_dataframe_deletes_collect_once(spark, nrt_index, tmp_path, last_job_id):
    """Keys or docids given as a DataFrame are collected by one Spark job
    and written by the driver's one tombstone writer, as lists are."""
    d, cfg = nrt_index
    inc = IncrementalIndexer(spark, d, cfg)
    rows = sorted(inc.cat.read_docs(spark, cfg.range_size)
                  .select("conv_id", "turn_idx", "docid").collect())
    keys, ids = str(tmp_path / "keys.parquet"), str(tmp_path / "ids.parquet")
    spark.createDataFrame(
        [(rows[0]["conv_id"], rows[0]["turn_idx"]), ("no-such-conv", 0)],
        "conv_id string, turn_idx long",
    ).write.parquet(keys)
    spark.createDataFrame([(rows[1]["docid"],), (None,)], "docid long").write.parquet(ids)
    key_df, id_df = spark.read.parquet(keys), spark.read.parquet(ids)
    j = last_job_id()
    inc.delete_turns(key_df)
    assert last_job_id() - j == 1
    j = last_job_id()
    inc.delete_docids(id_df)
    assert last_job_id() - j == 1
    assert len(inc._tombstone_files()) == 2
    eng = SearchEngine(spark, d, cfg)
    assert eng.deleted.tolist() == sorted([rows[0]["docid"], rows[1]["docid"]])


# ------------------------------------------------ compaction placements
def test_failed_driver_compaction_leaves_snapshot_live(
    spark, nrt_index, compact_placement, monkeypatch
):
    """An exception inside the driver placement's postings write (after
    two buckets) commits nothing: the previous snapshot stays live, with
    its segment and tombstone, and the next compact() succeeds."""
    compact_placement("driver")
    d, cfg = nrt_index
    inc = IncrementalIndexer(spark, d, cfg)
    inc.process_batch(_batch(spark, [("crash-c", 0, "user", "worst folded turn", None)]), 0)
    inc.delete_docids([2])
    snap = inc.cat.read_snapshot()
    before = _paths(SearchEngine(spark, d, cfg), "worst")

    real, calls = incremental.merge_local, []

    def crash(blocks, kernel):
        if len(calls) == 2:
            raise RuntimeError("crash")
        calls.append(1)
        return real(blocks, kernel)

    with monkeypatch.context() as m:
        m.setattr(incremental, "merge_local", crash)
        with pytest.raises(RuntimeError, match="crash"):
            inc.compact()
    assert inc.cat.read_snapshot() == snap
    eng = SearchEngine(spark, d, cfg)
    assert eng.deleted.tolist() == [2]
    assert _paths(eng, "worst") == before

    inc.compact()
    assert inc.cat.read_snapshot()["summary"]["placement"] == "driver"
    eng = SearchEngine(spark, d, cfg)
    assert eng.deleted is None and eng.cat.read_snapshot()["segments"] == []
    after = _paths(eng, "worst")
    assert after["wand"] == after["exact"] == after["local"]
    assert {doc for doc, _ in after["local"]} == {doc for doc, _ in before["local"]}


@pytest.mark.parametrize("ts_type", ["timestamp", "timestamp_ntz"])
def test_compacted_timestamp_keeps_its_spark_type(
    spark, tiny_df, tmp_path, compact_placement, ts_type
):
    """The driver placement's compacted docs keep the base's Spark type
    for ts: TimestampType (stored by Spark as INT96) and TimestampNTZType
    (a source of naive timestamps, like perfbench's) both read back with
    an unchanged schema and values through read_docs and hydration."""
    from pyspark.sql import functions as F

    from marlin_spark.config import EngineConfig
    from marlin_spark.index.build import IndexBuilder

    compact_placement("driver")
    cfg = EngineConfig(block_size=16, range_size=64, n_term_buckets=8)
    d = str(tmp_path / "idx")
    IndexBuilder(spark, d, cfg).build(
        tiny_df.withColumn("ts", F.col("ts").cast(ts_type)), build_id="ts0"
    )
    inc = IncrementalIndexer(spark, d, cfg)
    inc.process_batch(
        _batch(spark, [("ts-c", 0, "user", "worst timed turn", None)])
        .withColumn("ts", F.col("ts").cast(ts_type)), 0,
    )
    docs = inc.cat.read_docs(spark, cfg.range_size)
    assert docs.schema["ts"].dataType.typeName() == ts_type
    want = sorted((r["docid"], r["ts"]) for r in docs.select("docid", "ts").collect())
    schema = docs.schema

    inc.compact()
    assert inc.cat.read_snapshot()["summary"]["placement"] == "driver"
    docs = inc.cat.read_docs(spark, cfg.range_size)
    assert docs.schema == schema
    assert sorted((r["docid"], r["ts"]) for r in docs.select("docid", "ts").collect()) == want
    docid = int(inc.stats["max_docid"])
    assert (docid, TS) in want
    eng = SearchEngine(spark, d, cfg)
    hyd = eng.hydrate(eng.search("worst", k=1000, use_wand=False)).collect()
    assert {r["docid"]: r["ts"] for r in hyd}[docid] == TS
    assert hyd and all((r["docid"], r["ts"]) in want for r in hyd)
