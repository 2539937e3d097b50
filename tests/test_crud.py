"""CRUD delete/update semantics (reference: test/robot/crud.robot and
document.robot; delete index.c:1037-1070 -> sindex.c:1057-1099, replace
index.c:965-1034) plus NRT delta visibility before compaction.

Covers the round-1 verdict gaps: tombstoned docs vanish from every query
path immediately (fresh engine), compaction folds tombstones + deltas and
refreshes n_docs/avgdl/df so post-compaction ranking is rank-identical to
an oracle built over the edited corpus (same docids)."""

import datetime as dt
import shutil

import pytest

from marlin_spark.oracle.bm25 import OracleIndex, assign_docids
from marlin_spark.query.engine import SearchEngine
from marlin_spark.streaming.incremental import IncrementalIndexer


@pytest.fixture()
def crud_index(spark, tiny_index, tmp_path):
    base_dir, cfg, _ = tiny_index
    d = str(tmp_path / "crud_idx")
    shutil.copytree(base_dir, d)
    return d, cfg


def _batch(spark, rows):
    return spark.createDataFrame(
        [r + (dt.datetime(2025, 1, 1),) for r in rows],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )


def test_streamed_turns_visible_before_compaction(spark, crud_index):
    """NRT visibility (ADVICE item): delta segments are searchable for
    terms already in the dictionary WITHOUT waiting for compact()."""
    d, cfg = crud_index
    inc = IncrementalIndexer(spark, d, cfg)
    # existing vocabulary ('worst' is in the base dictionary)
    inc.process_batch(
        _batch(spark, [("zzz-nrt", 0, "user", "worst streamed turn", None)]), 0
    )
    eng = SearchEngine(spark, d, cfg)
    hyd = eng.hydrate(eng.search("worst", k=100, use_wand=False)).collect()
    texts = {r["text"] for r in hyd}
    assert "worst streamed turn" in texts  # delta postings + delta docs seen
    # WAND path sees it too
    wand_ids = {r["docid"] for r in eng.search("worst", k=100).collect()}
    exact_ids = {r["docid"] for r in eng.search("worst", k=100, use_wand=False).collect()}
    assert wand_ids == exact_ids
    # local fast path includes delta segments
    local_ids = {docid for docid, _ in eng.search_local("worst", k=100)}
    assert local_ids == exact_ids


def test_delete_excludes_doc_from_every_path(spark, crud_index, tiny_oracle):
    d, cfg = crud_index
    eng0 = SearchEngine(spark, d, cfg)
    victim = eng0.search("worst", k=1, use_wand=False).collect()[0]["docid"]

    inc = IncrementalIndexer(spark, d, cfg)
    inc.delete_docids([victim])

    eng = SearchEngine(spark, d, cfg)  # fresh engine sees tombstones
    for wand in (True, False):
        ids = {r["docid"] for r in eng.search("worst", k=100, use_wand=wand).collect()}
        assert victim not in ids and ids  # others still match
    assert victim not in {doc for doc, _ in eng.search_local("worst", k=100)}
    # match-all (empty query) path
    all_ids = {r["docid"] for r in eng.search("", k=1000).collect()}
    assert victim not in all_ids
    # marlin match algebra + phrase paths
    assert victim not in {
        r["docid"] for r in eng.match_marlin("worst", prefix_last=False).collect()
    }
    # deletes are not commits yet: the engine constructed before the
    # delete keeps its tombstone set until refresh() or the next
    # compaction — the documented read-your-writes boundary
    eng0.refresh()
    assert victim not in {
        r["docid"] for r in eng0.search("worst", k=100).collect()
    }


def test_delete_by_natural_key(spark, crud_index, tiny_rows):
    d, cfg = crud_index
    pairs = assign_docids(tiny_rows)
    # pick the key of docid 1
    key_rows = sorted(tiny_rows, key=lambda r: (r["conv_id"], r["turn_idx"]))
    conv, turn = key_rows[0]["conv_id"], key_rows[0]["turn_idx"]
    inc = IncrementalIndexer(spark, d, cfg)
    inc.delete_turns([(conv, turn)])
    assert pairs[0][0] == 1  # the sorted-first key is docid 1 by contract
    eng = SearchEngine(spark, d, cfg)
    assert eng.deleted is not None and 1 in set(eng.deleted.tolist())
    assert 1 not in {r["docid"] for r in eng.search("", k=1000).collect()}
    # hydration no longer returns the deleted key
    keys = {
        (r["conv_id"], r["turn_idx"])
        for r in eng.hydrate(eng.search("", k=1000)).collect()
    }
    assert (conv, turn) not in keys


def test_compaction_folds_tombstones_and_refreshes_stats(
    spark, crud_index, tiny_rows, tiny_oracle
):
    d, cfg = crud_index
    eng0 = SearchEngine(spark, d, cfg)
    n_before = eng0.stats["n_docs"]
    epoch_before = eng0.stats.get("stats_epoch", 0)
    victims = [
        r["docid"] for r in eng0.search("worst", k=2, use_wand=False).collect()
    ]
    inc = IncrementalIndexer(spark, d, cfg)
    inc.delete_docids(victims)
    inc.compact()

    eng = SearchEngine(spark, d, cfg)
    assert eng.deleted is None  # tombstones folded
    assert eng.stats["n_docs"] == n_before - len(victims)
    assert eng.stats["stats_epoch"] == epoch_before + 1

    # rank-identity vs an oracle over the edited corpus (same docids)
    pairs = [(doc, text) for doc, text in assign_docids(tiny_rows) if doc not in victims]
    oracle = OracleIndex(pairs)
    assert abs(oracle.avgdl - eng.avgdl) < 1e-9
    for q in ["worst", "this best", "test", "aaaa bbbb"]:
        want = [(doc, round(s, 9)) for doc, s in oracle.search(q, k=10)]
        for wand in (True, False):
            got = [
                (r["docid"], round(r["score"], 9))
                for r in eng.search(q, k=10, use_wand=wand).collect()
            ]
            assert got == want, (q, wand)


_NRT_BATCHES = [
    [("nrt-a", 0, "user", "worst streamed turn", None),
     ("nrt-a", 1, "assistant", "this is best test", None)],
    [("nrt-b", 0, "user", "this is worst again", None),
     ("nrt-b", 1, "user", "test test best", None)],
    [("nrt-c", 0, "user", "worst best test", None),
     ("nrt-c", 1, "assistant", "aaaa bbbb worst", None)],
]


def test_three_uncompacted_batches_and_deletes_match_oracle(
    spark, crud_index, tiny_rows
):
    """Several live delta segments (sibling batch=N dirs) are one table
    to every Spark path, before and after compaction, with deletes that
    hit both a base turn and a streamed turn."""
    d, cfg = crud_index
    inc = IncrementalIndexer(spark, d, cfg)
    base_max = int(inc.stats.get("max_docid", inc.stats["n_docs"]))
    capacity = int(inc.stats.get("batch_capacity", cfg.batch_capacity))
    # docids: base turns by (conv_id, turn_idx) rank; batch N's turns
    # follow base_max + N * capacity in (conv_id, turn_idx) order
    docs = dict(assign_docids(tiny_rows))
    keys = {
        (r["conv_id"], r["turn_idx"]): i + 1
        for i, r in enumerate(
            sorted(tiny_rows, key=lambda r: (r["conv_id"], r["turn_idx"]))
        )
    }
    streamed = set()
    for bid, rows in enumerate(_NRT_BATCHES):
        inc.process_batch(_batch(spark, rows), bid)
        for i, r in enumerate(sorted(rows)):
            docid = base_max + bid * capacity + i + 1
            docs[docid] = r[3]
            keys[(r[0], r[1])] = docid
            streamed.add(docid)
    base_key = min(k for k in keys if not k[0].startswith("nrt-"))
    inc.delete_turns([base_key, ("nrt-b", 0)])
    for key in (base_key, ("nrt-b", 0)):
        del docs[keys[key]]
    oracle = OracleIndex(sorted(docs.items()))
    queries = ["worst", "best test", "aaaa bbbb", "this worst"]

    # before compaction: every path sees the same live docs, streamed
    # ones included (scores use the base stats until compact())
    eng = SearchEngine(spark, d, cfg)
    seen = set()
    for q in queries:
        want = {doc for doc, _ in oracle.search(q, k=1000)}
        wand = {r["docid"] for r in eng.search(q, k=1000).collect()}
        exact = {
            r["docid"] for r in eng.search(q, k=1000, use_wand=False).collect()
        }
        local = {doc for doc, _ in eng.search_local(q, k=1000)}
        assert wand == exact == local == want, q
        seen |= want & streamed
    assert seen == streamed - {keys[("nrt-b", 0)]}

    inc.compact()
    eng = SearchEngine(spark, d, cfg)
    assert eng.deleted is None
    assert eng.stats["n_docs"] == len(docs)
    assert abs(oracle.avgdl - eng.avgdl) < 1e-9
    for q in queries:
        want = [(doc, round(s, 9)) for doc, s in oracle.search(q, k=10)]
        for use_wand in (True, False):
            got = [
                (r["docid"], round(r["score"], 9))
                for r in eng.search(q, k=10, use_wand=use_wand).collect()
            ]
            assert got == want, (q, use_wand)


def test_delta_blocks_inside_a_base_range_rank_like_exact(
    spark, tiny_df, tmp_path
):
    """At the default range_size an uncompacted batch's docids fall in
    the base's last doc range, and a delta segment's block_ids restart
    at 0, so one (range, term) run holds base and delta blocks whose
    block_id order is not docid order. Every WAND placement (Spark
    single query, driver-local, Spark batch) must rank as the exact
    path does, scores included."""
    import pyarrow.dataset as pads

    from marlin_spark.config import EngineConfig
    from marlin_spark.index.build import IndexBuilder

    d = str(tmp_path / "one_range_idx")
    cfg = EngineConfig(block_size=2, n_term_buckets=8)
    IndexBuilder(spark, d, cfg).build(tiny_df, build_id="t0")
    inc = IncrementalIndexer(spark, d, cfg)
    inc.process_batch(_batch(spark, [r for b in _NRT_BATCHES for r in b]), 0)
    eng = SearchEngine(spark, d, cfg)

    # the case is exercised: a query term with several base blocks and
    # a delta block in one range
    def _runs(path):
        t = pads.dataset(path, partitioning="hive", format="parquet").to_table(
            columns=["term", "range_id"]
        ).to_pylist()
        runs = {}
        for r in t:
            key = (r["term"], r["range_id"])
            runs[key] = runs.get(key, 0) + 1
        return runs

    base = _runs(eng.cat.path("postings"))
    delta = _runs(eng.cat.committed_delta_dirs("postings")[0])
    assert any(base.get(key, 0) >= 2 for key in delta if key[0] in {"this", "best"})

    queries = ["best test", "this worst", "worst best test", "this is test",
               "aaaa worst"]
    for mode in ("any", "all"):
        batch = {}
        for r in eng.search_many_wand({q: q for q in queries}, k=10, mode=mode).collect():
            batch.setdefault(r["query_id"], []).append(
                (r["rank"], r["docid"], round(r["score"], 9))
            )
        for q in queries:
            want = [
                (r["docid"], round(r["score"], 9))
                for r in eng.search(q, k=10, mode=mode, use_wand=False).collect()
            ]
            assert want, (q, mode)
            wand = [
                (r["docid"], round(r["score"], 9))
                for r in eng.search(q, k=10, mode=mode).collect()
            ]
            local = [(doc, round(s, 9)) for doc, s in eng.search_local(q, 10, mode)]
            many = [(doc, s) for _rank, doc, s in sorted(batch.get(q, []))]
            assert wand == want, (q, mode, "wand")
            assert local == want, (q, mode, "local")
            assert many == want, (q, mode, "many")


def test_update_replaces_turn(spark, crud_index, tiny_rows):
    """On the driver placement, the default for a one-row batch."""
    _update_replaces_turn(spark, crud_index, tiny_rows)


def test_update_replaces_turn_on_spark(spark, crud_index, tiny_rows, nrt_placement):
    """The same on the Spark placement: the keys to delete are collected
    from the batch DataFrame, the append runs as Spark stages."""
    nrt_placement("spark")
    _update_replaces_turn(spark, crud_index, tiny_rows)


def _update_replaces_turn(spark, crud_index, tiny_rows):
    d, cfg = crud_index
    key_rows = sorted(tiny_rows, key=lambda r: (r["conv_id"], r["turn_idx"]))
    conv, turn = key_rows[2]["conv_id"], key_rows[2]["turn_idx"]
    inc = IncrementalIndexer(spark, d, cfg)
    inc.update_turns(
        _batch(spark, [(conv, int(turn), "user", "worst replacement text", None)]), 7
    )
    eng = SearchEngine(spark, d, cfg)
    hyd = eng.hydrate(eng.search("worst", k=200, use_wand=False)).collect()
    got = {(r["conv_id"], r["turn_idx"]): r["text"] for r in hyd}
    assert got.get((conv, turn)) == "worst replacement text"
    # old docid (3) gone everywhere
    assert 3 not in {r["docid"] for r in eng.search("", k=1000).collect()}
    # compaction preserves the replacement and the key maps to ONE doc
    inc.compact()
    eng = SearchEngine(spark, d, cfg)
    hyd = eng.hydrate(eng.search("worst", k=200, use_wand=False)).collect()
    rows = [r for r in hyd if (r["conv_id"], r["turn_idx"]) == (conv, turn)]
    assert len(rows) == 1 and rows[0]["text"] == "worst replacement text"


def test_patch_merges_fields_into_stored_turn(spark, crud_index):
    """PATCH semantics (index.c:965-1034): provided fields replace,
    absent fields survive, and the index reflects the new text."""
    _patch_merges_fields(spark, crud_index)


def test_patch_merges_fields_into_stored_turn_on_spark(
    spark, crud_index, nrt_placement
):
    """The same with the merged batch placed on Spark."""
    nrt_placement("spark")
    _patch_merges_fields(spark, crud_index)


def _patch_merges_fields(spark, crud_index):
    d, cfg = crud_index
    eng0 = SearchEngine(spark, d, cfg)
    row = eng0.hydrate(
        eng0.search("worst", k=1, use_wand=False)
    ).collect()[0]
    conv, turn = row["conv_id"], int(row["turn_idx"])
    old_role, old_ts = row["role"], row["ts"]

    inc = IncrementalIndexer(spark, d, cfg)
    inc.patch_turns(
        spark.createDataFrame(
            [(conv, turn, "patched zzpatchterm text")],
            "conv_id string, turn_idx long, text string",
        ),
        batch_id=9,
    )
    # new text is not in the base dictionary -> searchable after compact
    # (the documented NRT df boundary); role/ts must survive the merge
    inc.compact()
    eng = SearchEngine(spark, d, cfg)
    hyd = eng.hydrate(eng.search("zzpatchterm", k=10, use_wand=False)).collect()
    assert len(hyd) == 1
    got = hyd[0]
    assert (got["conv_id"], int(got["turn_idx"])) == (conv, turn)
    assert got["text"] == "patched zzpatchterm text"
    assert got["role"] == old_role and got["ts"] == old_ts
    # old docid gone; exactly one doc for the key
    all_rows = eng.hydrate(eng.search("", k=1000, use_wand=False)).collect()
    assert (
        sum(
            1
            for r in all_rows
            if (r["conv_id"], int(r["turn_idx"])) == (conv, turn)
        )
        == 1
    )


def test_patch_rejects_unknown_fields(spark, crud_index):
    d, cfg = crud_index
    inc = IncrementalIndexer(spark, d, cfg)
    with pytest.raises(ValueError, match="patchable"):
        inc.patch_turns(
            spark.createDataFrame(
                [("c", 0, 5)], "conv_id string, turn_idx long, docid long"
            ),
            batch_id=10,
        )


def test_batch_capacity_overflow_fails_loudly(spark, crud_index):
    """The overflow raises before the batch's commit, so a fresh engine
    finds none of its turns on any path (the driver placement: it raises
    before writing the batch's docs)."""
    _overflow_fails_loudly(spark, crud_index)


def test_batch_capacity_overflow_fails_loudly_on_spark(
    spark, crud_index, nrt_placement
):
    """The same on the Spark placement, which counts the rows on its
    docs write."""
    nrt_placement("spark")
    _overflow_fails_loudly(spark, crud_index)


def _overflow_fails_loudly(spark, crud_index):
    d, cfg = crud_index
    inc = IncrementalIndexer(spark, d, cfg)
    base_max = int(inc.stats.get("max_docid", inc.stats["n_docs"]))
    inc.stats["batch_capacity"] = 1
    with pytest.raises(ValueError, match="batch_capacity"):
        inc.process_batch(
            _batch(
                spark,
                [
                    ("c1", 0, "user", "a worst", None),
                    ("c1", 1, "user", "b best", None),
                ],
            ),
            0,
        )
    eng = SearchEngine(spark, d, cfg)
    for q in ("worst", "best"):
        for hits in _every_path(eng, q, k=1000).values():
            assert hits and all(doc <= base_max for doc, _ in hits), q
    everything = eng.hydrate(eng.search("", k=1000)).collect()
    assert len(everything) == base_max
    assert "c1" not in {r["conv_id"] for r in everything}


class _CountOnly:
    """A pyarrow dataset whose rows must not be read: count_rows only."""

    def __init__(self, ds):
        self._ds = ds

    def count_rows(self, **kw):
        return self._ds.count_rows(**kw)

    def to_table(self, *a, **kw):
        raise AssertionError("tombstone docids read on the driver")


def test_tombstones_above_driver_bound_refuse_until_compact(
    spark, crud_index, monkeypatch
):
    """Tombstones always live on the driver. Above tombstone_driver_max
    an engine refuses to load them: construction and refresh() raise,
    naming compact(), without reading the docid array (count_rows reads
    parquet metadata only). A long-lived engine whose refresh() raised
    still answers from its old state; after compact() every engine
    answers with the survivors."""
    import pyarrow.dataset as pads

    d, cfg = crud_index
    low = cfg.with_(tombstone_driver_max=1)
    eng0 = SearchEngine(spark, d, low)
    before_local = eng0.search_local("this", k=1000)
    before_spark = [
        (r["docid"], r["score"]) for r in eng0.search("this", k=1000).collect()
    ]
    assert len(before_local) > 2
    victims = [doc for doc, _ in before_local[:2]]
    survivors = {doc for doc, _ in before_local} - set(victims)
    IncrementalIndexer(spark, d, low).delete_docids(victims)

    real = pads.dataset

    def count_only(source, *a, **kw):
        ds = real(source, *a, **kw)
        return _CountOnly(ds) if "tombstones" in str(source) else ds

    with monkeypatch.context() as m:
        m.setattr(pads, "dataset", count_only)
        with pytest.raises(RuntimeError, match="compact"):
            SearchEngine(spark, d, low)
        with pytest.raises(RuntimeError, match="compact"):
            eng0.refresh()
        assert eng0.search_local("this", k=1000) == before_local
        assert [
            (r["docid"], r["score"]) for r in eng0.search("this", k=1000).collect()
        ] == before_spark
    IncrementalIndexer(spark, d, low).compact()
    # the long-lived engine follows the compaction commit by itself
    for eng in (eng0, SearchEngine(spark, d, low)):
        assert eng.deleted is None
        for path, hits in _every_path(eng, "this", k=1000).items():
            assert {doc for doc, _ in hits} == survivors, path


def test_delete_during_compaction_stays_for_the_next(
    spark, tiny_index, tiny_rows, tmp_path, monkeypatch, compact_placement
):
    """compact() folds exactly the tombstone files it listed when it
    started, on both placements. A turn deleted mid-compaction stays in
    tombstones/: a fresh engine excludes it on every path, the compacted
    docs and postings hold the same docids, and the next compaction
    folds it."""
    import numpy as np
    import pyarrow.dataset as pads

    from marlin_spark.functions.codec import decode_blocks_many
    from marlin_spark.index.catalog import IndexCatalog

    base_dir, cfg, _ = tiny_index
    for placement in ("driver", "spark"):
        compact_placement(placement)
        d = str(tmp_path / placement)
        shutil.copytree(base_dir, d)
        inc = IncrementalIndexer(spark, d, cfg)
        inc.process_batch(_batch(spark, _NRT_BATCHES[0]), 0)
        key_rows = sorted(tiny_rows, key=lambda r: (r["conv_id"], r["turn_idx"]))
        inc.delete_turns([(key_rows[0]["conv_id"], key_rows[0]["turn_idx"])])
        late = next(
            doc for doc, _ in SearchEngine(spark, d, cfg).search_local("worst", k=100)
            if 1 < doc <= len(key_rows)
        )
        late_key = (key_rows[late - 1]["conv_id"], key_rows[late - 1]["turn_idx"])

        # the delete lands right after compact() listed the tombstones:
        # _compact_tables is where both placements start
        fired = []
        real_tables = inc._compact_tables

        def tables_after_a_delete(*a, **kw):
            if not fired:
                fired.append(True)
                IncrementalIndexer(spark, d, cfg).delete_turns([late_key])
            return real_tables(*a, **kw)

        monkeypatch.setattr(inc, "_compact_tables", tables_after_a_delete)
        inc.compact()
        assert fired
        assert inc.cat.current_snapshot()["summary"]["placement"] == placement

        cat = IndexCatalog(d)
        docs_ids = {
            r["docid"]
            for r in cat.read(spark, "docs").filter("dl > 0").select("docid").collect()
        }
        blocks = pads.dataset(
            cat.path("postings"), partitioning="hive", format="parquet"
        ).to_table(columns=["n_docs", "postings"])
        post_ids = set(decode_blocks_many(
            blocks["postings"].to_pylist(),
            blocks["n_docs"].to_numpy().astype(np.int64),
        )[0].tolist())
        assert post_ids == docs_ids
        assert 1 not in docs_ids and late in docs_ids

        eng = SearchEngine(spark, d, cfg)
        assert eng.deleted.tolist() == [late]
        for path, hits in _every_path(eng, "worst", k=1000).items():
            assert hits and late not in {doc for doc, _ in hits}, path
        assert late not in {r["docid"] for r in eng.search("", k=1000).collect()}
        assert late not in {
            r["docid"] for r in eng.match_marlin("worst", prefix_last=False).collect()
        }
        # the next compaction folds it
        IncrementalIndexer(spark, d, cfg).compact()
        eng = SearchEngine(spark, d, cfg)
        assert eng.deleted is None
        assert late not in {
            r["docid"] for r in eng.cat.read(spark, "docs").select("docid").collect()
        }


def test_snapshot_log_stays_bounded(spark, crud_index):
    """Each micro-batch commits one snapshot; compaction expires the
    metadata files of the append commits it folded, so after 20 batches
    and a compact() metadata/ holds the retained snapshot and the hint."""
    import os

    d, cfg = crud_index
    inc = IncrementalIndexer(spark, d, cfg)
    for bid in range(20):
        inc.process_batch(
            _batch(spark, [(f"nrt-m{bid:02d}", 0, "user", "worst bounded log", None)]),
            bid,
        )
    assert len(os.listdir(os.path.join(d, "metadata"))) == 21
    inc.compact()
    assert sorted(os.listdir(os.path.join(d, "metadata"))) == [
        "v21.metadata.json", "version-hint.text"
    ]
    eng = SearchEngine(spark, d, cfg)
    assert len(eng.search_local("bounded", k=100)) == 20


def test_compaction_refreshes_total_tokens(spark, crud_index, tiny_rows):
    """stats.json total_tokens after adds + deletes + compact() is the
    token count of the live collection, not the base build's."""
    d, cfg = crud_index
    inc = IncrementalIndexer(spark, d, cfg)
    base_max = int(inc.stats.get("max_docid", inc.stats["n_docs"]))
    rows = _NRT_BATCHES[0]
    inc.process_batch(_batch(spark, rows), 0)
    docs = dict(assign_docids(tiny_rows))
    for i, r in enumerate(sorted(rows)):
        docs[base_max + i + 1] = r[3]
    key_rows = sorted(tiny_rows, key=lambda r: (r["conv_id"], r["turn_idx"]))
    victims = [(r["conv_id"], r["turn_idx"]) for r in key_rows[:3]]
    inc.delete_turns(victims)
    for docid in (1, 2, 3):
        del docs[docid]
    inc.compact()
    oracle = OracleIndex(sorted(docs.items()))
    stats = SearchEngine(spark, d, cfg).stats
    assert stats["n_docs"] == oracle.n_docs
    assert stats["total_tokens"] == oracle.total_tokens


# Spark jobs of the compaction below on the Spark placement (one delta
# batch, no tombstones): 2 docs footer reads, the docs write, the
# postings merge-and-write (shuffle map + merge), and the dictionary's
# aggregate, collect and write. Before compaction shared the bulk
# build's merge-and-write stage it ran 17 jobs here. The driver
# placement runs none (test_blocks_fastpath.py).
_COMPACT_MAX_JOBS = 8


def test_compaction_merge_tasks_and_jobs_bounded(
    spark, crud_index, last_job_id, compact_placement
):
    """compact() on the Spark placement runs its merge in no more tasks
    than its postings scan has splits, and runs no more Spark jobs than
    the guard above."""
    compact_placement("spark")
    d, cfg = crud_index
    inc = IncrementalIndexer(spark, d, cfg)
    inc.process_batch(_batch(spark, _NRT_BATCHES[0]), 0)
    job0 = last_job_id()
    inc.compact()
    job1 = last_job_id()
    assert job1 - job0 <= _COMPACT_MAX_JOBS
    tracker = spark.sparkContext.statusTracker()
    stages = sorted(
        {
            sid
            for j in range(job0 + 1, job1 + 1)
            for sid in tracker.getJobInfo(j).stageIds
        }
    )
    label = f"merge postings__snap{inc.cat.current_snapshot()['snapshot_id']}"
    merge = [
        tracker.getStageInfo(s)
        for s in stages
        if tracker.getStageInfo(s).name == label
    ]
    # the stage that scans base + delta postings, then the merge stage
    assert len(merge) >= 2
    assert merge[-1].numTasks <= merge[0].numTasks
    summary = inc.cat.current_snapshot()["summary"]
    assert summary["spark_jobs"] <= job1 - job0
    assert summary["seconds"] > 0


_DICT_COLS = ["term", "term_id", "df", "cf", "max_tfnorm", "n_blocks", "top_maxes"]


@pytest.mark.parametrize(
    "placement, driver_max",
    [("driver", None), ("spark", None), ("spark", 1)],
    ids=["driver", "spark", "distributed"],
)
def test_compacted_dictionary_equals_bulk_build(
    spark, crud_index, tiny_rows, tmp_path, monkeypatch, compact_placement,
    placement, driver_max
):
    """compact()'s dictionary equals the one the bulk build's postings and
    dictionary stages write over the compacted docs, on the driver
    placement and on the Spark one; with the dictionary's driver bound at
    1 the Spark placement takes the distributed with_dense_ids path."""
    compact_placement(placement)
    from marlin_spark.index import build
    from marlin_spark.index.catalog import IndexCatalog

    d, cfg = crud_index
    inc = IncrementalIndexer(spark, d, cfg)
    for bid, rows in enumerate(_NRT_BATCHES[:2]):
        inc.process_batch(_batch(spark, rows), bid)
    key_rows = sorted(tiny_rows, key=lambda r: (r["conv_id"], r["turn_idx"]))
    inc.delete_turns([(key_rows[0]["conv_id"], key_rows[0]["turn_idx"]),
                      ("nrt-b", 1)])
    with monkeypatch.context() as m:
        if driver_max is not None:
            m.setattr(build, "_DICT_DRIVER_MAX", driver_max)
        inc.compact()

    cat = IndexCatalog(d)
    fresh = IndexCatalog(str(tmp_path / "fresh"))
    build.write_postings(
        spark, fresh, "postings", cat.read(spark, "docs"), cfg,
        cat.read_json("stats.json")["avgdl"], cat.dir_bytes("docs"),
    )
    build.build_dictionary(spark, fresh, cfg)

    def rows(c):
        return [
            r.asDict()
            for r in c.read(spark, "dictionary").select(*_DICT_COLS)
            .orderBy("term").collect()
        ]

    got, want = rows(cat), rows(fresh)
    assert got == want
    assert [r["term_id"] for r in got] == list(range(1, len(got) + 1))


# ------------------------------------------- driver segment cache (NRT)
def _delta_keys(eng) -> list:
    """Cached (segment, bucket) keys of delta segments."""
    return [key for key in eng._bucket_cache
            if key[0][0] != eng.cat.path("postings")]


def test_committed_batch_visible_to_search_local_without_refresh(spark, crud_index):
    """A micro-batch committed after the engine warmed its cache is
    answered by the same engine, without refresh(), and ranks like a
    fresh engine's Spark exact path."""
    d, cfg = crud_index
    eng = SearchEngine(spark, d, cfg)
    before = eng.search_local("worst best", k=100)
    inc = IncrementalIndexer(spark, d, cfg)
    inc.process_batch(_batch(spark, _NRT_BATCHES[0]), 0)
    after = eng.search_local("worst best", k=100)
    new = {doc for doc, _ in after} - {doc for doc, _ in before}
    assert len(new) == 2  # both streamed turns hit
    assert _delta_keys(eng)
    want = [
        (r["docid"], round(r["score"], 9))
        for r in SearchEngine(spark, d, cfg)
        .search("worst best", k=100, use_wand=False).collect()
    ]
    assert [(doc, round(s, 9)) for doc, s in after] == want


def test_rerun_batch_is_served_fresh(spark, crud_index):
    """Re-running process_batch for the same batch id with different
    turns withdraws batch=0, overwrites it and commits it again; the
    cache keys segments by the snapshot that committed them, so the
    warmed engine serves the new turns, not the old."""
    d, cfg = crud_index
    eng = SearchEngine(spark, d, cfg)
    inc = IncrementalIndexer(spark, d, cfg)
    first = int(inc.stats.get("max_docid", inc.stats["n_docs"])) + 1
    inc.process_batch(
        _batch(spark, [("zzz-nrt", 0, "user", "worst worst worst", None)]), 0
    )
    assert first in {doc for doc, _ in eng.search_local("worst", k=1000)}
    old_keys = set(_delta_keys(eng))
    inc.process_batch(
        _batch(spark, [("zzz-nrt", 0, "user", "best best best", None)]), 0
    )
    assert first not in {doc for doc, _ in eng.search_local("worst", k=1000)}
    assert first in {doc for doc, _ in eng.search_local("best", k=1000)}
    assert not old_keys & set(_delta_keys(eng))  # stale segment dropped
    fresh = SearchEngine(spark, d, cfg)
    for q in ("worst", "best", "worst best"):
        for mode in ("any", "all"):
            assert eng.search_local(q, 10, mode) == fresh.search_local(q, 10, mode)


def test_rerun_batch_is_served_fresh_on_spark_paths(spark, crud_index):
    """The Spark plans read the postings DataFrame the engine caches, and
    Spark keeps its own listing of each delta dir. After process_batch
    re-runs batch 0 with different turns, the same engine's Spark WAND
    and exact paths and a hydrated app query serve the new turn."""
    import os

    from marlin_spark.app import MarlinApp

    d, cfg = crud_index
    app = MarlinApp(spark, os.path.dirname(d))
    name = os.path.basename(d)
    eng = app.get_index(name)
    inc = IncrementalIndexer(spark, d, cfg)
    first = int(inc.stats.get("max_docid", inc.stats["n_docs"])) + 1

    def spark_ids(q: str, use_wand: bool) -> set:
        return {r["docid"] for r in eng.search(q, k=1000, use_wand=use_wand).collect()}

    def hydrated(q: str) -> dict:
        return {r["docid"]: r["text"] for r in app.query(name, q, k=100, hydrate=True)}

    inc.process_batch(
        _batch(spark, [("zzz-nrt", 0, "user", "worst worst worst", None)]), 0
    )
    for use_wand in (True, False):
        assert first in spark_ids("worst", use_wand)
    assert hydrated("worst")[first] == "worst worst worst"
    inc.process_batch(
        _batch(spark, [("zzz-nrt", 0, "user", "best best best", None)]), 0
    )
    for use_wand in (True, False):
        assert first not in spark_ids("worst", use_wand), use_wand
        assert first in spark_ids("best", use_wand), use_wand
    assert first not in hydrated("worst")
    assert hydrated("best")[first] == "best best best"
    fresh = SearchEngine(spark, d, cfg)
    for q in ("worst", "best", "worst best"):
        got = [(r["docid"], r["score"]) for r in eng.search(q, k=10).collect()]
        assert got == [(r["docid"], r["score"]) for r in fresh.search(q, k=10).collect()]


def test_compact_and_refresh_leave_no_delta_entries(spark, crud_index):
    d, cfg = crud_index
    eng = SearchEngine(spark, d, cfg)
    inc = IncrementalIndexer(spark, d, cfg)
    inc.process_batch(_batch(spark, _NRT_BATCHES[1]), 0)
    eng.search_local("this worst", k=10)
    assert _delta_keys(eng)
    inc.compact()
    eng.refresh()
    got = eng.search_local("this worst", k=10)
    assert not _delta_keys(eng)
    # the base segment is stamped with the snapshot it was loaded at:
    # the compaction's
    snap = eng.cat.current_snapshot()
    assert snap["summary"]["operation"] == "compact"
    assert {key[0] for key in eng._bucket_cache} == {
        (eng.cat.path("postings"), snap["snapshot_id"])
    }
    assert got == SearchEngine(spark, d, cfg).search_local("this worst", k=10)


def test_concurrent_lookups_keep_the_cache_consistent(spark, crud_index):
    """8 threads of random lookups over base + delta segments under a
    cache budget that forces evictions: every answer equals the serial
    one and the byte count equals the live entries' bytes."""
    import random
    import sys
    from concurrent.futures import ThreadPoolExecutor

    d, cfg = crud_index
    inc = IncrementalIndexer(spark, d, cfg)
    for bid, rows in enumerate(_NRT_BATCHES[:2]):
        inc.process_batch(_batch(spark, rows), bid)
    words = ["worst", "best", "test", "this", "aaaa", "bbbb", "is", "again"]
    rng = random.Random(7)
    pool = [
        (" ".join(rng.sample(words, rng.randint(1, 3))), rng.choice(["any", "all"]))
        for _ in range(40)
    ]
    serial_eng = SearchEngine(spark, d, cfg)
    serial = {qm: serial_eng.search_local(qm[0], 10, qm[1]) for qm in pool}
    total = serial_eng._bucket_cache_bytes
    eng = SearchEngine(spark, d, cfg.with_(local_cache_bytes=total // 3))
    stream = [rng.choice(pool) for _ in range(800)]

    def run(chunk):
        return [(qm, eng.search_local(qm[0], 10, qm[1])) for qm in chunk]

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the threads' bookkeeping
    try:
        with ThreadPoolExecutor(8) as ex:
            parts = ex.map(run, [stream[i::8] for i in range(8)], timeout=300)
            results = [r for part in parts for r in part]
    finally:
        sys.setswitchinterval(switch)
    assert len(results) == len(stream)
    for qm, got in results:
        assert got == serial[qm], qm
    assert eng._bucket_cache_bytes == sum(e.nbytes for e in eng._bucket_cache.values())
    assert eng._bucket_cache_bytes <= total // 3 or len(eng._bucket_cache) == 1


# ------------------------------------------------ one commit protocol
def _every_path(eng, q: str, mode: str = "any", k: int = 10) -> dict:
    """Ranked (docid, score at 9 dp) of q on the driver, Spark WAND and
    exact paths."""
    out = {"local": [(doc, round(s, 9)) for doc, s in eng.search_local(q, k, mode)]}
    for path, use_wand in (("wand", True), ("exact", False)):
        out[path] = [
            (r["docid"], round(r["score"], 9))
            for r in eng.search(q, k=k, mode=mode, use_wand=use_wand).collect()
        ]
    return out


def _stream(spark, inc, batches) -> dict:
    """Commits each list of rows as batch 0, 1, ...: {(conv_id,
    turn_idx): (docid, text)} of the streamed turns."""
    base_max = int(inc.stats.get("max_docid", inc.stats["n_docs"]))
    capacity = int(inc.stats["batch_capacity"])
    out = {}
    for bid, rows in enumerate(batches):
        inc.process_batch(_batch(spark, rows), bid)
        for i, r in enumerate(sorted(rows)):
            out[(r[0], r[1])] = (base_max + bid * capacity + i + 1, r[3])
    return out


def _edited_oracle(tiny_rows, streamed: dict, deleted: list) -> OracleIndex:
    """Oracle over the base turns plus the streamed ones, less the
    deleted (conv_id, turn_idx) keys."""
    keyed = sorted(tiny_rows, key=lambda r: (r["conv_id"], r["turn_idx"]))
    live = {(r["conv_id"], r["turn_idx"]): (i + 1, r["text"])
            for i, r in enumerate(keyed)}
    live.update(streamed)
    for key in deleted:
        del live[key]
    return OracleIndex(sorted(live.values()))


_QUERIES = [("worst", "any"), ("this best", "any"), ("test", "all"),
            ("aaaa bbbb", "any"), ("worst again", "all")]


def test_engine_built_at_compaction_commit_sees_one_copy(
    spark, crud_index, tiny_rows, monkeypatch
):
    """Each append and the compaction become visible through exactly one
    commit; compaction commits docs, postings, dictionary and stats
    before it removes the folded batches and tombstones. An engine built
    right after that commit answers like the post-compaction oracle on
    every path: each streamed doc once, the new stats."""
    from marlin_spark.index.catalog import IndexCatalog

    d, cfg = crud_index
    commits, seen = [], {}
    real = IndexCatalog.commit_snapshot

    def commit_then_look(self, *args, **kwargs):
        n = real(self, *args, **kwargs)
        commits.append(kwargs["summary"]["operation"])
        if commits[-1] == "compact":
            eng = SearchEngine(spark, d, cfg)
            seen["n_docs"] = eng.n_docs
            seen.update({qm: _every_path(eng, *qm) for qm in _QUERIES})
        return n

    monkeypatch.setattr(IndexCatalog, "commit_snapshot", commit_then_look)
    inc = IncrementalIndexer(spark, d, cfg)
    streamed = _stream(spark, inc, _NRT_BATCHES[:2])
    base_key = min((r["conv_id"], r["turn_idx"]) for r in tiny_rows)
    deleted = [base_key, ("nrt-a", 1)]
    inc.delete_turns(deleted)
    oracle = _edited_oracle(tiny_rows, streamed, deleted)
    inc.compact()
    assert commits == ["append", "append", "compact"]
    assert seen.pop("n_docs") == oracle.n_docs
    for (q, mode), paths in seen.items():
        want = [(doc, round(s, 9)) for doc, s in oracle.search(q, k=10, mode=mode)]
        assert want, q
        for path, got in paths.items():
            assert len({doc for doc, _ in got}) == len(got), (q, path)
            assert got == want, (q, mode, path)


def test_engine_built_before_a_batch_follows_compaction(
    spark, crud_index, tiny_rows
):
    """An engine built before process_batch and never refreshed (the one
    an app caches) answers after compact() like a fresh engine and the
    oracle, on every path, for terms whose base and delta buckets it had
    cached and for terms it had not."""
    import os

    from marlin_spark.app import MarlinApp

    d, cfg = crud_index
    app, name = MarlinApp(spark, os.path.dirname(d)), os.path.basename(d)
    eng = app.get_index(name)
    cached = [("worst", "any"), ("this best", "any")]
    for q, mode in cached:
        eng.search_local(q, 10, mode)
    inc = IncrementalIndexer(spark, d, cfg)
    streamed = _stream(spark, inc, _NRT_BATCHES[:2])
    for q, mode in cached:
        eng.search_local(q, 10, mode)
    assert _delta_keys(eng)
    base_key = min((r["conv_id"], r["turn_idx"]) for r in tiny_rows)
    inc.delete_turns([base_key])
    inc.compact()
    oracle = _edited_oracle(tiny_rows, streamed, [base_key])
    fresh = SearchEngine(spark, d, cfg)
    for q, mode in cached + [("test", "all"), ("aaaa bbbb", "any"),
                             ("again", "any"), ("worst again", "all")]:
        want = [(doc, round(s, 9)) for doc, s in oracle.search(q, k=10, mode=mode)]
        assert want, q
        got = _every_path(eng, q, mode)
        assert got == _every_path(fresh, q, mode), (q, mode)
        assert got == {path: want for path in got}, (q, mode)
    assert eng.n_docs == oracle.n_docs
    assert not _delta_keys(eng)
    # the build's stats.json is superseded by the one compaction
    # committed; the app still finds the index through the snapshot
    assert not os.path.exists(os.path.join(d, "stats.json"))
    assert app.list_indexes() == [name]
    assert MarlinApp(spark, os.path.dirname(d)).get_index(name).n_docs == oracle.n_docs


def test_rebuild_starts_clean(spark, crud_index, tiny_rows, tiny_df):
    """A rebuild over a new corpus, in a dir that holds a live batch and
    tombstones, answers like the oracle of the new corpus alone: no
    docid is hidden by an old tombstone or served from an old batch."""
    from marlin_spark.index.build import IndexBuilder

    d, cfg = crud_index
    inc = IncrementalIndexer(spark, d, cfg)
    _stream(spark, inc, _NRT_BATCHES[:1])
    keyed = sorted(tiny_rows, key=lambda r: (r["conv_id"], r["turn_idx"]))
    inc.delete_turns([(r["conv_id"], r["turn_idx"]) for r in keyed[:3]])
    texts = ["worst first", "best worst", "this is a test", "worst test",
             "best of all"]
    rows = [dict(keyed[0], conv_id="rebuilt", turn_idx=i, text=t)
            for i, t in enumerate(texts)]
    IndexBuilder(spark, d, cfg).build(
        spark.createDataFrame(rows, tiny_df.schema), build_id="t1"
    )
    oracle = OracleIndex(assign_docids(rows))
    eng = SearchEngine(spark, d, cfg)
    assert eng.deleted is None and len(eng._segments()) == 1
    for q in ("worst", "best test", "this worst"):
        for mode in ("any", "all"):
            want = [(doc, round(s, 9)) for doc, s in oracle.search(q, k=10, mode=mode)]
            got = _every_path(eng, q, mode)
            assert got == {path: want for path in got}, (q, mode)


def test_lookups_during_an_append_see_all_or_none_of_it(spark, crud_index):
    """8 threads look up, without refresh(), while process_batch writes
    and commits a batch: every answer is the answer before the batch or
    the one after it, never a part of it."""
    import sys
    import threading
    from concurrent.futures import ThreadPoolExecutor

    d, cfg = crud_index
    eng = SearchEngine(spark, d, cfg)
    pool = [("worst", "any"), ("this best", "any"), ("test", "all"),
            ("worst streamed", "any")]
    before = {(q, mode): eng.search_local(q, 10, mode) for q, mode in pool}
    done = threading.Event()

    def look():
        seen, last_round = [], False
        while not last_round:
            last_round = done.is_set()
            seen += [((q, mode), eng.search_local(q, 10, mode)) for q, mode in pool]
        return seen

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as ex:
            futures = [ex.submit(look) for _ in range(8)]
            try:
                IncrementalIndexer(spark, d, cfg).process_batch(
                    _batch(spark, _NRT_BATCHES[0]), 0
                )
            finally:
                done.set()
            seen = [hit for f in futures for hit in f.result(timeout=300)]
    finally:
        sys.setswitchinterval(switch)
    fresh = SearchEngine(spark, d, cfg)
    after = {(q, mode): fresh.search_local(q, 10, mode) for q, mode in pool}
    assert all(before[qm] != after[qm] for qm in pool)
    assert {qm for qm, got in seen if got == after[qm]} == set(pool)
    for qm, got in seen:
        assert got in (before[qm], after[qm]), qm
