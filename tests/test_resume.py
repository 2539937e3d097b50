"""Resumable build: checkpoint skip, kill/restart equivalence, lineage
(north rule: "resumable from per-partition checkpoints with lineage and
counters"; SURVEY.md §7 Phase 4).

Resume units are contiguous docid-range groups (postings:rK), each owning
its postings/rgroup=K dir. Block BYTES may differ between groupings (scan
split boundaries cut (term, range) groups into different partial blocks),
so cross-grouping equality is checked at the decoded-posting level — the
semantic content every query path consumes; same-grouping restart is
still held to bit-identical fingerprints.
"""

import shutil

import pytest

from marlin_spark.config import EngineConfig
from marlin_spark.index.build import IndexBuilder
from marlin_spark.index.catalog import IndexCatalog
from marlin_spark.index.manifest import BuildManifest
from marlin_spark.query.engine import SearchEngine

CFG = EngineConfig(block_size=16, range_size=64, n_term_buckets=8, build_groups=4)


def _postings_fingerprint(spark, d):
    import hashlib

    rows = IndexCatalog(d).read(spark, "postings").collect()
    items = sorted(
        (r["term"], r["range_id"], r["block_id"], bytes(r["postings"]), bytes(r["positions"]))
        for r in rows
    )
    h = hashlib.sha256()
    for it in items:
        h.update(repr(it).encode())
    return h.hexdigest()


def _decoded_fingerprint(spark, d):
    """Grouping-invariant content hash: term -> docid -> (tf, dl, positions)."""
    import hashlib

    from marlin_spark.functions.codec import decode_block, decode_positions

    entries = []
    for r in IndexCatalog(d).read(spark, "postings").collect():
        docids, tfs, dls = decode_block(bytes(r["postings"]))
        poss = decode_positions(bytes(r["positions"]), tfs)
        off = 0
        for doc, tf, dl in zip(docids, tfs, dls):
            p = tuple(int(x) for x in poss[off : off + int(tf)])
            off += int(tf)
            entries.append((r["term"], int(doc), int(tf), int(dl), p))
    h = hashlib.sha256()
    for it in sorted(entries):
        h.update(repr(it).encode())
    return h.hexdigest()


@pytest.fixture(scope="module")
def grouped_index(spark, tiny_df, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("grp_index"))
    IndexBuilder(spark, d, CFG).build(tiny_df, build_id="g0")
    return d


def test_grouped_build_equals_single_pass(spark, tiny_df, grouped_index):
    fp_grouped = _decoded_fingerprint(spark, grouped_index)
    d2 = grouped_index + "_single"
    IndexBuilder(spark, d2, CFG.with_(build_groups=1)).build(tiny_df, build_id="s0")
    assert fp_grouped == _decoded_fingerprint(spark, d2)


def test_resume_skips_completed_units(spark, tiny_df, grouped_index):
    mf = BuildManifest(grouped_index, "g0")
    units = {r["unit"] for r in mf.records()}
    assert {"docs", "dictionary"} <= units
    assert any(u.startswith("postings:r") for u in units)
    import time

    t0 = time.time()
    IndexBuilder(spark, grouped_index, CFG).build(tiny_df, build_id="g0")
    assert time.time() - t0 < 2.0  # all units skipped, no Spark jobs


def test_kill_restart_produces_identical_index(spark, tiny_df, grouped_index, tiny_oracle):
    """Simulate a crash after group 1: drop manifests + data of groups 2-3
    and the dictionary, restart, and require a bit-identical index."""
    fp_before = _postings_fingerprint(spark, grouped_index)
    crashed = grouped_index + "_crashed"
    shutil.copytree(grouped_index, crashed)
    mf = BuildManifest(crashed, "g0")
    import os

    survivors = {r["unit"] for r in mf.records() if r["unit"].startswith("postings:r")}
    to_kill = sorted(survivors)[len(survivors) // 2 :]  # drop the tail groups
    assert to_kill
    for unit in list(to_kill) + ["dictionary"]:
        os.remove(mf._rec_path(unit))
    # wipe the rgroup dirs those groups own (simulates torn partial
    # output; the restarted group overwrites its dir idempotently)
    cat = IndexCatalog(crashed)
    for unit in to_kill:
        gid = unit.split(":r")[1]
        shutil.rmtree(cat.path(f"postings/rgroup={gid}"), ignore_errors=True)
    spark.catalog.refreshByPath(cat.path("postings"))
    counters = IndexBuilder(spark, crashed, CFG).build(tiny_df, build_id="g0")
    spark.catalog.refreshByPath(cat.path("postings"))
    assert _postings_fingerprint(spark, crashed) == fp_before
    # and the restarted index answers queries rank-identically
    eng = SearchEngine(spark, crashed, CFG)
    got = [(r["docid"], round(r["score"], 6)) for r in eng.search("test", k=5).collect()]
    want = [(d, round(s, 6)) for d, s in tiny_oracle.search("test", k=5)]
    assert got == want
    assert counters["n_terms"] == len(tiny_oracle.postings)


def test_lineage_records_have_counters(grouped_index):
    mf = BuildManifest(grouped_index, "g0")
    recs = {r["unit"]: r for r in mf.records()}
    total_postings = sum(
        r["counters"].get("postings_emitted", 0)
        for u, r in recs.items()
        if u.startswith("postings:")
    )
    assert total_postings > 0
    assert recs["dictionary"]["counters"]["merge_fan_in"] > 0
    assert all("finished_at" in r for r in recs.values())


# ------------------------------------------------- streaming crash-resume
@pytest.mark.parametrize("crash_after, placement", [
    pytest.param(c, p, id=c if p == "driver" else f"{c}-{p}")
    for p in ("driver", "spark") for c in ("docs_delta", "postings_delta")
])
def test_crashed_micro_batch_invisible_then_retry_recovers(
    spark, tiny_index, tmp_path, monkeypatch, nrt_placement, crash_after,
    placement,
):
    """Round-2 verdict item #8: a micro-batch that crashed before its
    commit must leave the index searchable WITHOUT ghost hits or ghost
    docs. process_batch writes docs_delta, builds postings_delta from it
    and then commits the batch; the crash lands after the ``crash_after``
    write. Re-running the same batch_id (the streaming retry from the
    checkpoint) yields a duplicate-free index, and compact() folds the
    batch exactly once. Both placements of the micro-batch (driver and
    Spark) reach the crash seams: write_postings is their one postings
    entry point."""
    import datetime as dt
    import os

    from marlin_spark.streaming import incremental
    from marlin_spark.streaming.incremental import IncrementalIndexer

    nrt_placement(placement)
    base_dir, cfg, _ = tiny_index
    d = str(tmp_path / "crash_idx")
    shutil.copytree(base_dir, d)
    inc = IncrementalIndexer(spark, d, cfg)
    batch = spark.createDataFrame(
        [("crashconv", 0, "user", "worst crashed batch", None,
          dt.datetime(2025, 2, 1))],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )

    def crash(*_args, **_kwargs):
        raise RuntimeError("crash")

    with monkeypatch.context() as m:
        if crash_after == "docs_delta":
            m.setattr(incremental, "write_postings", crash)
        else:
            m.setattr(IndexCatalog, "commit_snapshot", crash)
        with pytest.raises(RuntimeError, match="crash"):
            inc.process_batch(batch, batch_id=3)
    assert os.path.isdir(os.path.join(d, f"{crash_after}/batch=3"))

    eng = SearchEngine(spark, d, cfg)
    hits = eng.search("worst", k=100, use_wand=False)
    hyd = eng.hydrate(hits).collect()
    # no ghost hits: every scored docid hydrates to a stored doc
    assert hits.count() == len(hyd)
    assert all(r["text"] != "worst crashed batch" for r in hyd)

    # streaming retry: same batch_id overwrites both delta dirs
    inc.process_batch(batch, batch_id=3)
    eng = SearchEngine(spark, d, cfg)
    hyd = eng.hydrate(eng.search("worst", k=100, use_wand=False)).collect()
    assert sum(1 for r in hyd if r["text"] == "worst crashed batch") == 1

    inc.compact()
    eng = SearchEngine(spark, d, cfg)
    hyd = eng.hydrate(eng.search("worst", k=100, use_wand=False)).collect()
    assert sum(1 for r in hyd if r["text"] == "worst crashed batch") == 1
    # the folded batch's delta dirs are gone (no double-fold on a later
    # compact), and no half-committed leftovers remain
    assert not os.path.exists(os.path.join(d, "docs_delta/batch=3"))
    assert not os.path.exists(os.path.join(d, "postings_delta/batch=3"))
