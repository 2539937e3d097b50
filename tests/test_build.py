"""Index build correctness vs the oracle (postings, dl, stats, dictionary)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from marlin_spark.functions.codec import decode_block, decode_positions
from marlin_spark.index.catalog import IndexCatalog, term_bucket_py  # noqa: F401
from marlin_spark.query.fuzzy import term_fc_py


@pytest.fixture(scope="module")
def cat(tiny_index):
    d, cfg, counters = tiny_index
    return IndexCatalog(d)


def test_stats_match_oracle(cat, tiny_oracle):
    stats = cat.read_json("stats.json")
    assert stats["n_docs"] == tiny_oracle.n_docs
    assert stats["total_tokens"] == tiny_oracle.total_tokens
    assert abs(stats["avgdl"] - tiny_oracle.avgdl) < 1e-9


def test_docids_match_oracle_ordering(spark, cat, tiny_rows):
    docs = cat.read(spark, "docs").select("docid", "conv_id", "turn_idx").collect()
    got = {(r["conv_id"], r["turn_idx"]): r["docid"] for r in docs}
    ordered = sorted(tiny_rows, key=lambda r: (r["conv_id"], r["turn_idx"]))
    for i, r in enumerate(ordered):
        assert got[(r["conv_id"], r["turn_idx"])] == i + 1


def test_doc_lengths_match_oracle(spark, cat, tiny_oracle):
    rows = cat.read(spark, "docs").select("docid", "dl").collect()
    for r in rows:
        assert r["dl"] == tiny_oracle.dl[r["docid"]], r["docid"]


def test_dictionary_df_matches_oracle(spark, cat, tiny_oracle, tiny_index):
    _, cfg, _ = tiny_index
    d = cat.read(spark, "dictionary").collect()
    got = {r["term"]: r for r in d}
    assert set(got) == set(tiny_oracle.postings)
    for term, plist in tiny_oracle.postings.items():
        assert got[term]["df"] == len(plist), term
        assert got[term]["cf"] == sum(len(p) for p in plist.values())
        assert got[term]["fc"] == term_fc_py(term)
    # dense sorted term ids
    ids = sorted((r["term_id"], r["term"]) for r in d)
    assert [t for _, t in ids] == sorted(got)
    assert [i for i, _ in ids] == list(range(1, len(got) + 1))


def test_postings_blocks_roundtrip_vs_oracle(spark, cat, tiny_oracle, tiny_index):
    _, cfg, _ = tiny_index
    blocks = cat.read(spark, "postings").collect()
    seen: dict[str, dict[int, tuple]] = {}
    for blk in blocks:
        docids, tfs, dls = decode_block(bytes(blk["postings"]))
        positions = decode_positions(bytes(blk["positions"]), tfs)
        # block invariants
        assert blk["n_docs"] == len(docids) <= cfg.block_size
        assert blk["first_docid"] == docids[0] and blk["last_docid"] == docids[-1]
        assert all(np.diff(docids.astype(np.int64)) > 0)
        assert (docids // cfg.range_size == blk["range_id"]).all()
        off = 0
        for docid, tf, dl in zip(docids, tfs, dls):
            pos = tuple(positions[off : off + int(tf)])
            off += int(tf)
            seen.setdefault(blk["term"], {})[int(docid)] = (int(tf), int(dl), pos)
    # exact postings equality with the oracle
    assert set(seen) == set(tiny_oracle.postings)
    for term, plist in tiny_oracle.postings.items():
        assert set(seen[term]) == set(plist), term
        for docid, poss in plist.items():
            tf, dl, pos = seen[term][docid]
            assert tf == len(poss)
            assert dl == tiny_oracle.dl[docid]
            assert list(pos) == poss, (term, docid)


def test_block_max_is_true_upper_bound(spark, cat, tiny_oracle, tiny_index):
    _, cfg, _ = tiny_index
    k1, b, avgdl = cfg.k1, cfg.b, tiny_oracle.avgdl
    for blk in cat.read(spark, "postings").collect():
        docids, tfs, dls = decode_block(bytes(blk["postings"]))
        core = (
            tfs.astype(float)
            * (k1 + 1)
            / (tfs.astype(float) + k1 * (1 - b + b * dls.astype(float) / avgdl))
        )
        assert blk["max_tfnorm"] >= core.max() - 1e-12


def test_counters_recorded(tiny_index, tiny_oracle):
    _, _, counters = tiny_index
    n_postings = sum(len(p) for p in tiny_oracle.postings.values())
    assert counters["postings_emitted"] == n_postings
    assert counters["blocks_built"] >= 1
    assert counters["bytes_postings"] > 0
    assert counters["merge_fan_in"] == counters["blocks_built"]
    assert counters["n_terms"] == len(tiny_oracle.postings)
    # every stage reports its wall seconds and the Spark jobs it ran
    assert counters["stage_jobs"].keys() == counters["stage_seconds"].keys()
    assert all(n >= 1 for n in counters["stage_jobs"].values())


def test_positions_column_prunable(spark, cat):
    """BM25 reads must not touch position bytes: check the scan schema."""
    posts = cat.read(spark, "postings").select("term", "postings")
    plan = posts._jdf.queryExecution().executedPlan().toString()
    assert "positions" not in plan.split("ReadSchema")[-1]
