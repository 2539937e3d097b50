"""Block-max WAND top-k: one scoring kernel over compressed posting blocks.

``make_batch_wand_kernel`` is the only BM25 scoring loop. It scores a
``plans`` mapping (query_id -> ``QueryPlan``, as the engine's one
planner, ``SearchEngine.plan_queries``, returns it) in one pass over the
matched blocks of their term union; a single query is a batch of one
(``make_wand_scorer`` is that adapter). Each plan carries its own k, its
own theta seed and its own required slot count (``n_slots`` in mode
'all', 0 in mode 'any'), so one call may score a batch of mixed modes.
The engine decides only where the kernel runs:

- on the driver (``SearchEngine._local_topk``): the queries' blocks as
  column slices of the engine's segment cache, one call;
- on Spark (``SearchEngine._wand_scores``): matched blocks repartitioned
  by doc range (range_id), one call per partition via mapInPandas
  (``pandas_scorer``), then a global top-k merge with the same
  comparator.

Within a call, ranges are processed in descending upper-bound order with
each query's top-k threshold THETA carried across ranges:

- range upper bound = sum over the query's terms of idf * max(block
  max_tfnorm in range): if ub < THETA the WHOLE range is skipped without
  decoding. This is block-max pruning at doc-range granularity and is
  *sound for exact scores*: a pruned range cannot contain a top-k doc,
  and no surviving doc ever loses a term contribution (pruning single
  blocks of one term would corrupt scores of docs that other terms still
  emit — the classic per-block WAND pivot needs doc-at-a-time cursors, a
  scalar loop that belongs in native code, not in a Python executor).
- surviving ranges decode (docids, tfs, dls) in one varbyte pass — the
  positions column is never read (parquet column pruning) — and each
  query scores the range set-at-a-time in one accumulator: over the
  range's docid span when its postings fill it densely, else over their
  distinct docids (see make_batch_wand_kernel).

Reference analog: the fast-rank partial scan + early termination
(/root/reference/src/main/docrank.c:478-574); ours prunes with provable
score bounds instead of sampling.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Iterator

import numpy as np
import pandas as pd

from marlin_spark.functions.codec import decode_blocks_many

_EPS = 1e-9
# docids one doc range may span (range_size is far below it): a wider
# range is a damaged index, not a range to allocate an accumulator for
_MAX_SPAN = 1 << 24
# a multi-term (query, range) is scored over the range's docid span while
# the span is at most this many times the query's postings there, else
# over their distinct docids. A dense pass costs ~1 ns per docid of the span, the
# sort of the distinct docids ~10-20 ns per posting plus a fixed ~10 us;
# 16, 32 and 64 measured within noise of each other on a 1M-doc index
_DENSE_SPAN_PER_POSTING = 32


@dataclass
class QueryPlan:
    """One planned query: what the kernel reads."""

    query: str
    words: list[str]
    # scoring terms: term -> (idf, slots); a slot is the index of a
    # required word, and a term counts for every word it satisfies (a
    # prefix expansion of the typed-last word may be a query word too)
    term_meta: dict[str, tuple[float, frozenset]] = field(default_factory=dict)
    n_slots: int = 0
    mode: str = "any"
    k: int = 10
    match_all_docs: bool = False
    total_df: int = 0  # sum of matched terms' dfs (fast-path gate)
    # a global lower bound on the final k-th best score, or None (see
    # SearchEngine.plan_queries for its derivation and gates)
    theta_seed: "float | None" = None
    # the postings segments the plan was made against, as (dir, stamp)
    segments: tuple = ()

    @property
    def required_slots(self) -> int:
        """Distinct slots a doc must hold: every word in mode 'all'."""
        return self.n_slots if self.mode == "all" else 0


def _mask_deleted(docids: np.ndarray, deleted: np.ndarray | None) -> np.ndarray | None:
    """Boolean keep-mask for docids not in the sorted tombstone array
    (None when nothing is deleted — avoids the copy on the common path)."""
    if deleted is None or deleted.size == 0 or docids.size == 0:
        return None
    docids = docids.astype(np.int64, copy=False)  # decode yields uint64
    idx = np.searchsorted(deleted, docids)
    idx[idx >= deleted.size] = deleted.size - 1
    hit = deleted[idx] == docids
    if not hit.any():
        return None
    return ~hit


def make_wand_scorer(
    term_meta: dict[str, tuple[float, int]],
    k: int,
    n_slots: int,
    mode: str = "any",
    k1: float = 1.2,
    b: float = 0.75,
    avgdl: float = 1.0,
    counters: dict | None = None,
    deleted: "np.ndarray | None" = None,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """One query as a batch of one: make_batch_wand_kernel over a plan
    of ``term_meta``, yielding (docid, score) frames."""
    plan = QueryPlan("", [], term_meta, n_slots, mode, k)
    frames = pandas_scorer(make_batch_wand_kernel(
        {"": plan}, k1, b, avgdl, deleted=deleted, counters=counters,
    ))

    def scorer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in frames(batches):
            yield pdf.iloc[:, 1:]  # drop query_id

    return scorer


def _topk_trim(d: np.ndarray, s: np.ndarray, k: int):
    """Exact top-k by (round(score,9) desc, docid asc). For large inputs
    an argpartition pass first cuts to the k-th raw score minus a 2e-9
    guard band (wider than one 9-decimal rounding step, so every doc
    whose ROUNDED score ties the boundary survives into the exact sort)."""
    if d.size > max(4 * k, 256):
        kth = np.partition(s, s.size - k)[s.size - k]
        keep = s >= kth - 2.0 * _EPS
        d, s = d[keep], s[keep]
    if d.size > k:
        o = np.lexsort((d, -np.round(s, 9)))[:k]
        return d[o], s[o]
    # never return a slice VIEW: per-query state holding one would pin
    # the whole decoded range buffer in worker memory between ranges
    return (d if d.base is None else d.copy()), s


def _run_starts(*keys: np.ndarray) -> np.ndarray:
    """Row indices where any of the equal-length ``keys`` changes value
    (row 0 included): the starts of runs in rows sorted by the keys."""
    m = np.zeros(keys[0].size, bool)
    m[:1] = True
    for a in keys:
        m[1:] |= a[1:] != a[:-1]
    return np.flatnonzero(m)


def pandas_scorer(
    kernel: Callable[[object], tuple[np.ndarray, np.ndarray, np.ndarray]],
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """A make_batch_wand_kernel kernel as a mapInPandas function: all
    block frames of a partition in, one (query_id, docid, score) frame
    out."""

    def scorer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = [pdf for pdf in batches if not pdf.empty]
        qid, docid, score = kernel(
            pd.concat(rows, ignore_index=True) if len(rows) > 1
            else rows[0] if rows else None
        )
        yield pd.DataFrame({"query_id": qid, "docid": docid, "score": score})

    return scorer


def make_batch_wand_kernel(
    plans: "dict[str, QueryPlan]",
    k1: float = 1.2,
    b: float = 0.75,
    avgdl: float = 1.0,
    deleted: "np.ndarray | None" = None,
    counters: dict | None = None,
) -> Callable[[object], tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """Block-max WAND for MANY queries in one pass over the matched
    blocks of their term union; returns (query_id, docid, score) arrays,
    at most ``plans[query_id].k`` rows per query. A plan's term_meta maps
    term -> (idf, slots); prefix expansions share their word's slot, so a
    doc must hold ``required_slots`` DISTINCT slots (every word in mode
    'all', none in mode 'any'). Each block is decoded ONCE per range and
    the decoded (docids, core) arrays are shared by every query that
    references the term.

    Pruning is exact at two levels:

    - range level (block-max): a query skips a whole range when its
      upper bound there cannot beat its running theta (vectorized for
      all queries at once via bincount over term->query incidence);
    - candidate level: docs scoring below theta - 2e-9 are dropped
      before the top-k merge (2e-9 > one 9-decimal rounding step, so no
      rounded-tie winner is lost).

    Scoring: each surviving (query, range) gets one float64 accumulator,
    and every query term's idf * core is scatter-added at its docids'
    cells. A lone term's postings are their own cells. Otherwise the
    cells are the range's docid span while that span is at most
    _DENSE_SPAN_PER_POSTING times the query's postings there (head terms;
    8 B per doc of the span, transient), else the sorted distinct docids
    of its postings, each term's found by binary search (rare terms in a
    wide range, or a sparse query in a batch whose other queries widen
    the span). The candidates are the cells at or above theta - 2e-9; a
    query with required slots keeps those whose boolean hit array is set
    for every slot.

    Float exactness: terms are added in ascending order, so every score
    is zeros + t1 + t2 + ... (0.0 + x == x in IEEE), the same order as
    the oracle's term-sorted sum. A term lists a docid once, so the
    scatter never collides.

    ``deleted``: sorted int64 tombstone docids, masked out right after
    block decode so a deleted doc can neither score nor occupy a top-k
    slot (block-max values stay valid upper bounds — they bound a
    superset).

    A plan's ``theta_seed`` is a GLOBAL lower bound on its final k-th
    best score (see SearchEngine.plan_queries for the derivation and its
    validity gates). A seed lets every partition prune from its
    first range instead of warming theta locally — without it, pruning
    power degrades as partitions get smaller, i.e. with core count,
    which is exactly the wrong scaling direction. Partitions may then
    emit fewer than k rows per query; the global top-k merge is
    unaffected because no doc with score >= the true k-th best (rounding
    ties included, via the eps guards) is ever dropped.

    ``counters``: optional ``ranges_skipped`` / ``ranges_scored``
    accumulators (anything with ``.add``); a range counts as skipped
    when no query needs it decoded.

    The returned kernel takes the blocks as one mapping of column name
    -> array (a pandas frame, or numpy columns on the driver), or None
    for no blocks.
    """
    norm_c = k1 * (1.0 - b)
    norm_s = k1 * b / avgdl if avgdl > 0 else 0.0
    acc = counters or {}
    qid_list = sorted(plans)
    qid_arr = np.array(qid_list, dtype=object)
    nq = len(qid_list)
    ps = [plans[qid] for qid in qid_list]
    k_of = [p.k for p in ps]
    need_of = [p.required_slots for p in ps]
    seed_arr = np.array(
        [-np.inf if p.theta_seed is None else p.theta_seed for p in ps],
        np.float64,
    )
    # term -> (qcodes, idfs) for the vectorized range-level bound
    tmp: dict[str, list] = {}
    for qc, p in enumerate(ps):
        for t, (idf, _slots) in p.term_meta.items():
            tmp.setdefault(t, []).append((qc, idf))
    by_term: dict[str, tuple] = {}
    for t, trows in tmp.items():
        trows.sort()
        by_term[t] = (
            np.fromiter((r[0] for r in trows), np.int64, len(trows)),
            np.fromiter((r[1] for r in trows), np.float64, len(trows)),
        )
    # term codes for grouping blocks, and each term's max idf over the
    # queries to order ranges (the exact upper bound for a single query)
    term_arr = np.array(sorted(by_term), dtype=object)
    code_of = {t: i for i, t in enumerate(term_arr)}
    idf_max = np.array([by_term[t][1].max() for t in term_arr])
    # per-query: (term code, idf, slots), terms ascending
    q_terms = [
        [(code_of[t], *p.term_meta[t]) for t in sorted(p.term_meta)]
        for p in ps
    ]

    def kernel(blk) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        if blk is None:
            return _NO_HITS
        # (range, term) order on integer term codes: sorting the string
        # column costs a quarter of a small query's kernel time
        term_col = np.asarray(blk["term"])
        tc_a = np.fromiter(map(code_of.__getitem__, term_col), np.int64, term_col.size)
        rid_a = np.asarray(blk["range_id"])
        o = np.lexsort((tc_a, rid_a))
        rid_a, tc_a = rid_a[o], tc_a[o]
        nd_a = np.asarray(blk["n_docs"])[o]
        mtf_a = np.asarray(blk["max_tfnorm"], dtype=np.float64)[o]
        posts_a = np.asarray(blk["postings"])[o]
        # runs: (range, term) "slots" of blocks, ranges of slots
        t_starts = _run_starts(rid_a, tc_a)
        t_cnt_all = np.diff(t_starts, append=rid_a.size)  # blocks per slot
        tmax_all = np.maximum.reduceat(mtf_a, t_starts)
        tc_slot = tc_a[t_starts]
        term_of_slot = term_arr[tc_slot]
        rs_starts = _run_starts(rid_a[t_starts])
        rs_ends = np.append(rs_starts[1:], t_starts.size)
        # descending upper-bound order so thetas rise fast
        order = np.argsort(
            -np.add.reduceat(idf_max[tc_slot] * tmax_all, rs_starts),
            kind="stable",
        )

        state_d: list = [None] * nq  # per-query running top-k
        state_s: list = [None] * nq
        theta = np.full(nq, -np.inf)
        skipped = 0

        for ri in order:
            s_lo, s_hi = rs_starts[ri], rs_ends[ri]
            terms_r = term_of_slot[s_lo:s_hi]
            tmax_r = tmax_all[s_lo:s_hi]
            # vectorized per-query range bound: ub[q] = sum idf*tmax
            qparts, cparts = [], []
            for i in range(terms_r.size):
                e = by_term[terms_r[i]]
                qparts.append(e[0])
                cparts.append(e[1] * tmax_r[i])
            ub = np.bincount(
                np.concatenate(qparts), weights=np.concatenate(cparts),
                minlength=nq,
            )
            # theta[qc] is -inf until that query holds k docs; a global
            # seed prunes even before then (it bounds the FINAL k-th).
            # Not strict: a range whose bound EQUALS theta can still hold
            # an equal-score doc that wins the docid tie-break
            th_eff = np.maximum(theta, seed_arr)
            active = (ub > 0) & (ub >= th_eff - _EPS)
            if not active.any():
                skipped += 1
                continue
            needed = np.fromiter(
                (active[by_term[t][0]].any() for t in terms_r),
                bool, terms_r.size,
            )
            # decode every needed term's blocks in one varbyte pass
            t_cnt = t_cnt_all[s_lo:s_hi]
            keep_blk = np.repeat(needed, t_cnt)
            blk_sl = slice(t_starts[s_lo], t_starts[s_lo] + t_cnt.sum())
            nd_kept = np.asarray(nd_a[blk_sl][keep_blk], np.int64)
            d_all, tf_all, dl_all, d_first = decode_blocks_many(
                list(posts_a[blk_sl][keep_blk]), nd_kept
            )
            # postings per needed term: decoded runs are term-ascending
            cnt_kept = t_cnt[needed]
            nd_t = np.add.reduceat(nd_kept, np.cumsum(cnt_kept) - cnt_kept)
            # the range's lowest and highest docid, from its blocks' first
            # and last (a block's docids ascend; dropping tombstones below
            # only narrows them)
            base = int(d_all[d_first].min())
            span = int(d_all[d_first + nd_kept - 1].max()) - base + 1
            if span > _MAX_SPAN:
                raise RuntimeError(
                    f"doc range {rid_a[t_starts[s_lo]]} spans {span} docids; "
                    "its posting blocks are damaged"
                )
            kmask = _mask_deleted(d_all, deleted)
            if kmask is not None:
                nd_t = np.bincount(
                    np.repeat(np.arange(nd_t.size), nd_t)[kmask],
                    minlength=nd_t.size,
                )
                d_all, tf_all, dl_all = d_all[kmask], tf_all[kmask], dl_all[kmask]
            if d_all.size == 0:
                continue
            tfn = tf_all.astype(np.float64)
            core_all = tfn * (k1 + 1.0) / (
                tfn + norm_c + norm_s * dl_all.astype(np.float64)
            )
            t_end = np.cumsum(nd_t)
            run_of = dict(zip(
                tc_slot[s_lo:s_hi][needed].tolist(),
                zip((t_end - nd_t).tolist(), t_end.tolist()),
            ))
            for qc in np.flatnonzero(active):
                present = []
                for code, idf, slots in q_terms[qc]:
                    lo, hi = run_of.get(code, (0, 0))
                    if hi > lo:
                        present.append((lo, hi, idf, slots))
                if not present:
                    continue
                need = need_of[qc]
                if need and len(frozenset().union(*(p[3] for p in present))) < need:
                    continue  # too few distinct slots in this range
                if len(present) == 1:  # a lone term's postings are its docs
                    lo, hi, idf, _slots = present[0]
                    acc_docs, at = d_all[lo:hi], None
                    score = idf * core_all[lo:hi]  # == 0.0 + idf * core
                else:
                    # accumulator cells: the range's docid span while the
                    # query's postings fill it densely enough, else their
                    # distinct docids. A scatter needs no docid order, so
                    # blocks of several segments mix freely
                    if span <= _DENSE_SPAN_PER_POSTING * sum(p[1] - p[0] for p in present):
                        acc_docs, n_acc = None, span
                        at = [d_all[p[0]:p[1]] - base for p in present]
                    else:
                        docs = [d_all[p[0]:p[1]] for p in present]
                        acc_docs = np.unique(np.concatenate(docs))
                        at = [np.searchsorted(acc_docs, d) for d in docs]
                        n_acc = acc_docs.size
                    # terms ascending: each doc's sum is zeros + t1 + t2 + ...
                    # (docids are unique within a term, so += never collides)
                    score = np.zeros(n_acc)
                    for a, p in zip(at, present):
                        score[a] += p[2] * core_all[p[0]:p[1]]
                floor = th_eff[qc] - 2.0 * _EPS
                keep = score >= floor if floor > 0 else score > 0
                if need and at is not None:
                    # a doc must hold every slot; prefix expansions share
                    # their word's slot, so any one of them satisfies it,
                    # and a term that is also a query word counts for both
                    slot_hit: dict[int, np.ndarray] = {}
                    for a, p in zip(at, present):
                        for slot in p[3]:
                            hit = slot_hit.get(slot)
                            if hit is None:
                                hit = slot_hit[slot] = np.zeros(score.size, bool)
                            hit[a] = True
                    for hit in slot_hit.values():
                        keep &= hit
                cand = np.flatnonzero(keep)
                if cand.size == 0:
                    continue
                cand_d = cand + base if acc_docs is None else acc_docs[cand]
                cand_s = score[cand]
                sd, ss = state_d[qc], state_s[qc]
                if sd is not None:
                    cand_d = np.concatenate([sd, cand_d])
                    cand_s = np.concatenate([ss, cand_s])
                cand_d, cand_s = _topk_trim(cand_d, cand_s, k_of[qc])
                state_d[qc], state_s[qc] = cand_d, cand_s
                if cand_d.size >= k_of[qc]:
                    theta[qc] = cand_s.min()
        if acc:
            acc["ranges_skipped"].add(skipped)
            acc["ranges_scored"].add(order.size - skipped)
        hit = [qc for qc in range(nq) if state_d[qc] is not None]
        if not hit:
            return _NO_HITS
        return (
            np.repeat(qid_arr[hit], [state_d[qc].size for qc in hit]),
            np.concatenate([state_d[qc] for qc in hit]),
            np.concatenate([state_s[qc] for qc in hit]),
        )

    return kernel


_NO_HITS = (np.empty(0, object), np.empty(0, np.int64), np.empty(0, np.float64))
