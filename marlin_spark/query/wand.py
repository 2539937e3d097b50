"""Block-max WAND top-k: one scoring kernel over compressed posting blocks.

``make_batch_wand_kernel`` is the only BM25 scoring loop. It scores any
number of queries in one pass over the matched blocks of their term
union; a single query is a batch of one (``make_wand_scorer`` is that
adapter). The engine decides only where the kernel runs:

- on the driver (``SearchEngine._local_topk``): the query's blocks as
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
  positions column is never read (parquet column pruning) — and score
  vectorized, with MaxScore candidate selection inside the range (see
  make_batch_wand_kernel).

Reference analog: the fast-rank partial scan + early termination
(/root/reference/src/main/docrank.c:478-574); ours prunes with provable
score bounds instead of sampling.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd

from marlin_spark.functions.codec import decode_blocks_many

_EPS = 1e-9


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
    """One query as a batch of one: make_batch_wand_kernel over
    ``{"": term_meta}``, yielding (docid, score) frames."""
    frames = pandas_scorer(make_batch_wand_kernel(
        {"": term_meta}, {"": n_slots}, k, mode, k1, b, avgdl,
        deleted=deleted, counters=counters,
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
    query_metas: dict[str, dict[str, tuple[float, int]]],
    n_slots: dict[str, int],
    k: int,
    mode: str = "any",
    k1: float = 1.2,
    b: float = 0.75,
    avgdl: float = 1.0,
    deleted: "np.ndarray | None" = None,
    theta_seed: "dict[str, float] | None" = None,
    counters: dict | None = None,
) -> Callable[[object], tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """Block-max WAND for MANY queries in one pass over the matched
    blocks of their term union; returns (query_id, docid, score) arrays,
    at most k rows per query. ``query_metas``: query_id -> term -> (idf, slot);
    slots group prefix expansions with their source word, so mode='all'
    requires ``n_slots[query_id]`` DISTINCT slots per doc. Each block is
    decoded ONCE per range and the decoded (docids, core) arrays are
    shared by every query that references the term. Three pruning
    layers, all exact:

    - range level (block-max): a query skips a whole range when its
      upper bound there cannot beat its running theta (vectorized for
      all queries at once via bincount over term->query incidence);
    - term level (MaxScore, Turtle & Flood 1995): within a range, terms
      are split per query into essential / non-essential by cumulative
      upper bound against theta — candidate docs come ONLY from
      essential postings; non-essential terms cannot lift a doc that
      appears in none of the essential lists above theta, but their
      exact contributions to surviving candidates are gathered by
      binary search into the term's (sorted) decoded docids;
    - candidate level: scored candidates below theta - 2e-9 are dropped
      before the top-k merge (2e-9 > one 9-decimal rounding step, so no
      rounded-tie winner is lost).

    Float exactness: every candidate's score accumulates term-ascending
    (zeros + t1 + t2 + ...; 0.0 + x == x in IEEE), the same order as the
    oracle's term-sorted sum.

    ``deleted``: sorted int64 tombstone docids, masked out right after
    block decode so a deleted doc can neither score nor occupy a top-k
    slot (block-max values stay valid upper bounds — they bound a
    superset).

    ``theta_seed``: optional per-query GLOBAL lower bounds on the final
    k-th best score (see SearchEngine._theta_seeds for the derivation
    and its validity gates). A seed lets every partition prune from its
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
    qid_list = sorted(query_metas)
    qid_arr = np.array(qid_list, dtype=object)
    qcode_of = {qid: i for i, qid in enumerate(qid_list)}
    nq = len(qid_list)
    want_slots = mode == "all"
    seed_arr = np.full(nq, -np.inf)
    if theta_seed:
        for qid, sv in theta_seed.items():
            qc = qcode_of.get(qid)
            if qc is not None:
                seed_arr[qc] = sv
    # per-query: terms ascending with aligned idf/slot arrays
    q_terms: list[list] = [None] * nq
    ns_arr = np.zeros(nq, np.int64)
    for qid, meta in query_metas.items():
        qc = qcode_of[qid]
        q_terms[qc] = [(t, meta[t][0], meta[t][1]) for t in sorted(meta)]
        ns_arr[qc] = n_slots.get(qid, 0)
    # term -> (qcodes, idfs) for the vectorized range-level bound
    tmp: dict[str, list] = {}
    for qid, meta in query_metas.items():
        qc = qcode_of[qid]
        for t, (idf, _slot) in meta.items():
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

    def kernel(blk) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        if blk is None:
            return _NO_HITS
        # (range, term, block) order on integer term codes: sorting the
        # string column costs a quarter of a small query's kernel time
        term_col = np.asarray(blk["term"])
        tc_a = np.fromiter(map(code_of.__getitem__, term_col), np.int64, term_col.size)
        rid_a = np.asarray(blk["range_id"])
        o = np.lexsort((np.asarray(blk["block_id"]), tc_a, rid_a))
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
            d_all, tf_all, dl_all, _ = decode_blocks_many(
                list(posts_a[blk_sl][keep_blk]), nd_kept
            )
            if d_all.size == 0:
                continue
            kmask = _mask_deleted(d_all, deleted)
            tfn = tf_all.astype(np.float64)
            core_all = tfn * (k1 + 1.0) / (
                tfn + norm_c + norm_s * dl_all.astype(np.float64)
            )
            decoded: dict[str, tuple] = {}
            tdoc = np.concatenate(([0], np.cumsum(nd_kept)))
            # a term's run may mix segments (base + uncompacted deltas)
            # whose block_ids each restart at 0, so block order is not
            # always docid order; a run with a docid descent is re-sorted
            # (the candidate gather binary-searches each term's docids)
            desc = np.flatnonzero(d_all[1:] < d_all[:-1]) + 1
            cnt_kept = t_cnt[needed]
            pos = 0
            blk_i = 0
            for ti in np.flatnonzero(needed):
                nb_t = cnt_kept[pos]
                lo, hi = tdoc[blk_i], tdoc[blk_i + nb_t]
                d_t, c_t = d_all[lo:hi], core_all[lo:hi]
                if kmask is not None:
                    kk = kmask[lo:hi]
                    d_t, c_t = d_t[kk], c_t[kk]
                if desc.size and (
                    np.searchsorted(desc, hi) > np.searchsorted(desc, lo, "right")
                ):
                    o_t = np.argsort(d_t, kind="stable")
                    d_t, c_t = d_t[o_t], c_t[o_t]
                if d_t.size:
                    decoded[terms_r[ti]] = (d_t, c_t)
                pos += 1
                blk_i += nb_t
            if not decoded:
                continue
            tmax_d = {terms_r[i]: tmax_r[i] for i in range(terms_r.size)}
            for qc in np.flatnonzero(active):
                present = [
                    (t, idf, slot)
                    for t, idf, slot in q_terms[qc]
                    if t in decoded
                ]
                if not present:
                    continue
                th = th_eff[qc]
                if want_slots and len({slot for _t, _i, slot in present}) < ns_arr[qc]:
                    continue  # too few distinct slots in this range
                if len(present) == 1:
                    t, idf, slot = present[0]
                    d_t, c_t = decoded[t]
                    cand_d = d_t
                    cand_s = idf * c_t
                else:
                    # MaxScore split: largest LOW-bound prefix whose
                    # cumulative upper bound stays under theta is
                    # non-essential — candidates come from the rest
                    ubs_t = [idf * tmax_d[t] for t, idf, _ in present]
                    o_asc = sorted(range(len(present)), key=lambda i: ubs_t[i])
                    cum = 0.0
                    non_ess = set()
                    if th > -np.inf:
                        for i in o_asc:
                            cum += ubs_t[i]
                            if cum < th - _EPS:
                                non_ess.add(i)
                            else:
                                break
                    ess = [i for i in range(len(present)) if i not in non_ess]
                    if not ess:
                        continue
                    if len(ess) == 1:
                        cand_d = decoded[present[ess[0]][0]][0]
                    else:
                        cand_d = np.unique(
                            np.concatenate(
                                [decoded[present[i][0]][0] for i in ess]
                            )
                        )
                    if cand_d.size == 0:
                        continue
                    cand_s = np.zeros(cand_d.size)
                    # per slot: does the candidate hold ANY of the slot's
                    # terms? Prefix expansions share their word's slot, so
                    # mode='all' counts distinct slots, never hitting terms
                    slot_hit: dict[int, np.ndarray] = {}
                    only_ess = len(ess) == 1
                    for i, (t, idf, slot) in enumerate(present):
                        d_t, c_t = decoded[t]
                        if only_ess and i == ess[0]:
                            cand_s += idf * c_t  # aligned: cand_d IS d_t
                            hit = np.ones(cand_d.size, bool)
                        else:
                            p = np.searchsorted(d_t, cand_d)
                            p[p >= d_t.size] = d_t.size - 1
                            hit = d_t[p] == cand_d
                            cand_s[hit] += idf * c_t[p[hit]]
                        if want_slots:
                            prev = slot_hit.get(slot)
                            slot_hit[slot] = hit if prev is None else prev | hit
                    if want_slots:
                        n_hit = np.sum(list(slot_hit.values()), axis=0)
                        okm = n_hit >= ns_arr[qc]
                        cand_d, cand_s = cand_d[okm], cand_s[okm]
                        if cand_d.size == 0:
                            continue
                if th > -np.inf:
                    keepm = cand_s >= th - 2.0 * _EPS
                    cand_d, cand_s = cand_d[keepm], cand_s[keepm]
                    if cand_d.size == 0:
                        continue
                sd, ss = state_d[qc], state_s[qc]
                if sd is not None:
                    cand_d = np.concatenate([sd, cand_d])
                    cand_s = np.concatenate([ss, cand_s])
                cand_d, cand_s = _topk_trim(cand_d, cand_s, k)
                state_d[qc], state_s[qc] = cand_d, cand_s
                if cand_d.size >= k:
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
