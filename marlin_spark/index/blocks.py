"""Posting-block writer (mapInPandas kernels of the index build).

One builder plus one merger write every posting block of the index:

- make_doc_range_builder runs directly over a docs scan (docid, dl,
  indexed fields). Each scan split tokenizes its docs and assembles its
  (term, range_id) posting groups locally, so the exploded token stream
  never touches the exchange. Groups cut by split boundaries yield
  PARTIAL blocks.
- make_block_merger folds those partial blocks into full blocks during
  the bucket-coalesce shuffle of the ~100x-smaller compressed blocks.

The bulk build and the streaming delta segments both run this pair
(build.write_postings): as Spark stages, or, for a small micro-batch,
called on the driver once per doc slab and once per term bucket. Compaction re-cuts every (term, range) group with
the merger's fold (fold_blocks), dropping tombstones and recomputing
block-max under the post-compaction avgdl.

Each (term, range) group is cut into blocks of <= block_size docs (never
crossing the range boundary — the roaring-container echo,
/root/reference/src/main/cont.h:8-14), delta+varbyte-compressed, and
emitted with skip-pointer metadata (first/last docid) + block-max BM25
tf-norm (multiplied by idf at query time to give the block-max WAND
upper bound). emit_blocks_vec is the one block encoder.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from marlin_spark.functions.codec import (
    decode_blocks_many,
    decode_positions_many,
    vb_encode_with_sizes,
)

BLOCK_SCHEMA = (
    "term string, range_id int, block_id int, first_docid long, "
    "last_docid long, n_docs int, sum_tf long, max_tfnorm double, "
    "postings binary, positions binary"
)

_OUT_COLS = [
    "term", "range_id", "block_id", "first_docid", "last_docid",
    "n_docs", "sum_tf", "max_tfnorm", "postings", "positions",
]

# columns and schema of a stored postings table (base or delta segment)
POSTING_COLS = _OUT_COLS + ["bucket"]
POSTINGS_SCHEMA = BLOCK_SCHEMA + ", bucket int"

_ARROW_TYPES = {
    "string": pa.string(), "int": pa.int32(), "long": pa.int64(),
    "double": pa.float64(), "binary": pa.binary(),
}
# the same schema for pyarrow writers (write_postings' driver placement)
POSTINGS_ARROW_SCHEMA = pa.schema(
    [(n, _ARROW_TYPES[t]) for n, t in (f.split() for f in POSTINGS_SCHEMA.split(","))]
)


def emit_blocks_vec(
    uniq: np.ndarray,
    u_c: np.ndarray,
    u_r: np.ndarray,
    u_d: np.ndarray,
    tf: np.ndarray,
    u_dl: np.ndarray,
    pos: np.ndarray,
    k1: float,
    b: float,
    avgdl: float,
    block_size: int,
    acc: dict,
) -> pd.DataFrame | None:
    """Vectorized multi-block emitter: encodes EVERY block of a partition
    in a handful of numpy passes (two vb_encode calls total) instead of
    ~10 numpy calls per block — the per-block overhead was the measured
    hot spot of the build (337us/block; a partition holds 10^4-10^5
    blocks).

    Inputs are DOC-LEVEL arrays, group-contiguous by (term code, range_id)
    with docids strictly increasing within a group, plus the doc-major
    position-level array ``pos`` (tf[i] positions for doc i). ``uniq``
    maps term codes -> term strings. Returns a BLOCK_SCHEMA DataFrame.
    """
    nd = u_d.shape[0]
    if nd == 0:
        return None
    norm_c = k1 * (1.0 - b)
    norm_s = k1 * b / avgdl if avgdl > 0 else 0.0
    ar = np.arange(nd)
    new_group = np.empty(nd, dtype=bool)
    new_group[0] = True
    new_group[1:] = (u_c[1:] != u_c[:-1]) | (u_r[1:] != u_r[:-1])
    g_of = np.cumsum(new_group) - 1
    g_start = np.flatnonzero(new_group)
    idx_in_g = ar - g_start[g_of]
    # a block starts at each group start and every block_size docs within
    new_block = idx_in_g % block_size == 0
    b_start = np.flatnonzero(new_block)
    nb = b_start.size
    bod = np.cumsum(new_block) - 1  # block id of each doc row
    b_end = np.append(b_start[1:], nd)
    b_ndocs = (b_end - b_start).astype(np.int64)
    tf64 = tf.astype(np.int64)
    tff = tf64.astype(np.float64)
    score = tff * (k1 + 1.0) / (tff + norm_c + norm_s * u_dl.astype(np.float64))
    b_max = np.maximum.reduceat(score, b_start)
    b_sumtf = np.add.reduceat(tf64, b_start)
    # --- postings payload: per block [n, deltas(n), tfs(n), dls(n)] ---
    # width-adaptive: when every stored value fits 32 bits (always at
    # bench scale; docids < 2^32) the whole scatter-assemble-encode
    # sequence runs on uint32 — half the memory traffic of the uint64
    # layout on the build's hottest phase (vb output is identical; the
    # encoder is value-driven)
    vdt = (
        np.uint32
        if int(u_d.max()) < (1 << 32) and int(u_dl.max()) < (1 << 32)
        else np.uint64
    )
    du = u_d.astype(vdt)
    deltas = np.empty(nd, dtype=vdt)
    deltas[1:] = du[1:] - du[:-1]  # cross-block wraps are overwritten below
    deltas[b_start] = du[b_start]
    seg_len = 1 + 3 * b_ndocs
    seg_start = np.concatenate(([0], np.cumsum(seg_len)))[:-1]
    vals = np.empty(int(nb + 3 * nd), dtype=vdt)
    vals[seg_start] = b_ndocs.astype(vdt)
    bn_bod = b_ndocs[bod]
    base = seg_start[bod] + 1 + (ar - b_start[bod])
    vals[base] = deltas
    base += bn_bod
    vals[base] = tf64.astype(vdt)
    vals[base + bn_bod] = u_dl.astype(vdt)
    buf, sizes = vb_encode_with_sizes(vals)
    cum = np.concatenate(([0], np.cumsum(sizes)))
    blo = cum[seg_start]
    bhi = cum[seg_start + seg_len]
    post_bytes = [buf[lo:hi] for lo, hi in zip(blo.tolist(), bhi.tolist())]
    # --- positions payload: per doc, first absolute then gaps ---
    npos = pos.shape[0]
    if npos:
        pos64 = np.asarray(pos, dtype=np.int64)
        p_doc_start = np.concatenate(([0], np.cumsum(tf64)))[:-1]
        # position payloads are (field<<16)|pos packed ints < 2^32: keep
        # the delta stream 32-bit end to end (same encoded bytes)
        pdt = np.uint32 if int(pos64.max()) < (1 << 32) else np.uint64
        pdelta = np.empty(npos, dtype=pdt)
        pdelta[1:] = (pos64[1:] - pos64[:-1]).astype(pdt)
        pdelta[p_doc_start] = pos64[p_doc_start].astype(pdt)
        pbuf, psizes = vb_encode_with_sizes(pdelta)
        pcum = np.concatenate(([0], np.cumsum(psizes)))
        p_bounds = np.concatenate((p_doc_start, [npos]))
        plo = pcum[p_bounds[b_start]]
        phi = pcum[p_bounds[b_end]]
        pos_bytes = [pbuf[lo:hi] for lo, hi in zip(plo.tolist(), phi.tolist())]
        pos_total = len(pbuf)
    else:
        pos_bytes = [b""] * nb
        pos_total = 0
    if "postings_emitted" in acc:
        acc["postings_emitted"].add(int(nd))
    if "blocks_built" in acc:
        acc["blocks_built"].add(int(nb))
    if "bytes_postings" in acc:
        acc["bytes_postings"].add(len(buf))
    if "bytes_positions" in acc:
        acc["bytes_positions"].add(pos_total)
    return pd.DataFrame(
        {
            "term": uniq[u_c[b_start]],
            "range_id": u_r[b_start].astype(np.int32),
            "block_id": (idx_in_g[b_start] // block_size).astype(np.int32),
            "first_docid": u_d[b_start].astype(np.int64),
            "last_docid": u_d[b_end - 1].astype(np.int64),
            "n_docs": b_ndocs.astype(np.int32),
            "sum_tf": b_sumtf,
            "max_tfnorm": b_max,
            "postings": post_bytes,
            "positions": pos_bytes,
        }
    )


def collapse_positions_to_docs(
    c: np.ndarray, r: np.ndarray, d: np.ndarray, dl: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Position-level sorted (code, range, docid) stream -> doc-level
    boundary index + tf per doc. Returns (doc_idx, tf)."""
    total = d.shape[0]
    new_doc = np.empty(total, dtype=bool)
    new_doc[0] = True
    new_doc[1:] = (c[1:] != c[:-1]) | (r[1:] != r[:-1]) | (d[1:] != d[:-1])
    doc_idx = np.flatnonzero(new_doc)
    tf = np.diff(np.append(doc_idx, total))
    return doc_idx, tf


def make_doc_range_builder(
    analyzer: str,
    k1: float,
    b: float,
    avgdl: float,
    block_size: int,
    range_size: int,
    counters: dict | None = None,
    fields: list[str] | None = None,
    _force_generic: bool = False,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """ZERO-SHUFFLE postings builder: mapInPandas directly over the docs/
    scan (docid, dl, text), run by build.write_postings for the bulk
    build and for delta segments. ``_force_generic`` disables the
    bandwidth-lean sort fast path (equivalence tests only).

    Every posting group keys on (term, range_id = docid // range_size),
    and a scan split holds a contiguous slab of docids, so each split can
    tokenize its docs and assemble its (term, range) groups entirely
    locally: the exploded token stream (the ~30x-larger-than-text
    intermediate that round 1 shuffled by (term, range_id)) never touches
    the exchange. Head-term skew is structurally gone too: the unit of
    parallelism is a doc slab, which is uniform by construction, instead
    of a term's posting list.

    Groups cut by split boundaries yield PARTIAL blocks for the same
    (term, range_id) with disjoint docid slabs; make_block_merger folds
    them into full blocks during the bucket-coalesce shuffle.

    ``fields``: ordered indexed columns; field k's positions are packed
    as (k << 16) | pos — the reference's IDPRIORITY scheme
    (sindex.c:697-701) — so phrase adjacency stays in-field and the rank
    cascade unpacks field/position from one min().
    """
    acc = counters or {}
    fields = list(fields or ["text"])

    def builder(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from marlin_spark.oracle.tokenizer import analyze_batch

        # accumulate the WHOLE partition before grouping: a partition may
        # pack many small docs files (Arrow batch each); building per
        # batch would fragment (term, range) groups into per-file partial
        # blocks. Memory is bounded by the scan split size
        # (one scan split of text + ~10x that in token arrays).
        import time as _time

        def _lap(key, t0):
            """Record wall ms (ms_*) and, when wired, cpu ms (cpu_*) per
            phase: wall >> cpu inside a worker = descheduled by core
            oversubscription, the key scaling diagnostic."""
            if key in acc:
                acc[key].add(int((_time.time() - t0[0]) * 1000))
            ck = "cpu_" + key[3:]
            if ck in acc:
                acc[ck].add(int((_time.process_time() - t0[1]) * 1000))
            return (_time.time(), _time.process_time())

        t = (_time.time(), _time.process_time())
        parts = [pdf for pdf in batches if not pdf.empty]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        t = _lap("ms_read", t)
        docids = pdf["docid"].to_numpy(dtype=np.int64)
        dls = pdf["dl"].to_numpy(dtype=np.int64)
        f_doc, f_terms, f_pos = [], [], []
        for prio, fname in enumerate(fields):
            offset = prio << 16
            counts, terms_arr, pos_arr = analyze_batch(
                pdf[fname].tolist(), analyzer, "index"
            )
            if terms_arr.size == 0:
                continue
            t = _lap("ms_tokenize", t)
            if offset:
                pos_arr = pos_arr + offset
            f_doc.append(np.repeat(docids, counts))
            f_terms.append(terms_arr)
            f_pos.append(pos_arr)
            t = _lap("ms_flatten", t)
        if not f_doc:
            return
        rep_doc = np.concatenate(f_doc) if len(f_doc) > 1 else f_doc[0]
        flat_terms = np.concatenate(f_terms) if len(f_terms) > 1 else f_terms[0]
        flat_pos = np.concatenate(f_pos) if len(f_pos) > 1 else f_pos[0]
        # integer term codes first: sort over ints, not strings
        codes, uniq = pd.factorize(flat_terms)
        # --- bandwidth-lean fast path -------------------------------------
        # The token stream arrives DOC-MAJOR with positions in token order,
        # so when the partition's docids are monotone (docs files are
        # docid-range-sorted; holds for every in-order scan) a STABLE sort
        # by the int32 term code ALONE already yields (code, doc, pos)
        # order — and range_id is monotone in docid, so (code, range)
        # groups come out contiguous with docids increasing, exactly what
        # the emitter needs. vs the composite-int64-key sort below this is
        # a 4-byte radix instead of an 8-byte one on 10^7-row arrays, skips
        # the ~5 full int64 passes that BUILT the key, and replaces four
        # 8-byte random gathers with one int32 + one packed-int64 gather —
        # the phases whose CPU time inflates 6-8x when all cores contend
        # for DRAM (the measured N->4N scaling killer on bandwidth-capped
        # hosts, BENCH/standalone_rounds_2_8_10M.json round 9 phase-cpu).
        mono = not _force_generic and len(fields) == 1 and (
            docids.size == 1
            or bool((docids[1:] >= docids[:-1]).all())
        )
        pmax = int(flat_pos.max())
        shift = max(20, pmax.bit_length())
        r_lo = int(rep_doc[0]) // range_size if mono else 0
        r_hi = int(rep_doc[-1]) // range_size if mono else 0
        if (
            mono
            and (int(rep_doc[-1]) >> (62 - shift)) == 0
            and r_hi - r_lo < rep_doc.shape[0]  # dense docids (always)
        ):
            # RANGE-SLAB pipeline: rep_doc is monotone, so slicing at
            # range_size boundaries gives one exact range_id per slab —
            # no new partial blocks (a range never spans slabs), but the
            # per-slab sort + the two random gathers + the ~20-pass
            # emitter all run on a slab-sized working set that fits L3
            # instead of streaming the full split through DRAM. With all
            # cores busy this is the difference between compute-bound and
            # bandwidth-stalled (the measured 6-8x phase-CPU inflation at
            # 4 workers, BENCH/standalone_rounds_2_8_10M.json round 9).
            codes32 = codes.astype(np.int32, copy=False)
            flat_pos64 = flat_pos.astype(np.int64, copy=False)
            edges = np.searchsorted(
                rep_doc,
                np.arange(r_lo + 1, r_hi + 1, dtype=np.int64) * range_size,
            )
            bounds = np.concatenate(([0], edges, [rep_doc.shape[0]]))
            uniq_np = uniq.to_numpy() if hasattr(uniq, "to_numpy") else np.asarray(uniq)
            mask = (1 << shift) - 1
            frames = []
            w_sort = c_sort = w_emit = c_emit = 0.0
            for a, bnd in zip(bounds[:-1].tolist(), bounds[1:].tolist()):
                if bnd == a:
                    continue
                w0, c0 = _time.time(), _time.process_time()
                order = np.argsort(codes32[a:bnd], kind="stable")
                w1, c1 = _time.time(), _time.process_time()
                w_sort += w1 - w0
                c_sort += c1 - c0
                c_sl = codes32[a:bnd][order]
                comb = ((rep_doc[a:bnd] << shift) | flat_pos64[a:bnd])[order]
                d = comb >> shift
                p = comb & mask
                del comb
                new_doc = np.empty(d.shape[0], dtype=bool)
                new_doc[0] = True
                new_doc[1:] = (c_sl[1:] != c_sl[:-1]) | (d[1:] != d[:-1])
                doc_idx = np.flatnonzero(new_doc)
                tf = np.diff(np.append(doc_idx, d.shape[0]))
                u_d = d[doc_idx]
                # docids are monotone here: direct searchsorted, no argsort
                u_dl = dls[np.searchsorted(docids, u_d)]
                rid = int(u_d[0]) // range_size
                res = emit_blocks_vec(
                    uniq_np,
                    c_sl[doc_idx],
                    np.full(u_d.shape[0], rid, dtype=np.int64),
                    u_d, tf, u_dl, p,
                    k1, b, avgdl, block_size, acc,
                )
                if res is not None:
                    frames.append(res)
                w2, c2 = _time.time(), _time.process_time()
                w_emit += w2 - w1
                c_emit += c2 - c1
            for key, val in (("ms_sort", w_sort), ("cpu_sort", c_sort),
                             ("ms_emit", w_emit), ("cpu_emit", c_emit)):
                if key in acc:
                    acc[key].add(int(val * 1000))
            if frames:
                out = (
                    pd.concat(frames, ignore_index=True)
                    if len(frames) > 1 else frames[0]
                )
                yield out[_OUT_COLS]
            return
        else:
            rng = rep_doc // range_size
            # composite single-key argsort for (rng, code, docid, pos): one
            # radix-ish pass instead of lexsort's four stable passes. A scan
            # split holds a narrow docid slab, so the rebased product fits
            # 63 bits at any corpus scale; fall back to lexsort if not.
            d_rel = rep_doc - rep_doc.min()
            r_rel = rng - rng.min()
            kk = int(uniq.size)
            dd_span = int(d_rel.max()) + 1
            pp_span = pmax + 1
            rr_span = int(r_rel.max()) + 1
            if rr_span * kk * dd_span * pp_span < (1 << 63):
                # int64 arithmetic throughout (bound-checked, no overflow)
                key = ((r_rel * kk + codes.astype(np.int64)) * dd_span + d_rel) * pp_span + flat_pos
                # kind="stable" = LSD radix sort for int keys in numpy: O(n)
                # passes instead of comparison introsort on 10^7-row arrays
                order = np.argsort(key, kind="stable")
            else:
                order = np.lexsort((flat_pos, rep_doc, codes, rng))
            t = _lap("ms_sort", t)
            c = codes[order]
            r = rng[order]
            d = rep_doc[order]
            p = flat_pos[order]
            doc_idx, tf = collapse_positions_to_docs(c, r, d, None)
            u_d = d[doc_idx]
        # dl at DOC level via a 1e5-element searchsorted lookup — never
        # replicated to the 10^7-row position stream (its repeat + sort
        # gather was measurable memory traffic for a pure redundancy)
        dorder = np.argsort(docids, kind="stable")
        u_dl = dls[dorder][np.searchsorted(docids[dorder], u_d)]
        res = emit_blocks_vec(
            uniq.to_numpy() if hasattr(uniq, "to_numpy") else np.asarray(uniq),
            c[doc_idx], r[doc_idx], u_d, tf,
            u_dl, p,
            k1, b, avgdl, block_size, acc,
        )
        t = _lap("ms_emit", t)
        if res is not None:
            yield res[_OUT_COLS]

    return builder


def _group_order(
    pdf: pd.DataFrame,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Orders block rows by (term, range_id, first_docid). Returns
    (uniq, order, c, r): term strings by code, the row order, and the
    term codes and range ids of the rows in that order."""
    codes, uniq = pd.factorize(pdf["term"].to_numpy())
    rng = pdf["range_id"].to_numpy(dtype=np.int64)
    first = pdf["first_docid"].to_numpy(dtype=np.int64)
    order = np.lexsort((first, rng, codes))
    return np.asarray(uniq), order, codes[order], rng[order]


def fold_blocks(
    pdf: pd.DataFrame,
    rows: np.ndarray,
    uniq: np.ndarray,
    c: np.ndarray,
    r: np.ndarray,
    k1: float,
    b: float,
    avgdl: float,
    block_size: int,
    acc: dict,
    deleted: np.ndarray | None = None,
) -> pd.DataFrame | None:
    """Re-cuts the blocks ``pdf.take(rows)`` into full blocks with one
    batch decode and one emit_blocks_vec call over every group.

    ``rows`` are group-contiguous by (term code ``c``, range ``r``) and
    ordered by first_docid. The source blocks of one group hold disjoint
    docid sets, but not always disjoint slabs: a scan split that packs
    several non-adjacent docs files emits partial blocks whose docid
    spans interleave with another split's. A group whose concatenated
    docids are not increasing is re-sorted (positions follow their
    docs), so re-cutting always yields the blocks a single-pass build
    emits.
    ``deleted``: sorted int64 tombstone docids, dropped before re-cutting.
    A ``bucket`` column of ``pdf`` is carried to the output blocks.

    max_tfnorm is recomputed under ``avgdl``. For compaction that is the
    POST-compaction avgdl, and the recompute is correctness-critical, not
    cosmetic: block-max WAND treats max_tfnorm as an upper bound of
    tf/(tf + k1(1-b) + k1*b*dl/avgdl) under the avgdl the QUERY uses.
    Compaction refreshes stats.json's avgdl; if avgdl shrinks (deletes,
    shorter new docs), a stale stored max computed under the old avgdl
    UNDERSTATES the bound and WAND would skip ranges that hold true top-k
    docs.
    """
    nd = pdf["n_docs"].to_numpy().astype(np.int64)[rows]
    post = pdf["postings"].to_numpy()[rows].tolist()
    posx = pdf["positions"].to_numpy()[rows].tolist()
    docids, tfs, dls, _ = decode_blocks_many(post, nd)
    positions = decode_positions_many(posx, tfs)
    codes = np.repeat(c, nd)
    rids = np.repeat(r, nd)
    same = (codes[1:] == codes[:-1]) & (rids[1:] == rids[:-1])
    if (same & (docids[1:] <= docids[:-1])).any():
        o = np.lexsort((docids, np.cumsum(np.append(True, ~same))))
        tf_o = tfs[o]
        src = (np.cumsum(tfs) - tfs)[o]
        dst = np.cumsum(tf_o) - tf_o
        positions = positions[np.repeat(src - dst, tf_o) + np.arange(tf_o.sum())]
        docids, tfs, dls = docids[o], tf_o, dls[o]
    if deleted is not None and deleted.size and docids.size:
        idx = np.minimum(np.searchsorted(deleted, docids), deleted.size - 1)
        keep = deleted[idx] != docids
        if not keep.all():
            positions = positions[np.repeat(keep, tfs)]
            codes, rids, docids, tfs, dls = (
                a[keep] for a in (codes, rids, docids, tfs, dls)
            )
    res = emit_blocks_vec(
        uniq, codes, rids, docids, tfs, dls, positions,
        k1, b, avgdl, block_size, acc,
    )
    if res is not None and "bucket" in pdf.columns:
        # bucket is a pure function of term: carried over, not recomputed
        bmap = dict(zip(
            pdf["term"].to_numpy()[rows].tolist(),
            pdf["bucket"].to_numpy(dtype=np.int64)[rows].tolist(),
        ))
        res["bucket"] = res["term"].map(bmap).astype("int32")
    return res


def make_block_merger(
    k1: float,
    b: float,
    avgdl: float,
    block_size: int,
    counters: dict | None = None,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """Folds the doc-range builder's partial blocks into full blocks.

    Runs inside the bucket-coalesce shuffle (keyed by (bucket,
    range_id%16), which co-locates every block of a (term, range) group —
    bucket is a pure function of term). Groups with one source block pass
    through; the rest go through fold_blocks.
    Input/output schema: BLOCK_SCHEMA + trailing bucket column.
    """
    acc = counters or {}

    def merger(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import time as _time

        _t0 = _time.time()
        parts = [pdf for pdf in batches if not pdf.empty]
        if "ms_merge_wait" in acc:
            # pulling the input iterator = shuffle fetch + Arrow transfer:
            # report it apart from merge COMPUTE so a slow-exchange round
            # is distinguishable from a slow-kernel one
            acc["ms_merge_wait"].add(int((_time.time() - _t0) * 1000))
        _t0 = _time.time()
        _c0 = _time.process_time()
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        uniq, order, c, r = _group_order(pdf)
        nrows = len(pdf)
        new_g = np.empty(nrows, dtype=bool)
        new_g[0] = True
        new_g[1:] = (c[1:] != c[:-1]) | (r[1:] != r[:-1])
        g_of = np.cumsum(new_g) - 1
        g_sizes = np.bincount(g_of)
        is_single = g_sizes[g_of] == 1  # over ordered rows
        outs: list[pd.DataFrame] = []
        single_rows = order[is_single]
        if single_rows.size:
            # groups with ONE source block (the vast majority away from
            # split boundaries) pass through byte-identical, vectorized
            passthru = pdf.take(single_rows)
            if "blocks_built" in acc:
                acc["blocks_built"].add(int(single_rows.size))
            if "bytes_postings" in acc:
                acc["bytes_postings"].add(
                    int(sum(len(x) for x in passthru["postings"]))
                )
            if "bytes_positions" in acc:
                acc["bytes_positions"].add(
                    int(sum(len(x) for x in passthru["positions"]))
                )
            outs.append(passthru)
        multi = ~is_single
        if multi.any():
            rows = order[multi]
            outs.append(fold_blocks(
                pdf, rows, uniq, c[multi], r[multi],
                k1, b, avgdl, block_size, acc,
            ))
        res = pd.concat(outs, ignore_index=True) if len(outs) > 1 else outs[0]
        res = res[POSTING_COLS]
        if "ms_merge" in acc:
            acc["ms_merge"].add(int((_time.time() - _t0) * 1000))
        if "cpu_merge" in acc:
            acc["cpu_merge"].add(int((_time.process_time() - _c0) * 1000))
        yield res

    return merger


def make_compaction_rewriter(
    k1: float,
    b: float,
    new_avgdl: float,
    block_size: int,
    deleted: np.ndarray | None = None,
    counters: dict | None = None,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """Compaction kernel: fold_blocks over EVERY (term, range) group —
    merging base + delta-segment blocks, dropping tombstoned docids, and
    recomputing max_tfnorm with the POST-compaction avgdl.

    ``deleted``: sorted int64 docid tombstones, captured in the closure.
    At 10^12-doc scale the tombstone set between compactions is bounded
    by ingest batch size; were it ever huge, the same kernel runs after a
    docid-range co-partitioned join instead of a broadcast closure.
    Runs in the merge-and-write stage of the block merger
    (build.merge_and_write), so its input and output schema is the
    merger's: BLOCK_SCHEMA + trailing bucket column.
    """
    acc = counters or {}

    def rewriter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = [pdf for pdf in batches if not pdf.empty]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        uniq, order, c, r = _group_order(pdf)
        res = fold_blocks(
            pdf, order, uniq, c, r, k1, b, new_avgdl, block_size, acc, deleted
        )
        if res is not None:
            yield res

    return rewriter
