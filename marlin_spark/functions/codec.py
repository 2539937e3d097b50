"""Vectorized delta + varbyte posting-block codec (numpy, no per-row Python).

The reference stores positions with a scalar 7-bit-continuation vint codec
(/root/reference/src/main/sindex.c:328-351) and docid sets as roaring
bitmaps (/root/reference/src/main/bmap.c). This engine replaces both with
block-compressed posting lists (standard IR layout — delta gaps + varbyte,
per-block skip metadata + block-max scores), encoded/decoded with numpy
array ops so the codec runs vectorized inside Arrow UDF batches.

Varbyte format: little-endian 7-bit groups, high bit set = continuation.

Block payload is split into TWO binary columns so Parquet column pruning
lets BM25 queries never read position bytes from disk:
- postings_bytes: vb[n] + vb[docid:first abs, then gaps-1? no: gaps] +
  vb[tf]*n + vb[dl]*n
- positions_bytes: per doc, tf values: first position absolute then gaps
"""

from __future__ import annotations

import numpy as np

# 10 varbyte groups cover the full 64-bit range (9 groups stop at 2^63
# and would silently truncate larger values)
_THRESH = [1 << (7 * k) for k in range(1, 10)]


def vb_encode_with_sizes(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Vectorized varbyte encode; also returns per-value byte counts so a
    caller encoding many logical records in one call can split the buffer
    (the multi-block emitter's fast path)."""
    v = np.asarray(values)
    if v.dtype != np.uint32:  # callers pass uint32 (stays) or uint64
        v = v.astype(np.uint64, copy=False)
    if v.size == 0:
        return b"", np.empty(0, dtype=np.int64)
    vmax = int(v.max())
    # narrow internal dtype: the encode makes ~6-8 full-array passes, and
    # postings payloads (gaps/tf/dl, overwhelmingly < 2^32) are the
    # hottest build phase — uint32 halves its memory traffic (output
    # bytes identical; >=2^32 inputs keep the uint64 path)
    if vmax < (1 << 32):
        v = v.astype(np.uint32, copy=False)
    mask7f = v.dtype.type(0x7F)
    seven = v.dtype.type(7)
    nb = np.ones(v.shape, dtype=np.int32)
    for t in _THRESH:
        if vmax < t:
            break  # (the uint32 path always breaks before t >= 2^32)
        nb += v >= v.dtype.type(t)
    total = int(nb.sum())
    starts = np.cumsum(nb, dtype=np.int64) - nb
    out = np.empty(total, dtype=np.uint8)
    # byte-slot passes: slot 0 covers every value; slot j only the values
    # needing > j bytes (a fast-shrinking minority for delta/tf/dl data).
    # Avoids the O(total) repeat/arange expansion of the naive layout.
    max_nb = int(nb.max())
    for j in range(max_nb):
        if j == 0:
            idx, vj, nbj = starts, v, nb
        else:
            mask = nb > j
            idx = starts[mask] + j
            vj = v[mask]
            nbj = nb[mask]
        byte = (vj >> v.dtype.type(7 * j)) & mask7f
        byte |= (nbj > j + 1).astype(v.dtype) << seven
        out[idx] = byte.astype(np.uint8)
    return out.tobytes(), nb.astype(np.int64)


def vb_encode(values: np.ndarray) -> bytes:
    """Vectorized varbyte encode of a non-negative int64/uint64 array."""
    return vb_encode_with_sizes(values)[0]


def vb_decode(buf: bytes) -> np.ndarray:
    """Vectorized varbyte decode -> uint64 array. Loops over byte
    positions within a value (posting values are mostly 1-2 bytes), so its
    temporaries are per value, not per byte."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    ends = np.flatnonzero(b < 0x80)
    if ends.size == b.size:  # every value is one byte
        return b.astype(np.uint64)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    out = (b[starts] & 0x7F).astype(np.uint64)
    longer = np.flatnonzero(ends > starts)
    j = 1
    while longer.size:
        pos = starts[longer] + j
        out[longer] |= (b[pos] & 0x7F).astype(np.uint64) << np.uint64(7 * j)
        longer = longer[pos < ends[longer]]
        j += 1
    return out


def encode_block(
    docids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    positions: np.ndarray,
) -> tuple[bytes, bytes]:
    """Encode one block (docids strictly increasing; positions doc-major,
    ``tfs[i]`` positions for doc i). Returns (postings_bytes, positions_bytes).
    """
    n = docids.shape[0]
    if n == 0:
        return vb_encode(np.zeros(1, dtype=np.uint64)), b""
    deltas = np.empty(n, dtype=np.uint64)
    deltas[0] = docids[0]
    deltas[1:] = np.diff(docids.astype(np.uint64))
    head = np.concatenate(
        [
            np.array([n], dtype=np.uint64),
            deltas,
            tfs.astype(np.uint64),
            dls.astype(np.uint64),
        ]
    )
    if positions.size:
        pos = positions.astype(np.int64)
        starts = np.zeros(n, dtype=np.int64)
        starts[1:] = np.cumsum(tfs)[:-1].astype(np.int64)
        pdelta = np.diff(pos, prepend=0).astype(np.int64)
        # reset delta chain at each doc's first position (store absolute)
        pdelta[starts] = pos[starts]
        pos_bytes = vb_encode(pdelta.astype(np.uint64))
    else:
        pos_bytes = b""
    return vb_encode(head), pos_bytes


def decode_block(postings_bytes: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode (docids, tfs, dls) from postings_bytes."""
    vals = vb_decode(postings_bytes)
    n = int(vals[0])
    docids = np.cumsum(vals[1 : 1 + n])
    tfs = vals[1 + n : 1 + 2 * n]
    dls = vals[1 + 2 * n : 1 + 3 * n]
    return docids, tfs, dls


def decode_blocks_many(
    post_bufs: list, n_docs: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Batch-decode MANY postings buffers in one vb_decode pass (varbyte
    continuation bits are self-delimiting, so concatenated buffers decode
    as one stream). ``n_docs`` gives each block's doc count (stored
    alongside the block), which fixes every value offset up front.

    Returns (docids, tfs, dls, d_start) where the first three are
    doc-level arrays concatenated in input-block order and ``d_start`` is
    each block's starting index into them. Delta chains reset per block,
    so each block's docids are exact and increasing; blocks follow one
    another in input order.
    """
    n = np.asarray(n_docs, dtype=np.int64)
    nd_total = int(n.sum())
    if nd_total == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z, z, z
    vals = vb_decode(b"".join(post_bufs))
    vlen = 1 + 3 * n
    voff = np.concatenate(([0], np.cumsum(vlen)))[:-1]
    d_start = np.concatenate(([0], np.cumsum(n)))[:-1]
    doc_off = np.arange(nd_total) - np.repeat(d_start, n)
    didx = np.repeat(voff + 1, n) + doc_off
    rep_n = np.repeat(n, n)
    deltas = vals[didx].astype(np.int64)
    tfs = vals[didx + rep_n].astype(np.int64)
    dls = vals[didx + 2 * rep_n].astype(np.int64)
    cs = np.cumsum(deltas)
    base = cs[d_start] - deltas[d_start]
    docids = cs - np.repeat(base, n)
    return docids, tfs, dls, d_start


def decode_positions_many(pos_bufs: list, tfs: np.ndarray) -> np.ndarray:
    """Batch-decode many positions buffers (concatenated single-pass
    vb_decode). ``tfs`` is the doc-level tf array across all blocks in
    buffer order; per-doc delta chains reset at each doc's first position.
    Returns the doc-major positions array."""
    tf64 = np.asarray(tfs, dtype=np.int64)
    pdeltas = vb_decode(b"".join(pos_bufs)).astype(np.int64)
    if pdeltas.size == 0:
        return pdeltas
    p_doc_start = np.concatenate(([0], np.cumsum(tf64)))[:-1]
    cs = np.cumsum(pdeltas)
    base = cs[p_doc_start] - pdeltas[p_doc_start]
    return cs - np.repeat(base, tf64)


def decode_positions(positions_bytes: bytes, tfs: np.ndarray) -> np.ndarray:
    """Decode doc-major positions array given per-doc tfs."""
    deltas = vb_decode(positions_bytes).astype(np.int64)
    if deltas.size == 0:
        return deltas
    tfs = tfs.astype(np.int64)
    starts = np.zeros(tfs.shape[0], dtype=np.int64)
    starts[1:] = np.cumsum(tfs)[:-1]
    cum = np.cumsum(deltas)
    base = cum[starts] - deltas[starts]
    return cum - np.repeat(base, tfs)
