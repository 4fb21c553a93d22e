"""Delta + varint (LEB128) posting-block codec — numpy-vectorized.

Replaces the reference's in-heap primitive-int sets
(reference engine/src/main/java/org/search/engine/tree/TreeNode.java:18,
trove TIntHashSet) with the on-disk form the north star requires:
docID-sorted, delta-encoded, varint-compressed blocks with a per-block
``max_tf``. The format keeps ``max_tf``, but no query reads it.

All encode/decode work is numpy array arithmetic (no per-element Python
loops over values — only over the ≤9 varint byte positions), so it is
fast inside Arrow-batched pandas UDFs.
"""

from __future__ import annotations

from typing import List, Tuple

import numpy as np

DEFAULT_BLOCK_SIZE = 128


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array. Vectorized: loops only over the
    byte position (≤10 iterations), never over elements."""
    a = np.ascontiguousarray(values, dtype=np.uint64)
    if a.size == 0:
        return b""
    # exact byte length per value: 1 + number of 7-bit groups above the first
    nbytes = np.ones(a.shape, dtype=np.int64)
    for j in range(1, 10):
        nbytes += (a >= np.uint64(1) << np.uint64(7 * j)).astype(np.int64)
    offsets = np.zeros(a.size, dtype=np.int64)
    np.cumsum(nbytes[:-1], out=offsets[1:])
    out = np.zeros(int(nbytes.sum()), dtype=np.uint8)
    for j in range(10):
        mask = nbytes > j
        if not mask.any():
            break
        chunk = (a[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (nbytes[mask] > j + 1).astype(np.uint8) << 7
        out[offsets[mask] + j] = chunk.astype(np.uint8) | cont
    return out.tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes back to a uint64 array (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    ends = np.flatnonzero((b & 0x80) == 0)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    vals = np.zeros(ends.size, dtype=np.uint64)
    for j in range(int(lengths.max())):
        mask = lengths > j
        vals[mask] |= (b[starts[mask] + j] & np.uint64(0x7F)).astype(
            np.uint64
        ) << np.uint64(7 * j)
    return vals


def encode_blocks(
    doc_ids: np.ndarray, tfs: np.ndarray, block_size: int = DEFAULT_BLOCK_SIZE
) -> List[Tuple[int, int, int, int, bytes, bytes]]:
    """Split a term's docID-sorted postings into fixed-size blocks.

    Returns ``[(first_doc, last_doc, n, max_tf, doc_deltas, tf_bytes)]``.
    ``doc_deltas`` is varint of successive docID deltas (the first entry
    is 0 — the block's first id lives in the struct field, so blocks are
    self-contained and independently skippable). ``tf_bytes`` is
    varint(tf). ``max_tf`` is the block's largest tf; it stays in the
    format, but no query reads it.
    """
    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    assert doc_ids.size == tfs.size
    out = []
    for s in range(0, doc_ids.size, block_size):
        d = doc_ids[s : s + block_size]
        t = tfs[s : s + block_size]
        deltas = np.empty(d.size, dtype=np.uint64)
        deltas[0] = 0  # first id lives in the struct field
        deltas[1:] = np.diff(d).astype(np.uint64)
        out.append(
            (
                int(d[0]),
                int(d[-1]),
                int(d.size),
                int(t.max()),
                varint_encode(deltas),
                varint_encode(t.astype(np.uint64)),
            )
        )
    return out


def decode_block(
    first_doc: int, deltas: bytes, tf_bytes: bytes
) -> Tuple[np.ndarray, np.ndarray]:
    """Inverse of one ``encode_blocks`` entry -> (doc_ids, tfs)."""
    d = varint_decode(deltas).astype(np.int64)
    d[0] = first_doc
    doc_ids = np.cumsum(d)
    tfs = varint_decode(tf_bytes).astype(np.int64)
    return doc_ids, tfs


def decode_blocks(blocks) -> Tuple[np.ndarray, np.ndarray]:
    """Batch form of :func:`decode_block` over a sequence of block
    structs (``first_doc``, ``deltas``, ``tfs`` fields) -> the
    concatenated (doc_ids, tfs), element-wise identical to decoding
    each block and concatenating (tested).

    One varint pass over the joined ``deltas`` bytes and one over the
    joined ``tfs`` bytes, then a segmented cumsum: block boundaries are
    the value counts of each block's bytes (one terminator byte per
    varint), each block's leading 0 delta is its reset point, and its
    ``first_doc`` is added back per value. The cumsum may wrap on
    int64 only when the running total does; the per-block difference
    taken from it is exact modulo 2^64 and the true value fits, so the
    ids are exact either way."""
    if len(blocks) == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    dparts = [b["deltas"] for b in blocks]
    dbuf = b"".join(dparts)
    d = varint_decode(dbuf).astype(np.int64)
    tfs = varint_decode(b"".join(b["tfs"] for b in blocks)).astype(np.int64)
    # value index of each block's first delta = terminator bytes before it
    byte_starts = np.zeros(len(dparts), dtype=np.int64)
    np.cumsum([len(p) for p in dparts[:-1]], out=byte_starts[1:])
    ends = np.flatnonzero(np.frombuffer(dbuf, dtype=np.uint8) < 0x80)
    starts = np.searchsorted(ends, byte_starts)
    counts = np.diff(np.append(starts, d.size))
    firsts = np.fromiter(
        (b["first_doc"] for b in blocks), dtype=np.int64, count=len(blocks)
    )
    d[starts] = 0
    cs = np.cumsum(d)
    doc_ids = np.repeat(firsts - cs[starts], counts) + cs
    return doc_ids, tfs


def encode_positions_batch(pos_lists: List) -> List[bytes]:
    """Varint-encode many sorted position lists (one per (term, doc)
    pair): first value absolute, rest successive deltas — the positions
    analog of the postings codec, batch-vectorized the same way
    (:func:`encode_blocks_batch`): ONE concatenate → per-group delta
    with the group's first value kept absolute → one varint pass →
    slice by per-group byte offsets. Real corpora are long-tail (most
    (term, doc) pairs have tf of a few), so per-list call overhead
    would dominate a naive loop."""
    n = len(pos_lists)
    out: List[bytes] = [b""] * n
    lens = np.fromiter(
        (np.asarray(p).size for p in pos_lists), dtype=np.int64, count=n
    )
    nz = np.flatnonzero(lens > 0)
    if nz.size == 0:
        return out
    vals = np.concatenate(
        [np.asarray(pos_lists[i], dtype=np.int64) for i in nz]
    )
    glens = lens[nz]
    starts = np.zeros(nz.size, dtype=np.int64)
    np.cumsum(glens[:-1], out=starts[1:])
    deltas = np.empty(vals.size, dtype=np.int64)
    deltas[1:] = np.diff(vals)
    deltas[starts] = vals[starts]  # group head stays absolute
    du = deltas.astype(np.uint64)
    enc = varint_encode(du)
    offs = np.zeros(nz.size + 1, dtype=np.int64)
    np.cumsum(np.add.reduceat(_varint_nbytes(du), starts), out=offs[1:])
    mv = memoryview(enc)
    for k, i in enumerate(nz):
        out[i] = bytes(mv[offs[k] : offs[k + 1]])
    return out


def decode_positions(buf: bytes) -> np.ndarray:
    """Inverse of one :func:`encode_positions_batch` entry -> sorted
    int64 position array."""
    d = varint_decode(buf).astype(np.int64)
    return np.cumsum(d)


def _varint_nbytes(a: np.ndarray) -> np.ndarray:
    """Exact LEB128 byte length per uint64 value (vectorized)."""
    nbytes = np.ones(a.shape, dtype=np.int64)
    for j in range(1, 10):
        nbytes += (a >= np.uint64(1) << np.uint64(7 * j)).astype(np.int64)
    return nbytes


def encode_blocks_batch(
    doc_id_arrays: List[np.ndarray],
    tf_arrays: List[np.ndarray],
    block_size: int = DEFAULT_BLOCK_SIZE,
) -> List[List[Tuple[int, int, int, int, bytes, bytes]]]:
    """Batch form of :func:`encode_blocks` over many posting lists.

    Real code corpora are long-tail: the vast majority of terms fit in
    ONE block (n ≤ block_size), and per-list Python/numpy call overhead
    dominates a naive loop. Here every single-block list in the batch is
    encoded in ONE set of vectorized passes (concatenate → per-group
    delta with boundary reset → one varint encode → slice by per-group
    byte offsets); only multi-block lists fall back to the per-list
    path. Output is element-wise identical to encode_blocks (tested).
    """
    n = len(doc_id_arrays)
    out: List = [None] * n
    lens = np.fromiter(
        (np.asarray(a).size for a in doc_id_arrays), dtype=np.int64, count=n
    )
    small = np.flatnonzero((lens > 0) & (lens <= block_size))
    for i in np.flatnonzero(lens > block_size):
        out[i] = encode_blocks(
            np.asarray(doc_id_arrays[i], dtype=np.int64),
            np.asarray(tf_arrays[i], dtype=np.int64),
            block_size,
        )
    for i in np.flatnonzero(lens == 0):
        out[i] = []
    if small.size == 0:
        return out

    ids = np.concatenate(
        [np.asarray(doc_id_arrays[i], dtype=np.int64) for i in small]
    )
    tfs = np.concatenate(
        [np.asarray(tf_arrays[i], dtype=np.int64) for i in small]
    )
    glens = lens[small]
    starts = np.zeros(small.size, dtype=np.int64)
    np.cumsum(glens[:-1], out=starts[1:])
    ends = starts + glens - 1

    # per-group deltas: plain diff, then zero at each group start
    deltas = np.empty(ids.size, dtype=np.int64)
    deltas[1:] = np.diff(ids)
    deltas[starts] = 0
    du = deltas.astype(np.uint64)
    tu = tfs.astype(np.uint64)

    d_bytes = varint_encode(du)
    t_bytes = varint_encode(tu)
    d_off = np.zeros(small.size + 1, dtype=np.int64)
    np.cumsum(np.add.reduceat(_varint_nbytes(du), starts), out=d_off[1:])
    t_off = np.zeros(small.size + 1, dtype=np.int64)
    np.cumsum(np.add.reduceat(_varint_nbytes(tu), starts), out=t_off[1:])
    max_tfs = np.maximum.reduceat(tfs, starts)

    dmv, tmv = memoryview(d_bytes), memoryview(t_bytes)
    for k, i in enumerate(small):
        out[i] = [
            (
                int(ids[starts[k]]),
                int(ids[ends[k]]),
                int(glens[k]),
                int(max_tfs[k]),
                bytes(dmv[d_off[k] : d_off[k + 1]]),
                bytes(tmv[t_off[k] : t_off[k + 1]]),
            )
        ]
    return out
