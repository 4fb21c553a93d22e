"""The BM25 kernel: numpy only, shared by every index scoring path.

Its input is :class:`Rows`, a query's (term, chunk) postings rows in
columnar form, decoded in one pass (``codec.decode_column`` or
``codec.decode_rows``). A chunk is ``chunk_span`` consecutive doc ids;
its doc lengths index by position in it. Every touched chunk
accumulates into one span buffer: per-posting BM25 over all postings at
once, then one weighted ``np.bincount`` over postings stably ordered by
term. ``np.bincount`` adds in input order and a (term, chunk) pair has
one row, so each doc's terms add from 0.0 in sorted-term order on every
path. Float addition is not associative and a shuffle does not order
rows within a group, so this fixed order is what makes the driver-local,
distributed and batched paths score bit-identically.
"""

from __future__ import annotations

from typing import Dict, NamedTuple, Optional, Tuple

import numpy as np

from .pipeline import B, K1


def _score_np(tf: np.ndarray, dl: np.ndarray, idf, avgdl: float) -> np.ndarray:
    # avgdl == 0 only when every live doc is empty/deleted; any match then
    # has tf == 0 so the score is 0 regardless — substitute 1.0 rather
    # than emit a numpy divide warning on the degenerate index.
    denom = tf + K1 * (1.0 - B + B * dl / (avgdl if avgdl > 0 else 1.0))
    return idf * tf * (K1 + 1.0) / denom


class Rows(NamedTuple):
    """(term, chunk) postings rows in columnar form. Per row: ``terms``
    (any keys that sort in term order), ``idf`` and ``chunk``; row r's
    postings are ``doc_ids``/``tfs`` ``[offsets[r]:offsets[r + 1]]``."""

    terms: np.ndarray
    idf: np.ndarray
    chunk: np.ndarray
    doc_ids: np.ndarray
    tfs: np.ndarray
    offsets: np.ndarray

    def take(self, sel: np.ndarray) -> "Rows":
        """The rows ``sel``, in that order, with their postings."""
        sizes = np.diff(self.offsets)[sel]
        offsets = np.append(0, np.cumsum(sizes, dtype=np.int64))
        idx = np.repeat(self.offsets[sel] - offsets[:-1], sizes) + np.arange(offsets[-1])
        return Rows(
            self.terms[sel], self.idf[sel], self.chunk[sel],
            self.doc_ids[idx], self.tfs[idx], offsets,
        )


def _accumulate(
    rows: Rows, dls_by_chunk: Dict[int, np.ndarray], chunk_span: int,
    avgdl: float, need: int = 0,
) -> Tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """-> (scores, matched-term counts, or a matched mask when ``need``
    is 0, chunks, starts) of one span buffer: touched chunk ``chunks[i]``
    sits at slots ``[starts[i], starts[i + 1])``, by position. Rows of a
    chunk without doc lengths are left out."""
    chunks = np.unique(rows.chunk)
    chunks = chunks[[c in dls_by_chunk for c in chunks.tolist()]]
    dls = [dls_by_chunk[c] for c in chunks.tolist()]
    starts = np.append(0, np.cumsum([d.size for d in dls], dtype=np.int64))
    order = np.flatnonzero(np.isin(rows.chunk, chunks))
    order = order[np.argsort(rows.terms[order], kind="stable")]
    if order.size != rows.chunk.size or (np.diff(order) != 1).any():
        rows = rows.take(order)
    sizes = np.diff(rows.offsets)
    slot = rows.doc_ids + np.repeat(
        starts[np.searchsorted(chunks, rows.chunk)] - rows.chunk * chunk_span,
        sizes,
    )
    contrib = _score_np(
        rows.tfs.astype(np.float64),
        (np.concatenate(dls) if dls else np.empty(0))[slot],
        np.repeat(rows.idf, sizes), avgdl,
    )
    n = int(starts[-1])
    if need:
        counts = np.bincount(slot, minlength=n)
    else:
        counts = np.zeros(n, dtype=bool)
        counts[slot] = True
    return np.bincount(slot, weights=contrib, minlength=n), counts, chunks, starts


def score(
    rows: Rows, dls_by_chunk: Dict[int, np.ndarray], chunk_span: int,
    avgdl: float, dels: Optional[Dict[int, np.ndarray]] = None,
    allow: Optional[Dict[int, np.ndarray]] = None, need: int = 0,
    keep: Optional[int] = None,
) -> Tuple[np.ndarray, np.ndarray]:
    """One query over every chunk its rows touch -> its hits (doc_ids,
    scores), doc_id ascending.

    ``dels``: chunk -> tombstoned doc ids (absolute; a value may be
    None); ``allow``: chunk -> allowed positions, or None for all;
    ``need``: AND_MATCH's term count (0: any matched term qualifies).
    ``keep`` cuts to the ``keep`` best, keeping every doc tied with the
    last one, so a top-k over the survivors stays exact."""
    scores, counts, chunks, starts = _accumulate(
        rows, dls_by_chunk, chunk_span, avgdl, need
    )
    bases, widths = chunks * chunk_span, np.diff(starts)
    ok = None if allow is None else np.zeros(counts.size, dtype=bool)
    for i, c in enumerate(chunks.tolist()):
        d = (dels or {}).get(c)
        if d is not None:
            dp = np.asarray(d, dtype=np.int64) - bases[i]
            counts[starts[i] + dp[(dp >= 0) & (dp < widths[i])]] = 0
        a = None if ok is None else allow.get(c)
        if a is not None:
            ap = np.asarray(a, dtype=np.int64)
            ok[starts[i] + ap[ap < widths[i]]] = True
    if ok is not None:
        counts[~ok] = 0
    hit = np.flatnonzero(counts)
    if need:
        # gated before the cut: a high-scoring partial match must never
        # evict a complete one from the survivors
        hit = hit[counts[hit] == need]
    if keep is not None and hit.size > keep:
        sc = scores[hit]
        kth = np.partition(sc, sc.size - keep)[sc.size - keep]
        hit = hit[sc >= kth]
    at = np.searchsorted(starts, hit, side="right") - 1
    return hit - starts[at] + bases[at], scores[hit]


def topk(
    ids: np.ndarray, scores: np.ndarray, k: int
) -> Tuple[np.ndarray, np.ndarray]:
    """The k best by (score desc, doc_id asc), in rank order."""
    order = np.lexsort((ids, -scores))[:k]
    return ids[order], scores[order]
