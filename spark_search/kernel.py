"""The BM25 chunk kernel: numpy only, shared by every index scoring path.

A chunk is ``chunk_span`` consecutive doc ids starting at ``base``; its
doc lengths ``dls`` index by position (doc_id - base). A kernel row is
one (term, chunk) postings row as ``(term, idf, blocks)``.

Rows always accumulate in sorted-term order, one batched
``decode_blocks`` and one scatter-add per row. Float addition is not
associative and a shuffle does not order rows within a group, so this
fixed order is what makes the driver-local, distributed and batched
paths score bit-identically and every search deterministic.
"""

from __future__ import annotations

from typing import Iterable, Iterator, Optional, Tuple

import numpy as np

from .codec import decode_blocks
from .pipeline import B, K1


def _score_np(tf: np.ndarray, dl: np.ndarray, idf: float, avgdl: float) -> np.ndarray:
    # avgdl == 0 only when every live doc is empty/deleted; any match then
    # has tf == 0 so the score is 0 regardless — substitute 1.0 rather
    # than emit a numpy divide warning on the degenerate index.
    denom = tf + K1 * (1.0 - B + B * dl / (avgdl if avgdl > 0 else 1.0))
    return idf * tf * (K1 + 1.0) / denom


def contributions(
    rows: Iterable[tuple], dls: np.ndarray, base: int, avgdl: float
) -> Iterator[Tuple[str, np.ndarray, np.ndarray]]:
    """(term, positions, contributions) per row, in sorted-term order."""
    for term, idf, blocks in sorted(rows, key=lambda r: r[0]):
        doc_ids, tfs = decode_blocks(blocks)
        pos = doc_ids - base
        yield term, pos, _score_np(
            tfs.astype(np.float64), dls[pos], float(idf), avgdl
        )


def add(
    scores: np.ndarray, counts: np.ndarray,
    parts: Iterable[Tuple[str, np.ndarray, np.ndarray]],
) -> None:
    """Scatter-add each part into the chunk's span buffers. A term's
    positions are unique, so each posting adds exactly once."""
    for _, pos, contrib in parts:
        scores[pos] += contrib
        counts[pos] += 1


def accumulate(
    rows: Iterable[tuple], dls: np.ndarray, base: int, avgdl: float
) -> Tuple[np.ndarray, np.ndarray]:
    """-> (scores, matched-term counts) over the chunk's span."""
    scores = np.zeros(dls.size, dtype=np.float64)
    counts = np.zeros(dls.size, dtype=np.int32)
    add(scores, counts, contributions(rows, dls, base, avgdl))
    return scores, counts


def finish(
    scores: np.ndarray, counts: np.ndarray, base: int,
    dels=None, allow=None, need: int = 0, keep: Optional[int] = None,
) -> Tuple[np.ndarray, np.ndarray]:
    """The chunk's hits -> (doc_ids, scores), doc_id ascending unless cut.

    ``dels``: tombstoned doc ids (absolute); ``allow``: allowed
    positions, or None for all; ``need``: AND_MATCH's term count (0:
    any matched term qualifies). ``keep`` cuts to the ``keep`` best,
    keeping every doc tied with the last one, so a global top-k over
    the chunks' survivors stays exact. ``counts`` is modified."""
    if dels is not None and len(dels):
        dp = np.asarray(dels, dtype=np.int64) - base
        counts[dp[(dp >= 0) & (dp < counts.size)]] = 0
    if allow is not None:
        ap = np.asarray(allow, dtype=np.int64)
        ok = np.zeros(counts.size, dtype=bool)
        ok[ap[ap < counts.size]] = True
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
    return (hit + base).astype(np.int64), scores[hit]


def score(
    rows: Iterable[tuple], dls: np.ndarray, base: int, avgdl: float,
    dels=None, allow=None, need: int = 0, keep: Optional[int] = None,
) -> Tuple[np.ndarray, np.ndarray]:
    """One chunk, one query: ``accumulate`` then ``finish``."""
    scores, counts = accumulate(rows, dls, base, avgdl)
    return finish(scores, counts, base, dels, allow, need, keep)


def topk(
    ids: np.ndarray, scores: np.ndarray, k: int
) -> Tuple[np.ndarray, np.ndarray]:
    """The k best by (score desc, doc_id asc), in rank order."""
    order = np.lexsort((ids, -scores))[:k]
    return ids[order], scores[order]


def rank_term(
    ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray, idf: float,
    avgdl: float, k: int,
) -> Tuple[np.ndarray, np.ndarray]:
    """One (pseudo-)term's complete match set, e.g. a phrase's, scored
    and cut to its k best."""
    return topk(ids, _score_np(tfs, dls, idf, avgdl), k)
