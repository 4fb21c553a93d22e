"""Seeded inputs. The same seed gives the same corpus and the same
queries; the engine sees only these generated inputs.

``documents`` makes a table shaped like the repository's sf0.1
``documents.parquet`` (doc_id, text, lang, source, n_chars; 20 sources,
5 languages). Beside sf0.1's thirty everywhere-words it draws from a
Zipf tail, so the vocabulary has rare, mid and hot df bands.
"""

from __future__ import annotations

import os
from typing import List, Tuple

import numpy as np

HOT_WORDS = [
    "stream", "value", "spark", "data", "big", "small", "vector", "group",
    "slow", "table", "key", "column", "window", "order", "scan", "hash",
    "merge", "row", "customer", "join", "fast", "filter", "a", "the",
    "line", "part", "sort", "query", "batch", "agg",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SOURCES = 20
TAIL_WORDS = 3_000
HOT_SHARE = 0.5
# hot words are drawn geometrically, so a few are in most docs, the rest mid
HOT_DECAY = 0.3
_ONSETS = ["b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z"]
_VOWELS = ["a", "e", "i", "o", "u"]

Docs = Tuple[np.ndarray, List[str], List[str], List[str]]


def tail_vocab(rng: np.random.Generator, n: int = TAIL_WORDS) -> List[str]:
    """``n`` distinct pronounceable words of 2 to 4 syllables, so prefixes
    and substrings are shared the way a natural vocabulary shares them."""
    sylls = [o + v for o in _ONSETS for v in _VOWELS]
    words = dict.fromkeys(HOT_WORDS)
    while len(words) < n + len(HOT_WORDS):
        k = int(rng.integers(2, 5))
        words["".join(sylls[int(i)] for i in rng.integers(0, len(sylls), k))] = None
    return list(words)[len(HOT_WORDS):]


def documents(
    seed: int, n_docs: int, min_words: int, max_words: int, first_id: int = 0
) -> Tuple[Docs, List[str]]:
    """(doc_ids, texts, langs, sources) and the Zipf-ranked tail vocabulary."""
    rng = np.random.default_rng(seed)
    vocab = tail_vocab(rng)
    words = np.array(HOT_WORDS + vocab, dtype=object)
    zipf = np.arange(1, len(vocab) + 1, dtype=np.float64) ** -1.1
    cdf = np.cumsum(zipf / zipf.sum())
    lens = rng.integers(min_words, max_words + 1, n_docs)
    total = int(lens.sum())
    hot = rng.random(total) < HOT_SHARE
    ix = np.where(
        hot,
        np.minimum(rng.geometric(HOT_DECAY, total) - 1, len(HOT_WORDS) - 1),
        len(HOT_WORDS) + np.minimum(np.searchsorted(cdf, rng.random(total)), len(vocab) - 1),
    )
    drawn = words[ix]
    bounds = np.cumsum(lens)[:-1]
    texts = [" ".join(chunk) for chunk in np.split(drawn, bounds)]
    lang_ix = np.minimum(np.searchsorted(np.cumsum(LANG_P), rng.random(n_docs)), len(LANGS) - 1)
    ids = np.arange(first_id, first_id + n_docs, dtype=np.int64)
    return (
        ids,
        texts,
        [LANGS[int(i)] for i in lang_ix],
        [f"src{int(i) % SOURCES}" for i in ids],
    ), vocab


def write_documents(path: str, docs: Docs) -> int:
    """Write a documents table; returns its text bytes (UTF-8)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, texts, langs, sources = docs
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return sum(len(t.encode()) for t in texts)


def pick(rng: np.random.Generator, xs):
    return xs[int(rng.integers(0, len(xs)))]


def typo(rng: np.random.Generator, word: str) -> str:
    """``word`` with one letter substituted (a one-edit suggest query)."""
    i = int(rng.integers(0, len(word)))
    letters = [c for c in "abcdefghijklmnopqrstuvwxyz" if c != word[i]]
    return word[:i] + pick(rng, letters) + word[i + 1:]
