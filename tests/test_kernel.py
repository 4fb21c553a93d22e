"""The one BM25 chunk kernel (spark_search.kernel) and the resolved
search plan: which path each entry point takes, and a guard that the
kernel's arithmetic has no second copy.
"""

import pathlib
import re

import pytest

from spark_search import pipeline as P
from spark_search import query as Q
from spark_search.build import build_index
from spark_search.corpus import synthetic_corpus
from spark_search.ids import with_doc_ids
from spark_search.maintain import delete_docs
from spark_search.query import IndexReader

TERMS = ["import", "return", "def", "class"]
K = 10


@pytest.fixture(scope="module")
def tombstoned(spark, tmp_path_factory):
    """A 300-doc index (5 chunks of 64) whose best doc for ``TERMS`` in
    every chunk is tombstoned -> (reader, the tombstoned doc ids)."""
    corpus = with_doc_ids(synthetic_corpus(spark, 300)).cache()
    base = tmp_path_factory.mktemp("idxk")
    d0, d1 = str(base / "k0"), str(base / "k1")
    build_index(spark, corpus, d0, num_buckets=8, chunk_span=64, block_size=16)
    r0 = IndexReader(spark, d0)
    best = {}
    for r in r0.search(
        TERMS, P.WITH_SUGGESTIONS, k=1000, local_max_postings=0
    ).collect():
        best.setdefault(r["doc_id"] // r0.chunk_span, r["doc_id"])
    dead = sorted(best.values())
    delete_docs(spark, d0, d1, dead)
    corpus.unpersist()
    return IndexReader(spark, d1), dead


def _spy_local(monkeypatch):
    """Record "local" each time ``_search_local`` runs."""
    calls = []
    local = IndexReader._search_local

    def spy(self, *a, **kw):
        calls.append("local")
        return local(self, *a, **kw)

    monkeypatch.setattr(IndexReader, "_search_local", spy)
    return calls


def test_each_entry_point_takes_its_path(tombstoned, monkeypatch, jobs_of):
    """Only a plain top-k over the whole corpus goes driver-local; a
    filter, an exclusion, a cursor, a group, must-groups, a scored
    multifield frame or a zero local gate run the distributed kernel.
    ``prune`` is a no-op: both values give the same rows and jobs."""
    reader, _ = tombstoned
    calls = _spy_local(monkeypatch)
    q, OR = TERMS[:2], P.WITH_SUGGESTIONS

    def taken(run):
        calls.clear()
        run().collect()
        return list(calls)

    assert taken(lambda: reader.search(q, OR, k=K)) == ["local"]
    assert taken(lambda: reader.search(q, P.AND_MATCH, k=K)) == ["local"]
    assert taken(lambda: reader.search_bool([q], k=K)) == ["local"]
    hits = reader.search(q, OR, k=K).collect()
    last = hits[-1]
    for run in [
        lambda: reader.search(q, OR, k=K, local_max_postings=0),
        lambda: reader.search(q, OR, k=K, prune=False, local_max_postings=0),
        lambda: reader.search(q, OR, k=K, doc_filter="lang = 'python'"),
        lambda: reader.search(q, OR, k=K, exclude_terms=["def"]),
        lambda: reader.search(q, P.AND_MATCH, k=K, local_max_postings=0),
        lambda: reader.search_after(q, OR, k=K),
        lambda: reader.search_after(
            q, OR, k=K, after_score=last["score"], after_doc=last["doc_id"]
        ),
        lambda: reader.search_grouped(q, OR, k=K),
        lambda: reader.search_bool([q[:1], q[1:]], k=K),
        lambda: Q.search_multifield({"content": (reader, 1.0)}, q, k=K),
    ]:
        assert taken(run) == []
    pruned, n_pruned = jobs_of(
        lambda: reader.search(
            q, OR, k=K, prune=True, local_max_postings=0
        ).collect()
    )
    plain, n_plain = jobs_of(
        lambda: reader.search(
            q, OR, k=K, prune=False, local_max_postings=0
        ).collect()
    )
    assert len(plain) == K and pruned == plain and n_pruned == n_plain


# ------------------------------------------- one cut over all chunks


def _tie_content(doc_id: int, span: int) -> str:
    """Docs repeat four contents, so equal scores recur in every chunk;
    chunk 2 holds no "beta" and chunk 4 no "alpha"."""
    chunk = doc_id // span
    if chunk == 4:
        return "gamma gamma delta"
    text = ["alpha beta", "alpha alpha beta gamma", "alpha gamma",
            "beta beta delta"][doc_id % 4]
    return text.replace("beta", "delta") if chunk == 2 else text


@pytest.fixture(scope="module")
def tied(spark, tmp_path_factory):
    """A 47-doc index in 6 chunks of 8 whose docs tie across chunks,
    with tombstones in chunks 0 and 1 -> (reader, span)."""
    from spark_search.corpus import CORPUS_SCHEMA

    span = 8
    docs = spark.createDataFrame(
        [
            ("r", f"p/{i:03d}", "c1", "python", _tie_content(i, span))
            for i in range(1, 48)  # doc_id i: ids follow the path order
        ],
        CORPUS_SCHEMA,
    )
    base = tmp_path_factory.mktemp("idxt")
    d0, d1 = str(base / "t0"), str(base / "t1")
    build_index(spark, with_doc_ids(docs), d0, num_buckets=4,
                chunk_span=span, block_size=2)
    delete_docs(spark, d0, d1, [4, 5, 12, 13])
    return IndexReader(spark, d1), span


def test_one_cut_over_all_chunks_matches_distributed(tied, local_calls):
    """The driver-local path scores every chunk into one buffer and
    cuts it once; the distributed plan cuts each chunk to its k best.
    Both must give the same rows and exact scores when the k-th score
    ties across chunks, tombstones sit in two chunks and an AND query's
    terms miss some chunks."""
    reader, span = tied
    for terms, mode in [
        (["alpha", "beta"], P.AND_MATCH),
        (["alpha", "beta", "gamma"], P.WITH_SUGGESTIONS),
    ]:
        full = reader.search(terms, mode, k=1000).orderBy("rank").collect()
        chunks = {r["doc_id"] // span for r in full}
        if mode == P.AND_MATCH:
            assert chunks == {0, 1, 3, 5}  # misses chunks 2 and 4
        assert not {4, 5, 12, 13} & {r["doc_id"] for r in full}
        for k in (1, 10, 50):
            if k < len(full):  # the k-th score ties across two chunks
                kth = full[k - 1]["score"]
                assert len({r["doc_id"] // span for r in full
                            if r["score"] == kth}) >= 2, (terms, k)
            local_calls.clear()
            local = _ranked(reader.search(terms, mode, k=k).collect())
            assert local_calls == [True]
            dist = reader.search(
                terms, mode, k=k, local_max_postings=0
            ).collect()
            assert _ranked(dist) == local, (terms, mode, k)
            assert len(local) == min(k, len(full))


def _ranked(rows):
    return [(r["doc_id"], r["score"], r["rank"]) for r in rows]


# ------------------------------------------------------ source guard

# (pattern, the one file that may hold it, a line the pattern catches)
_BANNED = [
    (re.compile(r"\bscores\[[^\]\n]*\]\s*\+="), "kernel.py",
     "scores[pos] += contrib"),  # scatter-add
    (re.compile(r"\bnp\.partition\("), "kernel.py",
     "kth = np.partition(sc, sc.size - k)[sc.size - k]"),  # tie-kept cut
    (re.compile(r"\b_score_np\("), "kernel.py",
     "c = _score_np(tf, dl, idf, avgdl)"),  # the per-term BM25 formula
    (re.compile(r"\bnp\.bincount\([^)]*\bweights\s*="), "kernel.py",
     "s = np.bincount(\n    slot, weights=contrib)"),  # weighted scatter
    (re.compile(r"\bvarint_decode\("), "codec.py",
     "vals = varint_decode(buf)"),  # the varint decoder
]


def _kernel_offenders(path: pathlib.Path, src: str):
    out = []
    for pat, home, _ in _BANNED:
        if path.name == home:
            continue
        for m in pat.finditer(src):
            line = src.count("\n", 0, m.start()) + 1
            out.append(f"{path.name}:{line}: {m.group(0)}")
    return out


def test_chunk_kernel_lives_only_in_kernel_py():
    """Guard: BM25 scoring (the per-term formula, the scatter-add, the
    weighted bincount scatter and the tie-kept cut) exists once, in
    ``kernel.py``, and the varint decoder once, in ``codec.py``; a
    second copy could drift from it and break the bit-identical paths.
    The pure-Python oracle (``oracle/``) is the independent reference
    the kernel is tested against, so it keeps its own arithmetic."""
    for pat, home, sample in _BANNED:
        assert len(_kernel_offenders(pathlib.Path("x.py"), sample)) == 1
        assert _kernel_offenders(pathlib.Path(home), sample) == []
    assert _kernel_offenders(
        pathlib.Path("x.py"),
        "counts[pos] += 1\nh = np.bincount(\n    x // (256 // n), minlength=n)\n",
    ) == []
    pkg = pathlib.Path(__file__).resolve().parent.parent / "spark_search"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if "oracle" in path.relative_to(pkg).parts:
            continue
        offenders += _kernel_offenders(path, path.read_text())
    assert not offenders, "\n".join(offenders)
