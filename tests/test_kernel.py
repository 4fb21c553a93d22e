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


# ------------------------------------------------------ source guard

_BANNED = [
    re.compile(r"\bscores\[[^\]\n]*\]\s*\+="),  # scatter-add
    re.compile(r"\bnp\.partition\("),  # the tie-kept local cut
    re.compile(r"\b_score_np\("),  # the per-term BM25 formula
]


def _kernel_offenders(path: pathlib.Path, src: str):
    out = []
    for pat in _BANNED:
        for m in pat.finditer(src):
            line = src.count("\n", 0, m.start()) + 1
            out.append(f"{path.name}:{line}: {m.group(0)}")
    return out


def test_chunk_kernel_lives_only_in_kernel_py():
    """Guard: BM25 chunk scoring (the per-term formula, the scatter-add
    and the tie-kept cut) exists once, in ``kernel.py``; a second copy
    could drift from it and break the bit-identical paths. The
    pure-Python oracle (``oracle/``) is the independent reference the
    kernel is tested against, so it keeps its own arithmetic."""
    caught = _kernel_offenders(
        pathlib.Path("x.py"),
        "scores[pos] += _score_np(tf, dl, idf, avgdl)\n"
        "kth = np.partition(sc, sc.size - k)[sc.size - k]\n"
        "counts[pos] += 1\n",
    )
    assert sorted({c.split(":")[1] for c in caught}) == ["1", "2"]
    assert len(caught) == 3
    pkg = pathlib.Path(__file__).resolve().parent.parent / "spark_search"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path.name == "kernel.py" or "oracle" in path.relative_to(pkg).parts:
            continue
        offenders += _kernel_offenders(path, path.read_text())
    assert not offenders, "\n".join(offenders)
