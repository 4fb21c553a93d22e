"""The one BM25 chunk kernel (spark_search.kernel) and the resolved
search plan: which path each entry point takes, the θ bootstrap's bar,
and a guard that the kernel's arithmetic has no second copy.
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
        TERMS, P.WITH_SUGGESTIONS, k=1000, prune=False, local_max_postings=0
    ).collect():
        best.setdefault(r["doc_id"] // r0.chunk_span, r["doc_id"])
    dead = sorted(best.values())
    delete_docs(spark, d0, d1, dead)
    corpus.unpersist()
    return IndexReader(spark, d1), dead


def _spy_paths(monkeypatch):
    """Record "local" / "theta" each time ``_search_local`` /
    ``_bootstrap_theta`` runs."""
    calls = []
    local, boot = IndexReader._search_local, IndexReader._bootstrap_theta

    def spy_local(self, *a, **kw):
        calls.append("local")
        return local(self, *a, **kw)

    def spy_boot(self, *a, **kw):
        calls.append("theta")
        return boot(self, *a, **kw)

    monkeypatch.setattr(IndexReader, "_search_local", spy_local)
    monkeypatch.setattr(IndexReader, "_bootstrap_theta", spy_boot)
    return calls


def test_theta_is_kth_best_live_score_of_bootstrap_chunk(
    tombstoned, monkeypatch
):
    """θ equals, bit for bit, the k-th best score among the live docs
    of the chunk it bootstraps from, as the unpruned distributed plan
    scores them: the chunk's tombstoned best doc does not raise it."""
    reader, dead = tombstoned
    monkeypatch.setattr(Q, "_PRUNE_MIN_POSTINGS", 0)
    seen = {"in": False, "theta": [], "chunks": []}
    boot, doclens = IndexReader._bootstrap_theta, IndexReader._doclens_for

    def spy_boot(self, post, k):
        seen["in"] = True
        try:
            theta = boot(self, post, k)
        finally:
            seen["in"] = False
        seen["theta"].append(theta)
        return theta

    def spy_doclens(self, chunks):
        if seen["in"]:
            seen["chunks"].append(list(chunks))
        return doclens(self, chunks)

    monkeypatch.setattr(IndexReader, "_bootstrap_theta", spy_boot)
    monkeypatch.setattr(IndexReader, "_doclens_for", spy_doclens)
    pruned = reader.search(
        TERMS, P.WITH_SUGGESTIONS, k=K, local_max_postings=0
    ).collect()
    [theta] = seen["theta"]
    [[chunk]] = seen["chunks"]
    span = reader.chunk_span
    assert any(d // span == chunk for d in dead)
    full = reader.search(
        TERMS, P.WITH_SUGGESTIONS, k=1000, prune=False, local_max_postings=0
    ).collect()
    assert not {r["doc_id"] for r in full} & set(dead)
    in_chunk = sorted(
        (r["score"] for r in full if r["doc_id"] // span == chunk),
        reverse=True,
    )
    assert len(in_chunk) >= K
    assert theta > 0.0 and theta == in_chunk[K - 1]
    assert [(r["doc_id"], r["score"]) for r in pruned] == [
        (r["doc_id"], r["score"]) for r in full[:K]
    ]


def test_each_entry_point_takes_its_path(tombstoned, monkeypatch):
    """Only a plain top-k over the whole corpus goes driver-local or
    bootstraps θ; a filter, an exclusion, AND, a cursor, a group,
    must-groups or a scored multifield frame run the distributed
    kernel without θ."""
    reader, _ = tombstoned
    monkeypatch.setattr(Q, "_PRUNE_MIN_POSTINGS", 0)
    calls = _spy_paths(monkeypatch)
    q, OR = TERMS[:2], P.WITH_SUGGESTIONS

    def taken(run):
        calls.clear()
        run().collect()
        return list(calls)

    assert taken(lambda: reader.search(q, OR, k=K)) == ["local"]
    assert taken(lambda: reader.search(q, P.AND_MATCH, k=K)) == ["local"]
    assert taken(lambda: reader.search_bool([q], k=K)) == ["local"]
    assert taken(
        lambda: reader.search(q, OR, k=K, local_max_postings=0)
    ) == ["theta"]
    assert taken(
        lambda: reader.search(q, OR, k=K, prune=False, local_max_postings=0)
    ) == []
    hits = reader.search(q, OR, k=K).collect()
    last = hits[-1]
    for run in [
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
    monkeypatch.setattr(Q, "_PRUNE_MIN_POSTINGS", 1 << 40)
    assert taken(lambda: reader.search(q, OR, k=K, local_max_postings=0)) == []


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
