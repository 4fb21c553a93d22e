"""Batched query sets: bm25_topk_many / IndexReader.search_many.

The batch contract: (query_id, doc_id, score, rank) per-query top-k,
with scores BIT-IDENTICAL to running the single-query path per query —
the same idf floats through the same chunk kernel (kernel.py). The
batch exists to amortize the shared work
(one tokenize+tf pass declaratively; one bucket-pruned postings scan
on the index) across the whole query set.
"""

import pytest

from spark_search import pipeline as P
from spark_search.build import build_index
from spark_search.query import IndexReader

QS = {
    "a": ["postings", "manifest", "lineage"],
    "b": ["import"],
    "c": ["doc_id", "postings"],
    "d": ["zzz_absent_term"],
    "e": [],
}
QP = {"p1": ["post", "mani"], "p2": ["doc"], "p3": ["b", "bm"]}


@pytest.fixture(scope="module")
def synth(spark):
    from spark_search.corpus import synthetic_corpus
    from spark_search.ids import with_doc_ids

    df = with_doc_ids(synthetic_corpus(spark, 300)).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def synth_index(spark, synth, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idxm") / "many_index")
    build_index(spark, synth, d, num_buckets=8, chunk_span=64, block_size=16)
    return IndexReader(spark, d)


def _rows(df):
    return [
        (r["query_id"], r["doc_id"], r["score"], r["rank"])
        for r in df.orderBy("query_id", "rank").collect()
    ]


def _per_query(fn, queries, **kw):
    out = []
    for qid, ts in queries.items():
        for r in fn(ts, **kw).collect():
            out.append((qid, r["doc_id"], r["score"], r["rank"]))
    out.sort(key=lambda t: (t[0], t[3]))
    return out


@pytest.mark.parametrize(
    "mode", [P.WITH_SUGGESTIONS, P.EXACT_MATCH, P.AND_MATCH]
)
def test_indexed_batch_matches_per_query(spark, synth_index, mode):
    got = _rows(synth_index.search_many(QS, mode, k=10))
    exp = _per_query(
        lambda ts, **kw: synth_index.search(ts, mode, **kw), QS, k=10
    )
    assert exp, "fixture queries must match something"
    assert got == exp  # bit-identical scores, same ranks


def test_indexed_batch_prefix_matches_per_query(spark, synth_index):
    got = _rows(synth_index.search_many(QP, P.START_WITH, k=10))
    exp = _per_query(
        lambda ts, **kw: synth_index.search(ts, P.START_WITH, **kw), QP, k=10
    )
    assert exp
    assert got == exp


def test_indexed_batch_respects_doc_filter(spark, synth, synth_index):
    pred = "lang IN ('java', 'python')"
    got = _rows(
        synth_index.search_many(QS, P.WITH_SUGGESTIONS, k=10, doc_filter=pred)
    )
    exp = _per_query(
        lambda ts, **kw: synth_index.search(ts, P.WITH_SUGGESTIONS, **kw),
        QS,
        k=10,
        doc_filter=pred,
    )
    assert exp
    assert got == exp


@pytest.mark.parametrize(
    "mode", [P.WITH_SUGGESTIONS, P.AND_MATCH, P.START_WITH]
)
def test_declarative_batch_matches_per_query(spark, synth, mode):
    queries = QP if mode == P.START_WITH else QS
    got = _rows(P.bm25_topk_many(synth, queries, mode, k=10))
    exp = _per_query(
        lambda ts, **kw: P.bm25_topk(synth, ts, mode, **kw), queries, k=10
    )
    assert exp
    # same docs and ranks; scores to 1e-9 (two different Catalyst plans
    # may sum float contributions in different orders)
    assert [(q, d, round(s, 9), r) for q, d, s, r in got] == [
        (q, d, round(s, 9), r) for q, d, s, r in exp
    ]


def test_declarative_batch_matches_indexed_batch(spark, synth, synth_index):
    a = _rows(P.bm25_topk_many(synth, QS, P.WITH_SUGGESTIONS, k=10))
    b = _rows(synth_index.search_many(QS, P.WITH_SUGGESTIONS, k=10))
    assert [(q, d, round(s, 9), r) for q, d, s, r in a] == [
        (q, d, round(s, 9), r) for q, d, s, r in b
    ]


def test_batch_empty_query_set_returns_empty(spark, synth, synth_index):
    assert synth_index.search_many({}, P.WITH_SUGGESTIONS, k=5).collect() == []
    assert P.bm25_topk_many(synth, [], P.WITH_SUGGESTIONS, k=5).collect() == []


def test_batch_absent_and_empty_queries_produce_no_rows(spark, synth_index):
    got = _rows(synth_index.search_many(QS, P.WITH_SUGGESTIONS, k=10))
    qids = {q for q, _, _, _ in got}
    assert "d" not in qids and "e" not in qids
    assert {"a", "b", "c"} <= qids


def test_batch_sequence_input_gets_stable_ids(spark, synth_index):
    got = _rows(
        synth_index.search_many(
            [["postings"], ["import"]], P.WITH_SUGGESTIONS, k=3
        )
    )
    assert {q for q, _, _, _ in got} == {"q00", "q01"}


def test_batch_duplicate_query_id_rejected():
    # plain dicts can't carry duplicate keys and the sequence path
    # generates ids, but a Mapping that yields a repeated id must fail
    # loudly rather than silently merge two queries
    class Dup(dict):
        def items(self):
            return [("x", ["a"]), ("x", ["b"])]

    with pytest.raises(ValueError):
        P.normalize_queries(Dup())


def test_indexed_batch_scans_postings_once(spark, synth_index):
    """The batch's reason to exist: ONE postings scan for the whole
    query set. Pin it in the physical plan — the postings parquet path
    appears in exactly one scan node."""
    plan = (
        synth_index.search_many(QS, P.WITH_SUGGESTIONS, k=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # count scan NODES mentioning the postings path, not substring hits
    scan_lines = [
        ln
        for ln in plan.splitlines()
        if "Scan parquet" in ln and "postings" in ln
    ]
    assert len(scan_lines) == 1, plan[:2000]


def test_batch_has_no_row_python(spark, synth, synth_index):
    """Arrow-vectorized only: no BatchEvalPython (row-at-a-time UDF)
    anywhere in either batch plan."""
    for df in (
        synth_index.search_many(QS, P.WITH_SUGGESTIONS, k=10),
        P.bm25_topk_many(synth, QS, P.WITH_SUGGESTIONS, k=10),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan


def test_batch_int_query_ids_coerced(spark, synth_index):
    """An int-keyed mapping must behave exactly like its str-keyed
    twin — AND mode's per-query term-count gate keys by the STRING id
    that rides the plan literal."""
    got = _rows(
        synth_index.search_many(
            {1: ["doc_id", "postings"]}, P.AND_MATCH, k=5
        )
    )
    exp = _rows(
        synth_index.search_many(
            {"1": ["doc_id", "postings"]}, P.AND_MATCH, k=5
        )
    )
    assert exp and got == exp


def test_batch_string_inputs_rejected(spark, synth_index):
    """A bare string where a term list belongs must raise, never run a
    per-character search."""
    with pytest.raises(TypeError):
        synth_index.search_many("postings", P.WITH_SUGGESTIONS, k=3)
    with pytest.raises(TypeError):
        synth_index.search_many(["postings", "import"], P.WITH_SUGGESTIONS)
    with pytest.raises(TypeError):
        P.normalize_queries({"q1": "postings"})


def test_batch_and_counts_empty_terms_like_single(spark, synth_index):
    """['', term] under AND_MATCH: the single path counts the empty
    term toward the required total and returns nothing; the batch must
    agree."""
    single = synth_index.search(["", "postings"], P.AND_MATCH, k=5).collect()
    assert single == []
    got = synth_index.search_many(
        {"q": ["", "postings"]}, P.AND_MATCH, k=5
    ).collect()
    assert got == []
    # and an OR query is unaffected by the empty term
    got_or = _rows(
        synth_index.search_many({"q": ["", "postings"]}, P.WITH_SUGGESTIONS, k=5)
    )
    exp_or = _per_query(
        lambda ts, **kw: synth_index.search(ts, P.WITH_SUGGESTIONS, **kw),
        {"q": ["", "postings"]},
        k=5,
    )
    assert exp_or and got_or == exp_or


def test_batch_empty_prefix_matches_single(spark, synth, synth_index):
    """Under START_WITH an empty prefix matches EVERY term in the
    single-query paths (startswith('') / the full-range bisect); the
    batch paths must expand it identically rather than dropping it
    as an unmatched exact term."""
    queries = {"q": ["", "post"]}
    single = _per_query(
        lambda ts, **kw: synth_index.search(ts, P.START_WITH, **kw),
        queries,
        k=5,
    )
    assert single, "empty prefix must match the whole vocabulary"
    got = _rows(synth_index.search_many(queries, P.START_WITH, k=5))
    assert got == single
    # declarative batch agrees with declarative single-query
    decl_single = _per_query(
        lambda ts, **kw: P.bm25_topk(synth, ts, P.START_WITH, **kw),
        queries,
        k=5,
    )
    decl_got = _rows(P.bm25_topk_many(synth, queries, P.START_WITH, k=5))
    assert decl_single and decl_got == decl_single


def test_batch_respects_tombstones(spark, synth, synth_index, tmp_path):
    """Deleted docs must vanish from batched results exactly as from
    per-query search (the shared kernel's dels zeroing)."""
    from spark_search.maintain import delete_docs

    victims = [
        r["doc_id"]
        for r in synth_index.search(
            ["postings"], P.WITH_SUGGESTIONS, k=3
        ).collect()
    ]
    d2 = str(tmp_path / "many_deleted")
    delete_docs(spark, synth_index.paths.root, d2, victims)
    rd2 = IndexReader(spark, d2)
    got = _rows(rd2.search_many(QS, P.WITH_SUGGESTIONS, k=10))
    assert got, "post-delete batch must still match other docs"
    assert not any(d in set(victims) for _, d, _, _ in got)
    exp = _per_query(
        lambda ts, **kw: rd2.search(ts, P.WITH_SUGGESTIONS, **kw), QS, k=10
    )
    assert got == exp


def test_batch_uncached_dictionary_path_matches(spark, synth, synth_index):
    """Past the vocab cache gate (_dict_expand -> None) the batch must
    still return the same bit-identical results: its raw-collect
    bootstrap computes the same driver-side idf floats search() does."""
    from spark_search.query import IndexReader

    rd = IndexReader(spark, synth_index.paths.root)
    rd._dict_state = -1  # force the no-cached-dictionary tier
    got = _rows(rd.search_many(QS, P.WITH_SUGGESTIONS, k=10))
    exp = _per_query(
        lambda ts, **kw: rd.search(ts, P.WITH_SUGGESTIONS, **kw), QS, k=10
    )
    assert exp and got == exp
    # prefix mode exercises the expanded-terms collect on the same tier
    gotp = _rows(rd.search_many(QP, P.START_WITH, k=10))
    expp = _per_query(
        lambda ts, **kw: rd.search(ts, P.START_WITH, **kw), QP, k=10
    )
    assert expp and gotp == expp


def test_declarative_batch_respects_doc_filter(spark, synth):
    pred = "lang = 'java'"
    got = _rows(
        P.bm25_topk_many(synth, QS, P.WITH_SUGGESTIONS, k=10, doc_filter=pred)
    )
    exp = _per_query(
        lambda ts, **kw: P.bm25_topk(synth, ts, P.WITH_SUGGESTIONS, **kw),
        QS,
        k=10,
        doc_filter=pred,
    )
    assert exp
    assert [(q, d, round(s, 9), r) for q, d, s, r in got] == [
        (q, d, round(s, 9), r) for q, d, s, r in exp
    ]


def test_search_many_contains_mode(spark, tmp_path):
    """Batch CONTAINS queries agree with per-query search (same
    bit-identical contract as the other modes)."""
    from spark_search import pipeline as P
    from spark_search.build import build_index
    from spark_search.corpus import synthetic_corpus
    from spark_search.ids import with_doc_ids
    from spark_search.query import IndexReader

    corpus = with_doc_ids(synthetic_corpus(spark, 50, seed=21)).cache()
    idx = str(tmp_path / "idx")
    build_index(spark, corpus, idx)
    rd = IndexReader(spark, idx)
    batch = {"qa": ["por"], "qb": ["urn"], "qc": ["zzznope"]}
    got = rd.search_many(batch, P.CONTAINS_MATCH, k=8).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    assert "qc" not in by_q  # no match, no rows
    for qid, terms in [("qa", ["por"]), ("qb", ["urn"])]:
        single = rd.search(terms, P.CONTAINS_MATCH, k=8).collect()
        assert [(r.doc_id, r.score, r["rank"]) for r in
                sorted(by_q.get(qid, []), key=lambda r: r["rank"])] == [
            (r.doc_id, r.score, r["rank"]) for r in single
        ], qid
