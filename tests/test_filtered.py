"""Metadata-filtered BM25 search (Lucene filter-query semantics).

A filter over registry columns (repo / path / lang) scopes the RESULT
SET only: idf, df, N and avgdl stay corpus-global, so a doc's score is
identical with or without the filter — the filter decides membership,
never arithmetic. Oracle: rank the FULL corpus with the pure-Python
engine, drop disallowed docs, take the head — the engine must match
that post-filtered ranking exactly (both paths: disk index and
declarative pipeline).
"""

import pytest

from spark_search import pipeline as P
from spark_search.build import build_index
from spark_search.maintain import delete_docs
from spark_search.oracle.bm25 import OracleEngine
from spark_search.query import IndexReader

REL = 1e-9


@pytest.fixture(scope="module")
def synth(spark):
    from spark_search.corpus import synthetic_corpus
    from spark_search.ids import with_doc_ids

    df = with_doc_ids(synthetic_corpus(spark, 300)).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def synth_index(spark, synth, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx") / "filtered_index")
    build_index(spark, synth, d, num_buckets=8, chunk_span=64, block_size=16)
    return IndexReader(spark, d)


def _oracle_for(df):
    rows = df.select("doc_id", "content").collect()
    return OracleEngine([(r["doc_id"], r["content"]) for r in rows])


def _post_filtered_topk(oracle, allowed, terms, mode, k):
    """Full-corpus oracle ranking -> keep allowed docs -> head(k)."""
    full = oracle.search(terms, mode, k=10**9)
    kept = [(d, s) for d, s in full if d in allowed]
    return kept[:k]


def _allowed_ids(corpus, predicate):
    from pyspark.sql import functions as F

    return {
        r["doc_id"]
        for r in corpus.where(F.expr(predicate)).select("doc_id").collect()
    }


def _assert_matches(res_df, expected):
    got = [(r["doc_id"], r["score"]) for r in res_df.orderBy("rank").collect()]
    assert len(got) == len(expected)
    for (gd, gs), (od, os_) in zip(got, expected):
        assert gd == od
        assert gs == pytest.approx(os_, rel=REL)


@pytest.mark.parametrize(
    "terms,mode,predicate",
    [
        (["import"], P.EXACT_MATCH, "lang = 'java'"),
        (["import", "return"], P.WITH_SUGGESTIONS, "lang = 'python'"),
        (["import", "return"], P.AND_MATCH, "lang = 'kotlin'"),
        (["build"], P.START_WITH, "repo = 'org1/repo8'"),
        (["import"], P.EXACT_MATCH, "lang = 'java' AND repo LIKE 'org2/%'"),
    ],
)
def test_filtered_indexed_matches_postfiltered_oracle(
    spark, synth, synth_index, terms, mode, predicate
):
    oracle = _oracle_for(synth)
    allowed = _allowed_ids(synth, predicate)
    assert allowed, "fixture filter must be non-empty to be meaningful"
    expected = _post_filtered_topk(oracle, allowed, terms, mode, k=10)
    _assert_matches(
        synth_index.search(terms, mode, k=10, doc_filter=predicate), expected
    )


@pytest.mark.parametrize(
    "terms,mode,predicate",
    [
        (["import"], P.EXACT_MATCH, "lang = 'java'"),
        (["import", "return"], P.AND_MATCH, "lang = 'kotlin'"),
    ],
)
def test_filtered_declarative_matches_postfiltered_oracle(
    spark, synth, terms, mode, predicate
):
    oracle = _oracle_for(synth)
    allowed = _allowed_ids(synth, predicate)
    expected = _post_filtered_topk(oracle, allowed, terms, mode, k=10)
    _assert_matches(
        P.bm25_topk(synth, terms, mode, k=10, doc_filter=predicate), expected
    )


def test_filter_never_changes_scores(spark, synth, synth_index):
    """Global-stats semantics: a doc's filtered score equals its
    unfiltered score exactly (membership changes, arithmetic doesn't)."""
    unfiltered = {
        r["doc_id"]: r["score"]
        for r in synth_index.search(["import"], P.EXACT_MATCH, k=300).collect()
    }
    filtered = synth_index.search(
        ["import"], P.EXACT_MATCH, k=10, doc_filter="lang = 'java'"
    ).collect()
    assert filtered
    for r in filtered:
        assert r["score"] == unfiltered[r["doc_id"]]


def test_filter_matching_nothing_returns_empty(spark, synth_index):
    res = synth_index.search(
        ["import"], P.EXACT_MATCH, k=10, doc_filter="lang = 'cobol'"
    )
    assert res.count() == 0
    assert [f.name for f in res.schema.fields] == ["doc_id", "score", "rank"]


def test_filtered_search_respects_tombstones(spark, synth, tmp_path):
    """delete_docs -> the deleted doc leaves the FILTERED top-k too
    (allow-list is computed from the live registry)."""
    base = str(tmp_path / "fbase")
    build_index(spark, synth, base, num_buckets=8, chunk_span=64, block_size=16)
    rd0 = IndexReader(spark, base)
    top = rd0.search(
        ["import"], P.EXACT_MATCH, k=5, doc_filter="lang = 'java'"
    ).collect()
    assert top
    victim = top[0]["doc_id"]
    gen2 = str(tmp_path / "fgen2")
    delete_docs(spark, base, gen2, [victim])
    after = IndexReader(spark, gen2).search(
        ["import"], P.EXACT_MATCH, k=5, doc_filter="lang = 'java'"
    ).collect()
    assert victim not in {r["doc_id"] for r in after}
    # survivors keep their original scores: stats were corrected at
    # delete time only for N/avgdl-dependent paths; the filter itself
    # must not perturb surviving rank order
    before_rest = [r["doc_id"] for r in top[1:]]
    assert [r["doc_id"] for r in after[: len(before_rest)]] == before_rest


# ------------------------------------------- phrase + suggest filters

PHRASE = ["import", "return"]
PHRASE_PRED = "lang IN ('java', 'python')"


@pytest.fixture(scope="module")
def synth_pos_index(spark, synth, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idxp") / "filtered_pos_index")
    build_index(
        spark, synth, d, num_buckets=8, chunk_span=64, block_size=16,
        positions=True,
    )
    return IndexReader(spark, d)


def _post_filter_rows(rows, allowed, k):
    kept = [(r["doc_id"], r["score"]) for r in rows if r["doc_id"] in allowed]
    return kept[:k]


def test_filtered_phrase_rescan_matches_postfiltered(spark, synth, synth_index):
    """Positionless phrase + doc_filter == post-filtered unfiltered
    ranking, scores bit-identical (global pseudo-term df)."""
    allowed = _allowed_ids(synth, PHRASE_PRED)
    full = (
        synth_index.search_phrase(PHRASE, synth, k=300)
        .orderBy("rank").collect()
    )
    assert full, "phrase fixture must match in the unfiltered corpus"
    expected = _post_filter_rows(full, allowed, 10)
    assert expected, "filtered phrase fixture must be non-empty"
    got = (
        synth_index.search_phrase(
            PHRASE, synth, k=10, doc_filter=PHRASE_PRED
        )
        .orderBy("rank").collect()
    )
    assert [(r["doc_id"], r["score"]) for r in got] == expected
    assert [r["rank"] for r in got] == list(range(1, len(got) + 1))


def test_filtered_phrase_positional_matches_postfiltered(
    spark, synth, synth_pos_index
):
    """Positional (content-free) phrase + doc_filter: same contract —
    the filter drops the local fast finishes (membership needs the
    registry) but the distributed answer must equal the post-filtered
    local one."""
    allowed = _allowed_ids(synth, PHRASE_PRED)
    full = synth_pos_index.search_phrase(PHRASE, k=300).orderBy("rank").collect()
    expected = _post_filter_rows(full, allowed, 10)
    assert expected
    got = (
        synth_pos_index.search_phrase(PHRASE, k=10, doc_filter=PHRASE_PRED)
        .orderBy("rank").collect()
    )
    assert [(r["doc_id"], r["score"]) for r in got] == expected


def test_filtered_phrase_matching_nothing_returns_empty(spark, synth, synth_index):
    res = synth_index.search_phrase(
        PHRASE, synth, k=10, doc_filter="lang = 'cobol'"
    )
    assert res.collect() == []


def test_filtered_suggest_matches_postfiltered(spark, synth, synth_index):
    """search_suggest passes doc_filter through to the expanded OR
    search — equal to post-filtering the unfiltered suggest ranking."""
    allowed = _allowed_ids(synth, "lang = 'java'")
    full = (
        synth_index.search_suggest(["improt"], max_dist=2, k=300)
        .orderBy("rank").collect()
    )
    assert full, "suggest fixture must expand to matching terms"
    expected = _post_filter_rows(full, allowed, 10)
    assert expected
    got = (
        synth_index.search_suggest(
            ["improt"], max_dist=2, k=10, doc_filter="lang = 'java'"
        )
        .orderBy("rank").collect()
    )
    assert [(r["doc_id"], r["score"]) for r in got] == expected


def test_filtered_accepts_column_predicate(spark, synth, synth_index):
    from pyspark.sql import functions as F

    a = synth_index.search(
        ["import"], P.EXACT_MATCH, k=10, doc_filter=F.col("lang") == "java"
    ).collect()
    b = synth_index.search(
        ["import"], P.EXACT_MATCH, k=10, doc_filter="lang = 'java'"
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b
    ]


def test_prf_feedback_is_unfiltered_and_filter_scopes_final_search(
    spark, synth, synth_index, monkeypatch
):
    """``search_prf`` takes its feedback docs and expansion weights from
    the unfiltered corpus; ``doc_filter`` scopes only the final search.
    The filtered result therefore equals ``search(q ∪ unfiltered
    expansion, doc_filter=…)``."""
    q, flt = ["tokenizer", "postings"], "lang = 'java'"
    allowed = _allowed_ids(synth, flt)
    fb = synth_index.search(q, P.WITH_SUGGESTIONS, k=4).collect()
    # some feedback docs fall outside the filter, so a filter-scoped
    # feedback set would differ from the unfiltered one
    assert any(r["doc_id"] not in allowed for r in fb)

    search = IndexReader.search
    finals = []

    def spy(self, terms, mode=P.EXACT_MATCH, k=10, **kw):
        finals.append(list(terms))
        return search(self, terms, mode, k, **kw)

    monkeypatch.setattr(IndexReader, "search", spy)
    synth_index.search_prf(q, k=10, fb_docs=4, fb_terms=4).collect()
    expanded = finals[-1]
    assert expanded[:2] == q and len(expanded) > 2
    got = synth_index.search_prf(
        q, k=10, fb_docs=4, fb_terms=4, doc_filter=flt
    ).collect()
    want = search(
        synth_index, expanded, P.WITH_SUGGESTIONS, k=10, doc_filter=flt
    ).collect()
    assert got and {r["doc_id"] for r in got} <= allowed
    assert [(r["doc_id"], r["score"], r["rank"]) for r in got] == [
        (r["doc_id"], r["score"], r["rank"]) for r in want
    ]
