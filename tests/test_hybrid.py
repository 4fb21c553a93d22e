"""Hybrid retrieval (BM25 recall + cosine re-rank): blend protocol,
alpha extremes, and missing/zero-norm embedding handling."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from spark_search import pipeline as P
from spark_search import similarity as SIM


ROWS = [
    (1, "r", "a", "c", "en", "apple banana apple"),
    (2, "r", "b", "c", "en", "apple banana banana"),
    (3, "r", "c", "c", "en", "apple cherry"),
    (4, "r", "d", "c", "en", "durian elderberry"),
]
SCHEMA = "doc_id long, repo string, path string, commit string, lang string, content string"

EMB = [
    (1, [1.0, 0.0]),
    (2, [0.0, 1.0]),
    (3, [0.7, 0.7]),
    # doc 4 has no embedding; vec 9 is the query
    (9, [1.0, 0.0]),
    (8, [0.0, 0.0]),  # zero norm: cosine undefined
]


@pytest.fixture(scope="module")
def corpus(spark):
    df = spark.createDataFrame(ROWS, SCHEMA).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.createDataFrame(EMB, "vec_id long, embedding array<float>").cache()
    df.count()
    return df


def _rerank(corpus, emb, alpha, terms=("apple",)):
    cand = P.bm25_topk(corpus, list(terms), P.EXACT_MATCH, k=10)
    return SIM.hybrid_rerank(cand, emb, 9, k=10, alpha=alpha).collect()


def test_alpha_zero_is_pure_cosine(corpus, emb):
    out = _rerank(corpus, emb, alpha=0.0)
    # query vec [1,0]: cos(doc1)=1.0 > cos(doc3)=~0.707 > cos(doc2)=0.0
    assert [r["doc_id"] for r in out] == [1, 3, 2]
    assert out[0]["score"] == 1.0
    assert [r["rank"] for r in out] == [1, 2, 3]


def test_alpha_one_is_bm25_order_on_embedded_candidates(corpus, emb):
    bm = [r["doc_id"] for r in
          P.bm25_topk(corpus, ["apple"], P.EXACT_MATCH, k=10).collect()
          if r["doc_id"] in {1, 2, 3}]
    out = _rerank(corpus, emb, alpha=1.0)
    assert [r["doc_id"] for r in out] == bm
    # top bm25 candidate normalizes to 1.0
    assert max(r["bm25_norm"] for r in out) == 1.0


def test_missing_embedding_candidate_drops(corpus, emb):
    out = _rerank(corpus, emb, alpha=0.5, terms=("durian",))
    # doc 4 matches the query but has no embedding row
    assert out == []


def test_zero_norm_query_yields_empty(corpus, emb):
    cand = P.bm25_topk(corpus, ["apple"], P.EXACT_MATCH, k=10)
    out = SIM.hybrid_rerank(cand, emb, 8, k=10).collect()
    assert out == []


def test_blend_is_rounded_convex_combination(corpus, emb):
    out = _rerank(corpus, emb, alpha=0.25)
    for r in out:
        # Spark (and DuckDB) round HALF_UP; Python's round() is
        # banker's — compare within a half-ulp of the 6th decimal
        raw = 0.25 * r["bm25_norm"] + 0.75 * r["cos_sim"]
        assert abs(r["score"] - raw) <= 5.0000001e-7
        assert r["score"] == round(r["score"], 6)  # already 6-dp


# ---------------------------------------------------------------- RRF


def test_rrf_ranks_and_score(corpus, emb):
    cand = P.bm25_topk(corpus, ["apple"], P.EXACT_MATCH, k=10)
    out = SIM.hybrid_rrf(cand, emb, 9, k=10, rrf_k=60).collect()
    assert [r["doc_id"] for r in out] == sorted(
        (r["doc_id"] for r in out),
        key=lambda d: next(-x["score"] for x in out if x["doc_id"] == d),
    )
    for r in out:
        expect = round(1.0 / (60 + r["bm25_rank"]) + 1.0 / (60 + r["cos_rank"]), 6)
        assert abs(r["score"] - expect) <= 1e-9
    # both rank columns are permutations of 1..n
    n = len(out)
    assert sorted(r["bm25_rank"] for r in out) == list(range(1, n + 1))
    assert sorted(r["cos_rank"] for r in out) == list(range(1, n + 1))


def test_rrf_drops_unembedded(corpus, emb):
    cand = P.bm25_topk(corpus, ["durian"], P.EXACT_MATCH, k=10)
    assert SIM.hybrid_rrf(cand, emb, 9).collect() == []


# ------------------------------------------------- normalized-frame cache


def _cos_top(spark, path):
    out = SIM.cosine_topk(spark.read.parquet(path), [9], k=3).collect()
    return [(r["vec_id"], r["score"]) for r in sorted(out, key=lambda r: r["rank"])]


def test_norm_cache_sees_overwritten_embeddings(spark, tmp_path):
    """Another writer replaces the embeddings dir's files (Spark's own
    overwrite would re-cache by path; an outside one cannot). The
    re-read is the same logical plan with new files: the input-file
    fingerprint must miss the cache, and the stale persisted frame
    must not answer for it, so the second query scores the new
    vectors."""
    import shutil

    schema = "vec_id long, embedding array<float>"
    path, staged = str(tmp_path / "emb"), str(tmp_path / "staged")
    spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (9, [1.0, 0.0])], schema
    ).write.parquet(path)
    assert _cos_top(spark, path) == [(1, 1.0), (9, 1.0), (2, 0.0)]
    assert _cos_top(spark, path) == [(1, 1.0), (9, 1.0), (2, 0.0)]  # hit
    spark.createDataFrame(
        [(1, [0.0, 1.0]), (2, [1.0, 0.0]), (9, [1.0, 0.0])], schema
    ).write.parquet(staged)
    shutil.rmtree(path)
    shutil.move(staged, path)
    assert _cos_top(spark, path) == [(2, 1.0), (9, 1.0), (1, 0.0)]
    SIM.invalidate_norm_cache()


def test_norm_cache_is_lru_and_invalidates(spark, monkeypatch):
    """A hit moves its entry to the end, so the least recently USED
    frame is evicted; invalidate_norm_cache() empties the cache."""
    monkeypatch.setattr(SIM, "_NORM_CACHE_MAX", 2)
    SIM.invalidate_norm_cache()
    a, b, c = (
        spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(1, n + 2)],
            "vec_id long, embedding array<float>",
        )
        for n in (1, 2, 3)
    )
    ea, _ = SIM._norm_cached(a)
    SIM._norm_cached(b)
    assert SIM._norm_cached(a)[0] is ea  # hit: a is now most recent
    SIM._norm_cached(c)  # evicts b, not a
    assert SIM._norm_cached(a)[0] is ea
    assert len(SIM._NORM_CACHE) == 2
    SIM.invalidate_norm_cache()
    assert len(SIM._NORM_CACHE) == 0
    assert SIM._norm_cached(a)[0] is not ea
    SIM.invalidate_norm_cache()
