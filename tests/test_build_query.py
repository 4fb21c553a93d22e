"""Disk index build + query engine tests.

Mirrors the reference's integration layer (SURVEY.md §5): fixture-corpus
exact/prefix/OR queries checked for rank-identity against the
pure-Python oracle, the reference's random-word property test
(reference app/src/test/java/org/search/app/SearchEngineAppTest.java:55-102),
resume-from-checkpoint, and build determinism across input partitioning.
"""

import gc
import os

import pytest

from spark_search import pipeline as P
from spark_search.build import build_index
from spark_search.checkpoint import BuildManifest
from spark_search.codec import decode_block
from spark_search.corpus import synthetic_corpus
from spark_search.ids import with_doc_ids
from spark_search.oracle.bm25 import OracleEngine
from spark_search import query as Q
from spark_search.query import IndexReader

REL = 1e-9


def _oracle_for(df):
    rows = df.select("doc_id", "content").collect()
    return OracleEngine([(r["doc_id"], r["content"]) for r in rows])


def _assert_topk_matches(res_df, oracle_topk):
    got = [(r["doc_id"], r["score"]) for r in res_df.orderBy("rank").collect()]
    assert len(got) == len(oracle_topk)
    for (gd, gs), (od, os_) in zip(got, oracle_topk):
        assert gd == od
        assert gs == pytest.approx(os_, rel=REL)


@pytest.fixture(scope="module")
def synth(spark):
    df = with_doc_ids(synthetic_corpus(spark, 300)).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def synth_index(spark, synth, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx") / "synth_index")
    build_index(spark, synth, d, num_buckets=8, chunk_span=64, block_size=16)
    return IndexReader(spark, d)


# ----------------------------------------------------- reference query set


@pytest.mark.parametrize(
    "terms,mode",
    [
        (["mila"], P.EXACT_MATCH),
        (["relieve"], P.EXACT_MATCH),
        (["surfeits"], P.EXACT_MATCH),
        (["Example"], P.EXACT_MATCH),
        (["mila"], P.START_WITH),
        (["mama", "mila"], P.WITH_SUGGESTIONS),
        (["mama", "mila"], P.AND_MATCH),
        (["nosuchterm"], P.EXACT_MATCH),
        ([], P.EXACT_MATCH),
    ],
)
def test_fixture_queries_rank_identical(
    fixture_index, fixture_corpus, terms, mode
):
    oracle = _oracle_for(fixture_corpus)
    _assert_topk_matches(
        fixture_index.search(terms, mode, k=10), oracle.search(terms, mode, k=10)
    )


def test_fixture_match_sets(fixture_index, fixture_corpus):
    """The reference's own (unordered doc set) result notion — FIXTURES §3."""
    oracle = _oracle_for(fixture_corpus)
    path_of = {
        r["doc_id"]: r["path"] for r in fixture_corpus.select("doc_id", "path").collect()
    }
    for terms, mode, expect in [
        (["mila"], P.EXACT_MATCH, {"testFolder/one.txt", "testFolder/two.txt"}),
        (["relieve"], P.EXACT_MATCH, {"TestFileOne.txt"}),
        (["surfeits"], P.EXACT_MATCH, {"TestFileOne.txt"}),
        (["mila"], P.START_WITH, {"testFolder/one.txt", "testFolder/two.txt"}),
        (["mama", "mila"], P.WITH_SUGGESTIONS,
         {"testFolder/one.txt", "testFolder/two.txt"}),
    ]:
        got = {
            path_of[r["doc_id"]]
            for r in fixture_index.search(terms, mode, k=100).collect()
        }
        assert got == expect, (terms, mode)
        assert {path_of[d] for d in oracle.match_set(terms, mode)} == expect


# ------------------------------------------------- synthetic corpus parity


def test_synth_queries_match_oracle_and_pipeline(synth_index, synth):
    oracle = _oracle_for(synth)
    cases = [
        (["import"], P.EXACT_MATCH),          # hottest term (skew)
        (["import", "return", "def"], P.WITH_SUGGESTIONS),
        (["import", "buildIndex"], P.AND_MATCH),
        (["camel"], P.START_WITH),
        (["varint_codec", "tok42"], P.WITH_SUGGESTIONS),
    ]
    for terms, mode in cases:
        res = synth_index.search(terms, mode, k=10)
        _assert_topk_matches(res, oracle.search(terms, mode, k=10))
        # declarative pipeline agrees too
        pipe = [
            (r["doc_id"], r["score"])
            for r in P.bm25_topk(synth, terms, mode, k=10).orderBy("rank").collect()
        ]
        assert [d for d, _ in pipe] == [d for d, _ in oracle.search(terms, mode, k=10)]


def test_local_fast_path_matches_distributed(synth_index, two_seg_index):
    """The driver-side small-query fast path must be plan-invisible:
    bit-identical (doc_id, score, rank) to the distributed plan for
    every mode, including prefix expansion and AND, on a fresh and on
    a tombstoned index."""
    for reader in (synth_index, two_seg_index):
        for terms, mode in [
            (["import"], P.EXACT_MATCH),
            (["import", "return", "def"], P.WITH_SUGGESTIONS),
            (["import", "return"], P.AND_MATCH),
            (["im"], P.START_WITH),
            (["nosuchterm"], P.EXACT_MATCH),
        ]:
            for k in (10, 50):
                local = _ranked(reader.search(terms, mode, k=k).collect())
                dist = reader.search(
                    terms, mode, k=k, local_max_postings=0
                ).collect()
                assert _ranked(dist) == local, (terms, mode, k)


def test_local_path_reads_segments_with_missing_bucket_dirs(
    spark, synth, tmp_path, local_calls
):
    """A snapshot whose upserted segment holds 2 docs has bucket dirs
    only for its few terms' buckets (of 32), and tombstones in segment
    0. The driver-local read skips the missing dirs and returns the
    distributed plan's rows and exact scores, for terms in both
    segments, in one only, and in none."""
    import glob

    from spark_search.corpus import CORPUS_SCHEMA
    from spark_search.maintain import upsert_docs

    d0, d1 = str(tmp_path / "base"), str(tmp_path / "up")
    build_index(spark, synth, d0, num_buckets=32, chunk_span=64,
                block_size=16)
    (repo, path), = [
        (r["repo"], r["path"])
        for r in synth.orderBy("doc_id").limit(1).collect()
    ]
    upsert_docs(spark, d0, d1, spark.createDataFrame(
        [
            (repo, path, "v2", "python", "import zzsmall return"),
            ("r2", "small/0.py", "v2", "python", "zzsmall zzsmall def"),
        ],
        CORPUS_SCHEMA,
    ))
    r = IndexReader(spark, d1)
    assert len(r.segments) == 2 and r.n_tombstones == 1
    seg_buckets = glob.glob(os.path.join(r.segments[1], "postings", "bucket=*"))
    assert 0 < len(seg_buckets) < 32
    for terms, mode in [
        (["import"], P.EXACT_MATCH),
        (["zzsmall"], P.EXACT_MATCH),
        (["import", "zzsmall", "return", "def"], P.WITH_SUGGESTIONS),
        (["import", "zzsmall"], P.AND_MATCH),
        (["im", "zz"], P.START_WITH),
        (["nosuchterm"], P.EXACT_MATCH),
    ]:
        local_calls.clear()
        local = _ranked(r.search(terms, mode, k=20).collect())
        assert local_calls == ([] if terms == ["nosuchterm"] else [True]), terms
        dist = r.search(terms, mode, k=20, local_max_postings=0).collect()
        assert _ranked(dist) == local, (terms, mode)
        if terms != ["nosuchterm"]:
            assert local, terms


def test_local_path_job_counts(synth_index, jobs_of):
    """On a warm reader (dictionary, doclens and tombstones cached) a
    driver-local search runs no Spark job: its postings rows are read
    with pyarrow, and the result frame, the skipped metadata frame and
    every empty result are zero-job local relations."""
    terms = ["import", "return"]
    synth_index.search(terms, P.WITH_SUGGESTIONS, k=10).collect()  # warm
    assert synth_index._dict_expand(terms, P.WITH_SUGGESTIONS) is not None
    rows, n_jobs = jobs_of(
        lambda: synth_index.search(terms, P.WITH_SUGGESTIONS, k=10).collect()
    )
    assert len(rows) == 10 and n_jobs == 0
    rows, n_jobs = jobs_of(
        lambda: synth_index.search([], P.EXACT_MATCH, k=10).collect()
    )
    assert rows == [] and n_jobs == 0
    rows, n_jobs = jobs_of(
        lambda: synth_index.search(
            ["nosuchterm", "zzqq"], P.WITH_SUGGESTIONS, k=10
        ).collect()
    )
    assert rows == [] and n_jobs == 0


def test_warm_local_search_sends_no_py4j_command(
    spark, synth_index, spark_jobs_of, monkeypatch
):
    """A warm driver-local search and the collect of its result frame
    never cross into the JVM: the rows are read with pyarrow, scored on
    the driver, and the result frame answers ``collect`` from the rows
    it holds. Counted at py4j's one send point; the distributed plan
    (``local_max_postings=0``) shows the counter sees JVM calls."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting(*a, **kw):
        sent.append(a[0][:40] if a and isinstance(a[0], str) else a)
        return send(*a, **kw)

    def commands_of(fn):
        # py4j releases a proxy's JVM object when Python frees the
        # proxy; collect the garbage of earlier work first and hold the
        # collector off, so every command counted is fn's own
        gc.collect()
        gc.disable()
        sent.clear()
        monkeypatch.setattr(client, "send_command", counting)
        try:
            out = fn()
        finally:
            monkeypatch.setattr(client, "send_command", send)
            gc.enable()
        return out, len(sent)

    for terms, mode in [
        (["import"], P.EXACT_MATCH),
        (["import", "return", "def"], P.WITH_SUGGESTIONS),
        (["import", "return"], P.AND_MATCH),
        (["nosuchterm", "zzqq"], P.WITH_SUGGESTIONS),
    ]:
        warm = synth_index.search(terms, mode, k=10).collect()
        (rows, n_cmds), n_jobs = spark_jobs_of(lambda: commands_of(
            lambda: synth_index.search(terms, mode, k=10).collect()
        ))
        assert (n_cmds, n_jobs) == (0, 0), (terms, mode, sent)
        assert rows == warm and bool(rows) == (terms[0] != "nosuchterm")
    rows, n_cmds = commands_of(lambda: synth_index.search(
        ["import"], P.EXACT_MATCH, k=10, local_max_postings=0
    ).collect())
    assert n_cmds > 0 and rows == synth_index.search(
        ["import"], P.EXACT_MATCH, k=10
    ).collect()


def test_negative_k_raises_before_any_job(spark, synth, synth_index, jobs_of):
    """k < 0 raises ValueError before any Spark job, on the driver-local,
    the distributed, the batched, the phrase and the multifield path,
    even on a cold reader; k = 0 returns no rows on the first three.
    Multifield with no field readers is a ValueError too."""
    cold = IndexReader(spark, synth_index.paths.root)
    terms, OR = ["import", "return"], P.WITH_SUGGESTIONS

    def raises(run):
        with pytest.raises(ValueError, match="k must be >= 0"):
            run()

    for run in [
        lambda: cold.search(terms, OR, k=-1),
        lambda: cold.search(terms, OR, k=-1, local_max_postings=0),
        lambda: cold.search_many([terms], OR, k=-1),
        lambda: cold.search_phrase(terms, synth, k=-1),
        lambda: Q.search_multifield({"content": (cold, 1.0)}, terms, k=-1),
    ]:
        _, n_jobs = jobs_of(lambda: raises(run))
        assert n_jobs == 0
    with pytest.raises(ValueError, match="at least one field reader"):
        Q.search_multifield({}, terms)
    for gate in (Q._LOCAL_MAX_POSTINGS, 0):
        assert synth_index.search(
            terms, OR, k=0, local_max_postings=gate
        ).collect() == []
    assert synth_index.search_many([terms], OR, k=0).collect() == []


# ------------------------------------------- uncached-dictionary lookup


def _uncached_reader(spark, reader, monkeypatch, cap=8):
    """A fresh reader of ``reader``'s index with the full-dictionary
    cache gated below the vocabulary (``reader`` keeps its full
    dictionary), so term lookups are terms/ scans and exact/OR/AND
    queries may route through the df ≥ T dictionary head."""
    assert reader._ensure_dict() is not None
    monkeypatch.setattr(Q, "_DICT_CACHE_CAP", cap)
    r = IndexReader(spark, reader.paths.root)
    assert r._ensure_dict() is None
    return r


def _ranked(rows):
    return [(r["doc_id"], r["score"], r["rank"]) for r in rows]


def test_uncached_local_search_runs_one_shuffle_free_job(
    spark, synth_index, monkeypatch, job_stages_of
):
    """Without the full cached dictionary a warm driver-local search
    runs no Spark job (the dictionary head bounds Σ df, ``bucket_of``
    routes the terms and pyarrow reads their postings rows), with the
    cached-dictionary reader's exact answer."""
    terms = ["import", "return", "def"]
    want = _ranked(synth_index.search(terms, P.WITH_SUGGESTIONS, k=10).collect())
    r = _uncached_reader(spark, synth_index, monkeypatch)
    r.search(terms, P.WITH_SUGGESTIONS, k=10).collect()  # warm doclens
    rows, stages = job_stages_of(
        lambda: r.search(terms, P.WITH_SUGGESTIONS, k=10).collect()
    )
    assert _ranked(rows) == want and len(want) == 10
    assert stages == []
    for mode in (P.EXACT_MATCH, P.AND_MATCH, P.START_WITH):
        q = ["im"] if mode == P.START_WITH else terms[:2]
        got = _ranked(r.search(q, mode, k=10).collect())
        assert got == _ranked(synth_index.search(q, mode, k=10).collect()), mode


def test_uncached_prefix_past_cap_stays_distributed(
    spark, synth_index, monkeypatch, jobs_of
):
    """A prefix expansion that reaches the scan limit proves more than
    ``_META_COLLECT_CAP`` terms: its metadata stays distributed
    (``_meta_scan_df``), with the same top-k, for one query and for a
    batch. No job counts the wide expansion's terms or buckets: a warm
    search runs at most 7 jobs."""
    want = synth_index.search(["c"], P.START_WITH, k=10).collect()
    batch = {"qc": ["c"], "qs": ["s"]}
    want_many = synth_index.search_many(batch, P.START_WITH, k=10).collect()
    r = _uncached_reader(spark, synth_index, monkeypatch)
    monkeypatch.setattr(Q, "_META_COLLECT_CAP", 2)
    assert r._expand(["c"], P.START_WITH, 2) is None
    assert len(r.match_terms(["c"], P.START_WITH)) > 2
    calls = []
    meta_scan = IndexReader._meta_scan_df

    def spy(self, pred, stats):
        calls.append(1)
        return meta_scan(self, pred, stats)

    monkeypatch.setattr(IndexReader, "_meta_scan_df", spy)
    got = r.search(["c"], P.START_WITH, k=10).collect()
    assert calls
    assert [(x["doc_id"], x["rank"]) for x in got] == [
        (x["doc_id"], x["rank"]) for x in want
    ]
    for g, w in zip(got, want):
        # Spark-side idf vs driver-side idf may differ by 1 ulp
        assert g["score"] == pytest.approx(w["score"], rel=1e-12)
    _, n_jobs = jobs_of(
        lambda: r.search(["c"], P.START_WITH, k=10).collect()
    )
    assert n_jobs <= 7

    def by_query(rows):
        return sorted((x["query_id"], x["rank"], x["doc_id"]) for x in rows)

    got_many = r.search_many(batch, P.START_WITH, k=10).collect()
    assert by_query(got_many) == by_query(want_many)
    score = {(x["query_id"], x["doc_id"]): x["score"] for x in want_many}
    for g in got_many:
        assert g["score"] == pytest.approx(
            score[(g["query_id"], g["doc_id"])], rel=1e-12
        )


@pytest.fixture(scope="module")
def two_seg_index(spark, synth, tmp_path_factory):
    """synth plus an upserted segment that replaces 3 docs (tombstones
    in segment 0) and adds 3: 'import' is hot in segment 0 and rare in
    segment 1, 'zzonly' exists only in segment 1."""
    from spark_search.corpus import CORPUS_SCHEMA
    from spark_search.maintain import upsert_docs

    base = tmp_path_factory.mktemp("idx")
    d0, d1 = str(base / "two0"), str(base / "two1")
    build_index(spark, synth, d0, num_buckets=8, chunk_span=64, block_size=16)
    keys = [
        (r["repo"], r["path"])
        for r in synth.orderBy("doc_id").limit(3).collect()
    ] + [("r2", f"new/{i}.py") for i in range(3)]
    new_docs = spark.createDataFrame(
        [
            (repo, path, "v2", "python",
             "import import return camelCase zzonly" + " def" * i)
            for i, (repo, path) in enumerate(keys)
        ],
        CORPUS_SCHEMA,
    )
    upsert_docs(spark, d0, d1, new_docs)
    r = IndexReader(spark, d1)
    assert len(r.segments) == 2 and r.n_tombstones == 3
    return r


def test_tombstones_are_read_once_per_reader(spark, two_seg_index, jobs_of):
    """The tombstone and registry frames are read with their known
    schemas: on a fresh reader neither the first ``docs_df()`` nor a
    later ``deletes_df()`` or ``docs_df()`` runs a job."""
    r = IndexReader(spark, two_seg_index.paths.root)
    _, n_jobs = jobs_of(lambda: (r.docs_df(), r.deletes_df(), r.docs_df()))
    assert n_jobs == 0


def test_match_terms_sums_segments_like_grouped_scan(
    spark, two_seg_index, monkeypatch
):
    """On a 2-segment index the shuffle-free lookup's df / max_tf /
    bucket equal the grouped per-term aggregate over terms/, for the
    cached and the uncached dictionary alike."""
    from pyspark.sql import functions as F

    cached = two_seg_index
    terms = ["import", "return", "def", "camelCase", "zzonly", "nosuchterm"]
    grouped = {
        r["term"]: (int(r["df"]), int(r["max_tf"]), int(r["bucket"]))
        for r in cached.terms_df()
        .where(F.col("term").isin(terms) | F.col("term").startswith("ca"))
        .groupBy("term")
        .agg(
            F.sum("df").alias("df"),
            F.max("max_tf").alias("max_tf"),
            F.first("bucket").alias("bucket"),
        )
        .collect()
    }
    assert grouped["import"][0] > 5 and "zzonly" in grouped
    uncached = _uncached_reader(spark, cached, monkeypatch)
    for reader in (cached, uncached):
        got = {t: (df, mtf, b) for t, df, mtf, b in reader.match_terms(
            terms, P.WITH_SUGGESTIONS)}
        assert got == {t: v for t, v in grouped.items() if t in terms}
        got = {t: (df, mtf, b) for t, df, mtf, b in reader.match_terms(
            ["ca"], P.START_WITH)}
        assert got == {t: v for t, v in grouped.items() if t.startswith("ca")}
        assert got


# ------------------------------------------------ dictionary head


_HEAD_CAP = 512  # below the synth vocabulary; T = ⌈total_dl / 512⌉ ≈ 46


def test_head_search_matches_full_dictionary(
    spark, two_seg_index, monkeypatch, jobs_of
):
    """Past the cap, warm EXACT/OR/AND queries run no Spark job and
    return the full-dictionary reader's ids and bit-equal scores,
    tombstones and a segment-local term included."""
    full = two_seg_index
    r = _uncached_reader(spark, full, monkeypatch, cap=_HEAD_CAP)
    assert r._head_bound(["import"]) is not None and r._heads()
    for terms, mode in [
        (["import"], P.EXACT_MATCH),
        (["zzonly"], P.EXACT_MATCH),
        (["import", "zzonly", "return"], P.WITH_SUGGESTIONS),
        (["import", "def"], P.AND_MATCH),
        (["import", "zzonly"], P.AND_MATCH),
        (["import", "nosuchterm"], P.AND_MATCH),
        (["nosuchterm", "zzqq"], P.WITH_SUGGESTIONS),
    ]:
        want = _ranked(full.search(terms, mode, k=10).collect())
        r.search(terms, mode, k=10).collect()  # warm doclens
        rows, n_jobs = jobs_of(lambda: r.search(terms, mode, k=10).collect())
        assert _ranked(rows) == want, (terms, mode)
        assert n_jobs == 0, (terms, mode)
    assert r._ensure_dict() is None


def test_head_bound_covers_segments_without_a_head_row(
    spark, two_seg_index, monkeypatch
):
    """A term in one segment's head and not the other's is bounded by
    its head df plus T−1 for the other segment, never below its df."""
    from pyspark.sql import functions as F

    r = _uncached_reader(spark, two_seg_index, monkeypatch, cap=_HEAD_CAP)
    heads, t_min = r._heads()
    seg_df = [
        {
            x["term"]: int(x["df"])
            for x in spark.read.parquet(os.path.join(seg, "terms"))
            .where(F.col("term").isin("import", "zzonly"))
            .collect()
        }
        for seg in r.segments
    ]
    assert seg_df[0]["import"] >= t_min > seg_df[1]["import"] > 0
    assert heads[0]["import"] == seg_df[0]["import"]
    assert "import" not in heads[1]
    assert r._head_bound(["import"]) == seg_df[0]["import"] + t_min - 1
    terms = ["import", "zzonly", "return", "def", "nosuchterm"]
    true_df = {t: df for t, df, _, _ in r.match_terms(terms, P.EXACT_MATCH)}
    for t in terms:
        assert r._head_bound([t]) >= true_df.get(t, 0), t
    assert r._head_bound(terms) >= sum(true_df.values())


def test_head_past_gate_keeps_lookup_and_distributed_path(
    spark, two_seg_index, monkeypatch
):
    """A head bound past ``local_max_postings``, or a chunk-gate
    decline of the one-scan path, keeps the terms/ lookup and the
    distributed plan, with the full-dictionary reader's answer."""
    full = two_seg_index
    q = ["import", "zzonly"]
    want = _ranked(full.search(q, P.WITH_SUGGESTIONS, k=10,
                               local_max_postings=8).collect())
    want_local = _ranked(full.search(q, P.WITH_SUGGESTIONS, k=10).collect())
    r = _uncached_reader(spark, full, monkeypatch, cap=_HEAD_CAP)
    assert r._head_bound(q) > 8
    calls = []
    expand, search_local = IndexReader._expand, IndexReader._search_local

    def spy_expand(self, *a, **kw):
        calls.append("expand")
        return expand(self, *a, **kw)

    def spy_local(self, *a, **kw):
        calls.append("local")
        return search_local(self, *a, **kw)

    monkeypatch.setattr(IndexReader, "_expand", spy_expand)
    monkeypatch.setattr(IndexReader, "_search_local", spy_local)
    got = _ranked(r.search(q, P.WITH_SUGGESTIONS, k=10,
                           local_max_postings=8).collect())
    assert got == want and calls == ["expand"]
    calls.clear()
    monkeypatch.setattr(Q, "_LOCAL_MAX_CHUNKS", 0)
    got = r.search(q, P.WITH_SUGGESTIONS, k=10).collect()
    assert calls == ["local", "expand"]
    assert _ranked(got) == want_local


def test_random_word_property(synth_index, synth):
    """∀ token t of doc d: d ∈ match_set(t) — the reference's e2e
    property (SearchEngineAppTest.java:55-102), 30 sampled words."""
    import random

    from spark_search.tokenizer import tokenize

    rng = random.Random(7)
    row = synth.orderBy("doc_id").limit(50).collect()[rng.randrange(50)]
    toks = list(set(tokenize(row["content"])))
    for t in rng.sample(toks, min(30, len(toks))):
        hits = {
            r["doc_id"] for r in synth_index.search([t], P.EXACT_MATCH, k=1000).collect()
        }
        assert row["doc_id"] in hits, t


# ------------------------------------------------------- invariants, resume


def test_sha256_verify_and_positions(fixture_index, fixture_corpus):
    out = fixture_index.verify_search(fixture_corpus, ["mila"], P.EXACT_MATCH).collect()
    assert out and all(r["sha_ok"] for r in out)
    by_path = {}
    paths = {
        r["doc_id"]: r["path"]
        for r in fixture_corpus.select("doc_id", "path").collect()
    }
    for r in out:
        by_path[paths[r["doc_id"]]] = r["match_rows"]
    # "mama mila doma hi mama i am here" -> 'mila' at offset 5, row 0
    assert by_path["testFolder/one.txt"] == [
        {"row": 0, "positions": [5]}
    ] or by_path["testFolder/one.txt"][0]["positions"] == [5]


def test_resume_skips_completed_stages(spark, synth, tmp_path):
    d = str(tmp_path / "resume_index")
    m1 = build_index(spark, synth, d, num_buckets=4, chunk_span=64,
                     bucket_groups=2)
    assert os.path.exists(os.path.join(d, "manifest.json"))
    done_stages = set(m1.stages)
    assert {"docs", "postings-0/2", "postings-1/2", "terms"} <= done_stages

    # simulate an interruption after the postings stages: final manifest
    # gone, 'terms' stage incomplete (terms/ is overwrite-mode so replay
    # is idempotent)
    stages = dict(m1.stages)
    stages.pop("terms")
    partial = BuildManifest(d, m1.config, m1.stats, stages)
    partial.save_partial()
    os.remove(os.path.join(d, "manifest.json"))

    before = {s: r["finished_at"] for s, r in stages.items()}
    m2 = build_index(spark, synth, d, num_buckets=4, chunk_span=64,
                     bucket_groups=2, resume=True)
    # completed stages were skipped (records untouched), terms re-ran
    for s, t in before.items():
        assert m2.stages[s]["finished_at"] == t, s
    assert m2.stages["terms"]["finished_at"] > before["postings-1/2"]

    r = IndexReader(spark, d)
    assert r.search(["import"], P.EXACT_MATCH, k=5).count() == 5


def test_build_deterministic_across_input_partitioning(
    spark, synth, synth_index, tmp_path
):
    """Index logical content must not depend on input partitioning
    (the local[8]-vs-local[32] determinism requirement, BASELINE.md §3.6)."""
    d2 = str(tmp_path / "repart_index")
    build_index(spark, synth.repartition(13), d2, num_buckets=8,
                chunk_span=64, block_size=16)
    r2 = IndexReader(spark, d2)

    def logical(reader):
        out = set()
        for row in reader.postings_df().collect():
            for blk in row["blocks"]:
                ids, tfs = decode_block(
                    blk["first_doc"], bytes(blk["deltas"]), bytes(blk["tfs"])
                )
                for i, t in zip(ids.tolist(), tfs.tolist()):
                    out.add((row["term"], i, t))
        return out

    assert logical(synth_index) == logical(r2)
    t1 = {
        (r["term"], r["df"], r["cf"], r["max_tf"])
        for r in synth_index.terms_df().collect()
    }
    t2 = {(r["term"], r["df"], r["cf"], r["max_tf"]) for r in r2.terms_df().collect()}
    assert t1 == t2


def test_combined_exchange_builds_identical_index(
    spark, synth, synth_index, tmp_path
):
    """postings_exchange='combined' (map-side-combined two-exchange
    plan for network-bound clusters) must produce the same logical
    index as the default fused single exchange — per-block bytes
    included (sorted collect_list makes encoding order-independent of
    the shuffle strategy)."""
    d2 = str(tmp_path / "combined_index")
    build_index(spark, synth, d2, num_buckets=8, chunk_span=64,
                block_size=16, postings_exchange="combined")
    r2 = IndexReader(spark, d2)

    def blocks(reader):
        return {
            (
                row["term"], row["chunk"], row["n_docs"], row["sum_tf"],
                row["max_tf"],
                tuple(
                    (b["first_doc"], b["last_doc"], b["n"], b["max_tf"],
                     bytes(b["deltas"]), bytes(b["tfs"]))
                    for b in row["blocks"]
                ),
            )
            for row in reader.postings_df().collect()
        }

    assert blocks(synth_index) == blocks(r2)


def test_doc_terms_reverse_lookup(fixture_index, fixture_corpus, spark):
    """O3 analog: terms-of-doc must equal the doc's own tokenization."""
    from spark_search.query import IndexReader
    from spark_search.tokenizer import tokenize
    from collections import Counter

    reader = fixture_index
    row = fixture_corpus.where("doc_id = 3").collect()[0]  # one.txt
    want = Counter(tokenize(row["content"]))
    got = {r["term"]: r["tf"] for r in reader.doc_terms(3).collect()}
    assert got == dict(want)
    assert reader.doc_terms(99999).count() == 0


def test_warm_doc_terms_checks_tombstones_without_a_job(
    spark, two_seg_index, jobs_of
):
    """On a tombstoned index a warm ``doc_terms`` reads the cached
    tombstone arrays: a live doc costs only its postings job, a deleted
    one no job and no rows."""
    r = IndexReader(spark, two_seg_index.paths.root)
    dels = r._dels_cached()  # loads the tombstone arrays
    deleted = {int(d) for ids in dels.values() for d in ids}
    live = min(set(range(1, 64)) - deleted)  # doc ids start at 1
    rows, n_jobs = jobs_of(lambda: r.doc_terms(live).collect())
    assert rows and n_jobs == 1
    rows, n_jobs = jobs_of(lambda: r.doc_terms(min(deleted)).collect())
    assert rows == [] and n_jobs == 0


def test_custom_tokenizer_registry(spark, tmp_path):
    """T3 analog: a registered tokenizer works through the whole stack
    (pure python, Spark column, index build + query)."""
    from spark_search import pipeline as P
    from spark_search.build import build_index
    from spark_search.corpus import CORPUS_SCHEMA
    from spark_search.ids import with_doc_ids
    from spark_search.query import IndexReader
    from spark_search.tokenizer import register_tokenizer, tokenize, \
        tokenize_with_positions

    register_tokenizer("comma", ",+")
    assert tokenize("a,b,,c d", "comma") == ["a", "b", "c d"]
    assert tokenize_with_positions("a,,bc", "comma") == [("a", 0), ("bc", 3)]

    corpus = with_doc_ids(
        spark.createDataFrame(
            [("r", "p1", "v", "txt", "x,y,z"), ("r", "p2", "v", "txt", "y,q")],
            CORPUS_SCHEMA,
        )
    )
    idx = str(tmp_path / "idx")
    build_index(spark, corpus, idx, num_buckets=2, chunk_span=8,
                tokenizer="comma")
    r = IndexReader(spark, idx)
    assert r.tokenizer == "comma"
    got = sorted(
        x["doc_id"] for x in r.search(["y"], P.EXACT_MATCH, 10).collect()
    )
    assert got == [1, 2]
    assert [x["doc_id"] for x in r.search(["z"], P.EXACT_MATCH, 10).collect()] \
        == [1]


def test_postings_layout_is_the_same_at_any_parallelism(
    spark, synth, synth_index, tmp_path
):
    """Builds planned for 2 and for 8 cores write exactly one postings
    file per bucket, byte-identical between the two, holding the
    logical index of the default build (same postings sets, same
    search results)."""
    from index_rows import bucket_files

    dirs = {par: str(tmp_path / f"par{par}") for par in (2, 8)}
    for par, d in dirs.items():
        build_index(spark, synth, d, num_buckets=8, chunk_span=64,
                    block_size=16, plan_parallelism=par)
    files = {par: bucket_files(d) for par, d in dirs.items()}
    assert files[2] and files[2].keys() == files[8].keys()
    for b, f2 in files[2].items():
        f8 = files[8][b]
        assert len(f2) == len(f8) == 1, (b, f2, f8)
        with open(f2[0], "rb") as x, open(f8[0], "rb") as y:
            assert x.read() == y.read(), b

    r2 = IndexReader(spark, dirs[8])

    def logical(reader):
        out = set()
        for row in reader.postings_df().collect():
            for blk in row["blocks"]:
                ids, tfs = decode_block(
                    blk["first_doc"], bytes(blk["deltas"]), bytes(blk["tfs"])
                )
                for i, t in zip(ids.tolist(), tfs.tolist()):
                    out.add((row["term"], i, t))
        return out

    assert logical(r2) == logical(synth_index)
    for terms, mode in [
        (["import"], P.EXACT_MATCH),
        (["import", "return", "def"], P.WITH_SUGGESTIONS),
    ]:
        a = [(r.doc_id, r.rank) for r in
             synth_index.search(terms, mode, k=10).collect()]
        b = [(r.doc_id, r.rank) for r in r2.search(terms, mode, k=10).collect()]
        assert a == b
