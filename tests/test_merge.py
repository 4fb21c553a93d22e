"""Cross-index segment merge (spark_search/merge.py).

The load-bearing invariant: merging shard indexes built over disjoint
doc-id sets is CONTENT-IDENTICAL to one monolithic build over the
union corpus — same postings rows including the encoded block bytes,
same terms/docs/doclens rows, same stats. Everything the query side
could ever observe is equal, so query equivalence follows for free
(still pinned directly for search + phrase)."""

import os

import pytest
from pyspark.sql import functions as F

from spark_search import pipeline as P
from spark_search.build import build_index
from spark_search.merge import merge_indexes
from spark_search.query import IndexReader

from index_rows import postings_rows, rows


def _split(corpus):
    """Interleaved split: every chunk of every term collides across
    the two shards — the hard case for the block merge."""
    a = corpus.where(F.col("doc_id") % 2 == 0)
    b = corpus.where(F.col("doc_id") % 2 == 1)
    return a, b


@pytest.fixture(scope="module")
def merged_setup(spark, fixture_corpus, tmp_path_factory):
    root = tmp_path_factory.mktemp("merge")
    mono = str(root / "mono")
    da, db, out = str(root / "a"), str(root / "b"), str(root / "merged")
    build_index(spark, fixture_corpus, mono)
    a, b = _split(fixture_corpus)
    build_index(spark, a, da)
    build_index(spark, b, db)
    merge_indexes(spark, [da, db], out)
    return mono, da, db, out


def test_merged_content_identical_to_monolithic(spark, merged_setup):
    mono, _, _, out = merged_setup
    assert postings_rows(spark, out) == postings_rows(spark, mono)
    assert rows(spark, out, "terms", ["term"]) == rows(
        spark, mono, "terms", ["term"]
    )
    assert rows(spark, out, "docs", ["doc_id"]) == rows(
        spark, mono, "docs", ["doc_id"]
    )
    assert rows(spark, out, "doclens", ["chunk"]) == rows(
        spark, mono, "doclens", ["chunk"]
    )


def test_merged_stats_and_search_equal_monolithic(spark, merged_setup):
    mono, _, _, out = merged_setup
    rm, ro = IndexReader(spark, mono), IndexReader(spark, out)
    assert ro.stats == rm.stats
    for terms, mode in [
        (["gradle"], P.EXACT_MATCH),
        (["gradle", "windows", "apple"], P.WITH_SUGGESTIONS),
        (["the", "and"], P.AND_MATCH),
        (["gra"], P.START_WITH),
    ]:
        got = ro.search(terms, mode, k=10).collect()
        want = rm.search(terms, mode, k=10).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_merge_positional_shards_phrase_content_free(
    spark, fixture_corpus, tmp_path
):
    mono, da, db = (
        str(tmp_path / "mono"), str(tmp_path / "a"), str(tmp_path / "b")
    )
    out = str(tmp_path / "merged")
    build_index(spark, fixture_corpus, mono, positions=True)
    a, b = _split(fixture_corpus)
    build_index(spark, a, da, positions=True)
    build_index(spark, b, db, positions=True)
    merge_indexes(spark, [da, db], out)
    ro = IndexReader(spark, out)
    assert ro.has_positions
    got = ro.search_phrase(["mac", "os"], k=5).collect()  # corpus=None
    want = IndexReader(spark, mono).search_phrase(["mac", "os"], k=5).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert postings_rows(spark, out) == postings_rows(spark, mono)


def test_merge_chunk_disjoint_shards(spark, fixture_corpus, tmp_path):
    """Shards whose id spaces never share a chunk (the upsert_docs
    discipline) take the pass-through path; the merged index still
    answers like one index over both corpora."""
    from spark_search.ids import with_doc_ids

    da, db, out = (
        str(tmp_path / "a"), str(tmp_path / "b"), str(tmp_path / "m")
    )
    span = 64
    base = fixture_corpus.drop("doc_id")
    n = fixture_corpus.count()
    even = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(2)) == 0
    a = with_doc_ids(base.where(even))
    b = with_doc_ids(base.where(~even), start=span * 1000)
    build_index(spark, a, da, chunk_span=span)
    build_index(spark, b, db, chunk_span=span)
    merge_indexes(spark, [da, db], out)
    r = IndexReader(spark, out)
    assert r.stats.n_docs == n
    # query the corpus's most common term (the tiny fixture vocabulary
    # is code-like; don't assume any particular English stopword)
    top = (
        spark.read.parquet(os.path.join(out, "terms"))
        .orderBy(F.col("df").desc(), "term")
        .limit(1)
        .collect()[0]
    )
    assert r.search([top["term"]], P.EXACT_MATCH, k=5).count() > 0


def test_merge_rejects_overlapping_doc_ids(spark, fixture_corpus, tmp_path):
    da, db = str(tmp_path / "a"), str(tmp_path / "b")
    build_index(spark, fixture_corpus.limit(4), da)
    build_index(spark, fixture_corpus.limit(2), db)
    with pytest.raises(ValueError, match="disjoint doc-id"):
        merge_indexes(spark, [da, db], str(tmp_path / "m"))


def test_merge_reject_preserves_existing_out_dir(
    spark, fixture_corpus, tmp_path
):
    """A rejected merge must not have destroyed whatever sat at
    out_dir: validation runs before anything touches the output path,
    so a failed merge over a previous good index leaves that index
    intact and readable."""
    da, db = str(tmp_path / "a"), str(tmp_path / "b")
    build_index(spark, fixture_corpus.limit(4), da)
    build_index(spark, fixture_corpus.limit(2), db)
    out = str(tmp_path / "m")
    build_index(spark, fixture_corpus, out)  # a previous good index
    before = IndexReader(spark, out).search(
        ["mila"], P.EXACT_MATCH, k=5
    ).collect()
    assert before
    with pytest.raises(ValueError, match="disjoint doc-id"):
        merge_indexes(spark, [da, db], out)
    assert os.path.exists(os.path.join(out, "manifest.json"))
    after = IndexReader(spark, out).search(
        ["mila"], P.EXACT_MATCH, k=5
    ).collect()
    assert after == before


def test_merge_resume_reruns_after_source_rewrite(
    spark, fixture_corpus, tmp_path
):
    """The resume fingerprint must follow source CONTENT, not just the
    directory path: rewriting a source index in place (the
    compact-then-merge flow does exactly this) invalidates completed
    stage records, so resume=True recomputes instead of committing a
    merge built partly from the old source."""
    import json
    import shutil as sh

    a, b = _split(fixture_corpus)
    da, db = str(tmp_path / "a"), str(tmp_path / "b")
    build_index(spark, a, da)
    build_index(spark, b, db)
    out = str(tmp_path / "m")
    merge_indexes(spark, [da, db], out)
    man = os.path.join(out, "manifest.json")
    with open(man) as f:
        committed = json.load(f)
    # interrupt just before the final commit...
    sh.move(man, os.path.join(out, "manifest.partial.json"))
    # ...and rewrite source A under the same path with LESS content
    sh.rmtree(da)
    build_index(spark, a.limit(1), da)
    merge_indexes(spark, [da, db], out, resume=True)
    with open(man) as f:
        recommitted = json.load(f)
    # the stale stage records were NOT trusted: the merged stats track
    # the rewritten source, not the interrupted run's
    assert recommitted["stats"] != committed["stats"]
    want_docs = 1 + b.count()
    assert recommitted["stats"]["n_docs"] == want_docs
    assert IndexReader(spark, out).stats.n_docs == want_docs


def test_merge_rejects_config_mismatch(spark, fixture_corpus, tmp_path):
    a, b = _split(fixture_corpus)
    da, db = str(tmp_path / "a"), str(tmp_path / "b")
    build_index(spark, a, da, chunk_span=1 << 14)
    build_index(spark, b, db, chunk_span=1 << 10)
    with pytest.raises(ValueError, match="configs differ"):
        merge_indexes(spark, [da, db], str(tmp_path / "m"))


def test_merge_rejects_tombstoned_source(spark, fixture_corpus, tmp_path):
    from spark_search.maintain import delete_docs

    a, b = _split(fixture_corpus)
    da, db = str(tmp_path / "a"), str(tmp_path / "b")
    build_index(spark, a, da)
    build_index(spark, b, db)
    d2 = str(tmp_path / "a_del")
    first = a.select("doc_id").limit(1).collect()[0][0]
    delete_docs(spark, da, d2, [int(first)])
    with pytest.raises(ValueError, match="compact"):
        merge_indexes(spark, [d2, db], str(tmp_path / "m"))


def test_merge_resume_skips_completed_stages(spark, merged_setup, tmp_path):
    """O8 analog for the merge: an interrupted merge re-runs only the
    unfinished stages. Simulated by deleting the committed manifest of
    a finished merge (leaving the partial record): resume=True must
    skip every stage (same fingerprint) and commit without rewriting,
    and the resumed index must equal the monolithic content."""
    import json
    import shutil as sh

    mono, da, db, _ = merged_setup
    out = str(tmp_path / "m2")
    merge_indexes(spark, [da, db], out)
    man = os.path.join(out, "manifest.json")
    with open(man) as f:
        committed = json.load(f)
    # roll back the commit but keep stage lineage (what an interrupt
    # right before the final stage's record would leave behind)
    sh.move(man, os.path.join(out, "manifest.partial.json"))
    postings_mtime = max(
        os.path.getmtime(os.path.join(r, f))
        for r, _, fs in os.walk(os.path.join(out, "postings"))
        for f in fs
    )
    merge_indexes(spark, [da, db], out, resume=True)
    with open(man) as f:
        recommitted = json.load(f)
    assert recommitted["stats"] == committed["stats"]
    # the heavy stage was skipped: no postings file was rewritten
    post_mtime = max(
        os.path.getmtime(os.path.join(r, f))
        for r, _, fs in os.walk(os.path.join(out, "postings"))
        for f in fs
    )
    assert post_mtime == postings_mtime
    assert postings_rows(spark, out) == postings_rows(spark, mono)


def test_merge_reuses_one_postings_exchange(spark, fixture_corpus, tmp_path):
    """Scale pin: the singles/multis branches must re-read ONE shuffle
    of the postings (ReusedExchange), not shuffle the bytes twice."""
    from spark_search.build import read_segments
    from spark_search.merge import _merge_postings_udf

    da, db = str(tmp_path / "a"), str(tmp_path / "b")
    a, b = _split(fixture_corpus)
    build_index(spark, a, da)
    build_index(spark, b, db)
    posts = read_segments(spark, [da, db], "postings")
    grouped = (
        posts.repartition(8, "bucket", "chunk")
        .groupBy("bucket", "term", "chunk")
        .agg(
            F.collect_list(
                F.struct("n_docs", "sum_tf", "max_tf", "blocks")
            ).alias("srcs")
        )
    )
    one = F.col("srcs")[0]
    singles = grouped.where(F.size("srcs") == 1).select(
        "bucket", "term", "chunk", one.getField("blocks").alias("blocks")
    )
    udf = _merge_postings_udf(128, False)
    multis = grouped.where(F.size("srcs") > 1).select(
        "bucket",
        "term",
        "chunk",
        udf(F.col("srcs")).getField("blocks").alias("blocks"),
    )
    u = singles.unionByName(multis)
    u.collect()  # AQE marks reuse in the FINAL plan only
    plan = u._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan
