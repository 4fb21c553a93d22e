"""Incremental maintenance tests — the Spark analogs of the reference's
DocumentRemoveTaskTest / DocumentUpdateTaskTest (expected index-size
deltas and match-set changes after remove/update), plus the staleness
contract: match sets exact immediately, scores exact after compact."""

import glob
import os
import pathlib
import re
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from spark_search import pipeline as P
from spark_search.build import build_index
from spark_search.corpus import CORPUS_SCHEMA, reference_fixture_corpus
from spark_search.ids import with_doc_ids
from spark_search.corpus import single_file
from spark_search.maintain import (
    compact,
    delete_docs,
    upsert_docs,
    upsert_file,
)
from spark_search.query import IndexReader

from index_rows import bucket_files, codec, postings_rows, rows


@pytest.fixture(scope="module")
def base_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("maint") / "idx0")
    corpus = with_doc_ids(reference_fixture_corpus(spark)).cache()
    build_index(spark, corpus, d, num_buckets=4, chunk_span=8)
    return d, corpus


def _ids(reader, terms, mode=P.EXACT_MATCH):
    return sorted(
        r["doc_id"] for r in reader.search(terms, mode, k=100).collect()
    )


def test_delete_removes_from_match_set(spark, base_index, tmp_path):
    d0, corpus = base_index
    r0 = IndexReader(spark, d0)
    # 'mila' matches one.txt (3) and two.txt (4) in fixture ids
    before = _ids(r0, ["mila"])
    assert len(before) == 2
    victim = before[0]

    d1 = str(tmp_path / "idx1")
    delete_docs(spark, d0, d1, [victim])
    r1 = IndexReader(spark, d1)
    assert _ids(r1, ["mila"]) == [before[1]]
    # untouched term still resolves
    assert len(_ids(r1, ["surfeits"])) == 1
    # stats corrected exactly
    assert r1.stats.n_docs == r0.stats.n_docs - 1
    # original index untouched (snapshot isolation)
    assert _ids(IndexReader(spark, d0), ["mila"]) == before
    # docs registry excludes the tombstone
    assert r1.docs_df().where(F.col("doc_id") == victim).count() == 0


def test_upsert_replaces_and_adds(spark, base_index, tmp_path):
    d0, corpus = base_index
    r0 = IndexReader(spark, d0)
    n0 = r0.stats.n_docs

    new_rows = [
        # replaces testFolder/one.txt (same repo+path, new content: no 'mila')
        ("reference", "testFolder/one.txt", "v1", "txt",
         "completely different words now"),
        # brand-new doc containing 'mila'
        ("reference", "testFolder/three.txt", "v1", "txt",
         "fresh mila content"),
    ]
    new_docs = corpus.sparkSession.createDataFrame(new_rows, CORPUS_SCHEMA)

    d1 = str(tmp_path / "idx1")
    upsert_docs(spark, d0, d1, new_docs)
    r1 = IndexReader(spark, d1)

    assert r1.stats.n_docs == n0 + 1  # one replaced, one added
    mila = _ids(r1, ["mila"])
    # old one.txt (doc 3) gone; two.txt (doc 4) stays; new doc appears
    assert 3 not in mila and 4 in mila and len(mila) == 2
    assert max(mila) > n0  # the new doc got a fresh id past the old space
    # new content is searchable
    assert len(_ids(r1, ["completely"])) == 1
    # updated doc's new terms and old doc's unique terms
    assert _ids(r1, ["doma"]) == []  # 'doma' only lived in old one.txt


def test_single_file_scan_and_upsert(spark, base_index, tmp_path):
    """S2: the named single-file APIs — corpus.single_file slices one
    row by identity key; maintain.upsert_file folds exactly that file
    into the index (reference SearchEngine.java:60-66 indexFile)."""
    d0, corpus = base_index

    row = single_file(corpus, "reference", "testFolder/one.txt").collect()
    assert len(row) == 1 and "mila" in row[0]["content"]
    # commit disambiguation + miss behavior
    assert single_file(
        corpus, "reference", "testFolder/one.txt", commit="v0"
    ).count() == 1
    assert single_file(corpus, "reference", "nope.txt").count() == 0

    # re-index one file whose content changed: 'mila' leaves one.txt
    edited = corpus.withColumn(
        "content",
        F.when(
            F.col("path") == "testFolder/one.txt",
            F.lit("mama doma hi mama i am here"),
        ).otherwise(F.col("content")),
    ).drop("doc_id")
    d1 = str(tmp_path / "idx_sf")
    upsert_file(spark, d0, d1, edited, "reference", "testFolder/one.txt")
    r1 = IndexReader(spark, d1)
    # only two.txt still matches; the other 3 docs are untouched
    assert len(_ids(r1, ["mila"])) == 1
    assert r1.stats.n_docs == IndexReader(spark, d0).stats.n_docs
    with pytest.raises(ValueError):
        upsert_file(spark, d0, str(tmp_path / "x"), edited, "reference",
                    "missing.txt")


def test_compact_restores_exact_scores(spark, base_index, tmp_path):
    d0, corpus = base_index
    before = _ids(IndexReader(spark, d0), ["mila"])
    victim = before[0]

    d1 = str(tmp_path / "i1")
    delete_docs(spark, d0, d1, [victim])
    d2 = str(tmp_path / "i2")
    compact(spark, d1, d2)
    r2 = IndexReader(spark, d2)
    assert r2.deletes_df() is None and len(r2.segments) == 1

    # ground truth: fresh build over the corpus minus the victim
    d3 = str(tmp_path / "i3")
    truth_corpus = corpus.where(F.col("doc_id") != victim)
    build_index(spark, truth_corpus, d3, num_buckets=4, chunk_span=8)
    r3 = IndexReader(spark, d3)

    for terms, mode in [
        (["mila"], P.EXACT_MATCH),
        (["mila", "ruka"], P.WITH_SUGGESTIONS),
        (["mil"], P.START_WITH),
    ]:
        got = [
            (r["doc_id"], round(r["score"], 10))
            for r in r2.search(terms, mode, k=10).collect()
        ]
        want = [
            (r["doc_id"], round(r["score"], 10))
            for r in r3.search(terms, mode, k=10).collect()
        ]
        assert got == want, (terms, mode, got, want)
    assert r2.stats.n_docs == r3.stats.n_docs
    assert abs(r2.stats.avgdl - r3.stats.avgdl) < 1e-12


def test_compact_after_upsert_matches_fresh_build(spark, base_index, tmp_path):
    d0, corpus = base_index
    new_rows = [
        ("reference", "testFolder/one.txt", "v1", "txt",
         "mama mila doma hi mama i am here extra"),
    ]
    new_docs = corpus.sparkSession.createDataFrame(new_rows, CORPUS_SCHEMA)
    d1 = str(tmp_path / "i1")
    upsert_docs(spark, d0, d1, new_docs)
    d2 = str(tmp_path / "i2")
    compact(spark, d1, d2)
    r2 = IndexReader(spark, d2)

    # match set: one.txt's replacement still matches 'mila' (new id)
    mila = _ids(r2, ["mila"])
    assert len(mila) == 2 and 3 not in mila
    # the replacement content is searchable, df/stats are exact
    assert len(_ids(r2, ["extra"])) == 1
    n_live = r2.docs_df().count()
    assert n_live == r2.stats.n_docs == 4


def test_chained_maintenance(spark, base_index, tmp_path):
    """delete -> upsert -> delete chains across manifests."""
    d0, corpus = base_index
    d1 = str(tmp_path / "i1")
    delete_docs(spark, d0, d1, [2])  # TestFileTwo.txt ('Example of text...')
    new_docs = corpus.sparkSession.createDataFrame(
        [("zzz", "new/a.txt", "v1", "txt", "mila appears here too")],
        CORPUS_SCHEMA,
    )
    d2 = str(tmp_path / "i2")
    upsert_docs(spark, d1, d2, new_docs)
    d3 = str(tmp_path / "i3")
    r2 = IndexReader(spark, d2)
    mila2 = _ids(r2, ["mila"])
    assert len(mila2) == 3
    delete_docs(spark, d2, d3, [mila2[-1]])
    r3 = IndexReader(spark, d3)
    assert _ids(r3, ["mila"]) == mila2[:-1]
    assert _ids(r3, ["Example"]) == []  # first delete still in effect
    # fixtures=4, delete 1 -> 3, upsert adds 1 -> 4, delete 1 -> 3
    assert r3.stats.n_docs == 3
    assert r3.docs_df().count() == 3


def test_delete_term_postings_matches_edited_corpus(spark, base_index, tmp_path):
    """O4 per-(term, doc) removal (the reference's removeByValue,
    tree/SearchEngineConcurrentTree.java:239-264): surgically removing
    'mila' from one doc must yield an index score-identical to a fresh
    build over a corpus in which that doc never contained the term."""
    from spark_search.maintain import delete_term_postings

    d0, corpus = base_index
    r0 = IndexReader(spark, d0)
    before = _ids(r0, ["mila"])
    assert len(before) == 2
    victim = before[0]

    d1 = str(tmp_path / "idx_tdel")
    delete_term_postings(spark, d0, d1, [("mila", victim)])
    r1 = IndexReader(spark, d1)

    # term gone from the victim only; the doc itself stays live
    assert _ids(r1, ["mila"]) == [before[1]]
    assert r1.stats.n_docs == r0.stats.n_docs
    assert r1.docs_df().where(F.col("doc_id") == victim).count() == 1
    assert "mila" not in {r["term"] for r in r1.doc_terms(victim).collect()}

    # score-identity against a fresh build over the edited corpus
    edited = corpus.withColumn(
        "content",
        F.when(
            F.col("doc_id") == victim,
            F.regexp_replace(F.col("content"), "mila", " "),
        ).otherwise(F.col("content")),
    )
    d2 = str(tmp_path / "idx_fresh")
    build_index(spark, edited, d2, num_buckets=4, chunk_span=8)
    r2 = IndexReader(spark, d2)
    for terms, mode in [
        (["mila"], P.EXACT_MATCH),
        (["surfeits"], P.EXACT_MATCH),
        (["mila", "surfeits"], P.WITH_SUGGESTIONS),
    ]:
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in r1.search(terms, mode, k=100).collect()
        ]
        want = [
            (r["doc_id"], round(r["score"], 9))
            for r in r2.search(terms, mode, k=100).collect()
        ]
        assert got == want, (terms, got, want)

    # original index untouched (copy-on-write)
    assert _ids(IndexReader(spark, d0), ["mila"]) == before


def test_delete_term_postings_drops_empty_term(spark, base_index, tmp_path):
    """Removing a term's only posting removes the dictionary entry."""
    from spark_search.maintain import delete_term_postings

    d0, _ = base_index
    r0 = IndexReader(spark, d0)
    only = _ids(r0, ["surfeits"])
    assert len(only) == 1
    d1 = str(tmp_path / "idx_tdel2")
    delete_term_postings(spark, d0, d1, [("surfeits", only[0])])
    r1 = IndexReader(spark, d1)
    assert _ids(r1, ["surfeits"]) == []
    assert r1.match_terms(["surfeits"], P.EXACT_MATCH) == []


def test_tombstone_sharding_past_threshold(spark, base_index, tmp_path, monkeypatch):
    """Past TOMBSTONE_SHARD_DOCS the tombstone write shards by doc_id
    range (no single-task funnel); the reader is unchanged and queries
    stay exact."""
    import glob

    from spark_search import maintain as maint_mod

    d0, corpus = base_index
    monkeypatch.setattr(maint_mod, "TOMBSTONE_SHARD_DOCS", 2)

    out = str(tmp_path / "sharded_del")
    m = delete_docs(spark, d0, out, [1, 2, 4])  # 3 > shard size 2
    assert m.stages["delete"]["tombstone_shards"] >= 2
    assert m.config["n_tombstones"] == 3
    files = glob.glob(os.path.join(out, "deletes", "*.parquet"))
    assert len(files) >= 2, files

    r = IndexReader(spark, out)
    # docs 1, 2, 4 tombstoned; 'mila' lived in docs 3 and 4 -> only 3
    assert _ids(r, ["mila"]) == [3]
    # chained delete accumulates the count
    out2 = str(tmp_path / "sharded_del2")
    m2 = delete_docs(spark, out, out2, [3])
    assert m2.config["n_tombstones"] == 4
    assert _ids(IndexReader(spark, out2), ["mila"]) == []


def test_reader_refuses_uncommitted_index(spark, tmp_path):
    """S5 load-failure delta (README): where the reference silently
    starts EMPTY on a snapshot-load failure
    (SearchEngineInitializer.java:116-131), this reader RAISES — an
    uncommitted dir (no manifest.json, e.g. a crashed build that never
    reached the atomic rename) must never serve as an empty index."""
    empty = str(tmp_path / "never_committed")
    os.makedirs(empty)
    with pytest.raises(FileNotFoundError):
        IndexReader(spark, empty)


def test_reader_refuses_other_format_version(spark, base_index, tmp_path):
    """A manifest written by a different on-disk layout version must be
    refused by readers AND by build resume (the v1<->v2 doc_id mapping
    difference silently mis-scores if mixed)."""
    import json
    import shutil

    from spark_search.checkpoint import FORMAT_VERSION, IndexFormatError

    d0, corpus = base_index
    old = str(tmp_path / "old_fmt")
    shutil.copytree(d0, old)
    mp = os.path.join(old, "manifest.json")
    with open(mp) as f:
        doc = json.load(f)
    doc["format_version"] = FORMAT_VERSION - 1
    with open(mp, "w") as f:
        json.dump(doc, f)

    with pytest.raises(IndexFormatError):
        IndexReader(spark, old)

    # resume over an incompatible partial must NOT skip stages: it
    # falls back to a fresh (correct) build
    os.replace(mp, os.path.join(old, "manifest.partial.json"))
    m = build_index(spark, corpus, old, num_buckets=4, chunk_span=8,
                    resume=True)
    assert m.stages["docs"]["fingerprint"].startswith("n=4")
    assert _ids(IndexReader(spark, old), ["mila"]) == [3, 4]


def test_random_maintenance_chain_equals_fresh_build(spark, tmp_path):
    """Seeded randomized interaction net: a chain of upserts (replace +
    add), deletes, and compactions over a synthetic corpus must land,
    after a final compact, on an index stat- and SCORE-identical to a
    fresh build over the equivalently-edited corpus — the generalized
    form of the hand-written chain tests above (reference analog: any
    interleaving of DocumentUpdateTask / DocumentRemoveTask leaves the
    tree equal to indexing the final filesystem state). Match sets are
    additionally checked mid-chain (exact-immediately contract), keyed
    by (repo, path) since maintained and fresh doc_ids differ."""
    import random

    rng = random.Random(20260819)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon",
             "zeta", "eta", "theta"]

    def text():
        return " ".join(
            rng.choice(vocab) for _ in range(rng.randint(3, 12))
        )

    # model: the corpus as maintenance SHOULD leave it
    model = {("r", f"f{i:02d}.txt"): ("v1", "txt", text()) for i in range(20)}

    def corpus_df():
        rows = [
            (repo, path, c, lang, t)
            for (repo, path), (c, lang, t) in sorted(model.items())
        ]
        return with_doc_ids(spark.createDataFrame(rows, CORPUS_SCHEMA))

    d = str(tmp_path / "idx0")
    build_index(spark, corpus_df(), d, num_buckets=4, chunk_span=8)

    def paths_of(reader, terms, mode=P.EXACT_MATCH):
        ids = set(_ids(reader, terms, mode))
        return sorted(
            r["path"]
            for r in reader.docs_df().select("doc_id", "path").collect()
            if r["doc_id"] in ids
        )

    def model_paths(term):
        return sorted(
            path
            for (_, path), (_, _, t) in model.items()
            if term in t.split(" ")
        )

    ops = ["upsert", "delete", "compact", "upsert", "delete", "upsert"]
    for step, op in enumerate(ops, start=1):
        nxt = str(tmp_path / f"idx{step}")
        if op == "upsert":
            keys = rng.sample(sorted(model.keys()), k=2)
            rows = []
            for key in keys:  # replace (same repo/path, new content)
                model[key] = ("v2", "txt", text())
                rows.append((*key, *model[key]))
            new_key = ("r", f"new{step:02d}.txt")
            model[new_key] = ("v1", "txt", text())
            rows.append((*new_key, *model[new_key]))
            upsert_docs(
                spark, d, nxt, spark.createDataFrame(rows, CORPUS_SCHEMA)
            )
        elif op == "delete":
            reader = IndexReader(spark, d)
            by_key = {
                (r["repo"], r["path"]): r["doc_id"]
                for r in reader.docs_df().collect()
            }
            keys = rng.sample(sorted(model.keys()), k=2)
            delete_docs(spark, d, nxt, [by_key[key] for key in keys])
            for key in keys:
                del model[key]
        else:
            compact(spark, d, nxt)
        d = nxt
        # match sets are exact immediately (scores may await compact)
        reader = IndexReader(spark, d)
        probe = rng.choice(vocab)
        assert paths_of(reader, [probe]) == model_paths(probe), (step, op, probe)

    final = str(tmp_path / "idx_final")
    compact(spark, d, final)
    maintained = IndexReader(spark, final)
    fresh_dir = str(tmp_path / "fresh")
    build_index(spark, corpus_df(), fresh_dir, num_buckets=4, chunk_span=8)
    fresh = IndexReader(spark, fresh_dir)

    assert maintained.stats.n_docs == fresh.stats.n_docs
    assert abs(maintained.stats.avgdl - fresh.stats.avgdl) < 1e-12

    def scores_by_path(reader, terms, mode):
        reg = {
            r["doc_id"]: r["path"]
            for r in reader.docs_df().select("doc_id", "path").collect()
        }
        return sorted(
            (reg[r["doc_id"]], round(float(r["score"]), 9))
            for r in reader.search(terms, mode, k=1000).collect()
        )

    probes = [
        (["alpha"], P.EXACT_MATCH),
        (["beta", "gamma"], P.WITH_SUGGESTIONS),
        (["delta", "epsilon"], P.AND_MATCH),
        (["ze"], P.START_WITH),
    ]
    for terms, mode in probes:
        assert scores_by_path(maintained, terms, mode) == scores_by_path(
            fresh, terms, mode
        ), (terms, mode)


def test_negative_idf_local_matches_distributed(spark, base_index, tmp_path):
    """df counts tombstones until compact, so a hot term's idf can go
    NEGATIVE once most docs are deleted. On such an index the
    driver-local and the distributed path must return the same rows,
    with the rare doc first."""
    import pyspark.sql.functions as F

    from spark_search.corpus import CORPUS_SCHEMA
    from spark_search.ids import with_doc_ids

    rows = [("r", f"f{i}.txt", "v", "txt",
             ("common rare" if i == 0 else "common filler"))
            for i in range(12)]
    corpus = with_doc_ids(spark.createDataFrame(rows, CORPUS_SCHEMA))
    d0 = str(tmp_path / "neg0")
    build_index(spark, corpus, d0, num_buckets=4, chunk_span=4)
    d1 = str(tmp_path / "neg1")
    # delete 8 of 12 docs by path (keep f0 = the rare doc + 3 fillers):
    # df(common)=12 vs live n_docs=4 -> idf(common) < 0
    reg = {
        r["path"]: r["doc_id"]
        for r in IndexReader(spark, d0).docs_df().collect()
    }
    rare_id = reg["f0.txt"]
    keep = {"f0.txt", "f1.txt", "f2.txt", "f3.txt"}
    delete_docs(
        spark, d0, d1, [i for p, i in reg.items() if p not in keep]
    )
    r = IndexReader(spark, d1)
    import math

    n, df = r.stats.n_docs, 12
    assert math.log(1.0 + (n - df + 0.5) / (df + 0.5)) < 0  # premise
    kw = dict(mode=P.WITH_SUGGESTIONS, k=4)
    local = [tuple(x) for x in r.search(["common", "rare"], **kw).collect()]
    full = [
        tuple(x)
        for x in r.search(
            ["common", "rare"], local_max_postings=0, **kw
        ).collect()
    ]
    assert local == full and full[0][0] == rare_id  # rare doc must win


def test_resume_discards_partial_with_different_config(spark, tmp_path):
    """Stage fingerprints are corpus-only: resuming with a DIFFERENT
    chunk_span over a partial must rebuild fresh, not skip stages built
    at the old span (mis-positioned dl arrays mis-score silently)."""
    from spark_search.corpus import CORPUS_SCHEMA
    from spark_search.ids import with_doc_ids

    rows = [("r", f"f{i}.txt", "v", "txt", f"alpha beta token{i}")
            for i in range(10)]
    corpus = with_doc_ids(spark.createDataFrame(rows, CORPUS_SCHEMA))
    d = str(tmp_path / "cfg_idx")
    build_index(spark, corpus, d, num_buckets=4, chunk_span=16)
    # simulate an interrupted build: committed manifest -> partial
    os.replace(
        os.path.join(d, "manifest.json"),
        os.path.join(d, "manifest.partial.json"),
    )
    m = build_index(
        spark, corpus, d, num_buckets=4, chunk_span=4, resume=True
    )
    assert int(m.config["chunk_span"]) == 4
    r = IndexReader(spark, d)
    assert r.chunk_span == 4
    assert len(_ids(r, ["alpha"])) == 10  # scores/doclens consistent


def test_doclens_lru_never_evicts_requested_chunk(
    spark, tmp_path, monkeypatch
):
    """The post-insert LRU trim must not evict a chunk the CURRENT
    request already had cached (at the LRU front) — the kernel would
    silently drop that chunk's docs from the top-k."""
    from spark_search import query as Q
    from spark_search.corpus import CORPUS_SCHEMA
    from spark_search.ids import with_doc_ids

    rows = [("r", f"d{i:02d}.txt", "v", "txt", f"w{i} shared")
            for i in range(8)]
    corpus = with_doc_ids(spark.createDataFrame(rows, CORPUS_SCHEMA))
    d = str(tmp_path / "lru_idx")
    build_index(spark, corpus, d, num_buckets=2, chunk_span=1)
    r = IndexReader(spark, d)
    r._doclens_for([1])
    one = (
        Q._SEGMENT_CACHE.get(("doclens", r._seg_owners[0], 1)).nbytes
        + Q._ARRAY_ENTRY_BYTES
    )
    monkeypatch.setattr(Q._SEGMENT_CACHE, "max_bytes", 4 * one)

    r._doclens_for([1, 2, 3, 4])      # warm: 1 is now the LRU-oldest
    out = r._doclens_for([1, 5, 6, 7])  # insert 3 new -> trim must
    assert set(out) == {1, 5, 6, 7}     # spare requested chunk 1


def test_maintenance_refuses_self_overwrite(spark, base_index, tmp_path):
    """out_dir aliasing the source index (or a segment root) must be
    refused up front — a lazy self-overwrite aborts mid-write or
    silently loses tombstones (merge_indexes has the same guard)."""
    d0, corpus = base_index
    from spark_search.maintain import delete_term_postings

    with pytest.raises(ValueError, match="aliases source"):
        delete_docs(spark, d0, d0, [3])
    with pytest.raises(ValueError, match="aliases source"):
        compact(spark, d0, d0)
    with pytest.raises(ValueError, match="aliases source"):
        upsert_docs(
            spark, d0, d0,
            spark.createDataFrame(
                [("r", "x.txt", "v", "txt", "hi")], CORPUS_SCHEMA
            ),
        )
    with pytest.raises(ValueError, match="aliases source"):
        delete_term_postings(spark, d0, d0, [("mila", 3)])


def test_upsert_refuses_colliding_preassigned_ids(spark, base_index, tmp_path):
    """A batch still carrying doc_ids from a prior with_doc_ids run
    would reuse existing chunk ids and be filtered by its own
    tombstones — refuse ids below the fresh-chunk boundary."""
    d0, corpus = base_index
    stale = with_doc_ids(
        spark.createDataFrame(
            [("reference", "testFolder/one.txt", "v1", "txt", "new text")],
            CORPUS_SCHEMA,
        )
    )
    with pytest.raises(ValueError, match="fresh-chunk boundary"):
        upsert_docs(spark, d0, str(tmp_path / "coll"), stale)


def test_delete_term_postings_skips_tombstoned_docs(
    spark, base_index, tmp_path
):
    """A (term, doc) pair whose doc is already tombstoned must not
    subtract its tf from total_dl AGAIN (the doc's whole dl left the
    stats at delete time) — avgdl must stay exactly the fresh-build
    value of the live corpus."""
    from spark_search.maintain import delete_term_postings

    d0, corpus = base_index
    mila_ids = _ids(IndexReader(spark, d0), ["mila"])
    victim = mila_ids[0]
    d1 = str(tmp_path / "t1")
    delete_docs(spark, d0, d1, [victim])
    avgdl_before = IndexReader(spark, d1).stats.avgdl
    d2 = str(tmp_path / "t2")
    delete_term_postings(spark, d1, d2, [("mila", victim)])
    r2 = IndexReader(spark, d2)
    assert abs(r2.stats.avgdl - avgdl_before) < 1e-12
    # and the pair removal of a LIVE doc still adjusts stats exactly
    other = mila_ids[1]
    d3 = str(tmp_path / "t3")
    delete_term_postings(spark, d1, d3, [("mila", other)])
    assert IndexReader(spark, d3).stats.avgdl < avgdl_before
    assert _ids(IndexReader(spark, d3), ["mila"]) == []


# ------------------------------------------- layout pins (rows on disk)


@pytest.fixture(scope="module")
def synth_base(spark, tmp_path_factory):
    from spark_search.corpus import synthetic_corpus

    d = str(tmp_path_factory.mktemp("maint") / "synth0")
    corpus = with_doc_ids(synthetic_corpus(spark, 300)).cache()
    corpus.count()
    build_index(spark, corpus, d, num_buckets=4, chunk_span=64)
    return d, corpus


def _doclens_trimmed(spark, d):
    """chunk -> packed dl array without its trailing zero slots (a
    rewrite zeroes a removed doc's slot where a fresh build packs only
    up to the last occupied position); all-zero chunks drop out."""
    import numpy as np

    out = {}
    for chunk, dls in rows(spark, d, "doclens", ["chunk"]):
        arr = np.trim_zeros(np.frombuffer(dls, dtype=np.int32), "b")
        if arr.size:
            out[chunk] = arr.tolist()
    return out


def test_compact_layout_equals_fresh_build(spark, synth_base, tmp_path):
    """delete_docs + compact leaves the postings (block bytes included),
    terms and docs rows of a fresh build over the surviving corpus with
    the same doc ids; doclens match up to trailing zero slots."""
    d0, corpus = synth_base
    victims = [5, 17, 64, 65, 130, 200, 299]
    d1, d2 = str(tmp_path / "del"), str(tmp_path / "cmp")
    delete_docs(spark, d0, d1, victims)
    compact(spark, d1, d2)
    fresh = str(tmp_path / "fresh")
    build_index(
        spark, corpus.where(~F.col("doc_id").isin(victims)), fresh,
        num_buckets=4, chunk_span=64,
    )
    assert postings_rows(spark, d2) == postings_rows(spark, fresh)
    for sub, order in (("terms", ["term"]), ("docs", ["doc_id"])):
        assert rows(spark, d2, sub, order) == rows(spark, fresh, sub, order)
    assert _doclens_trimmed(spark, d2) == _doclens_trimmed(spark, fresh)


def test_delete_term_postings_layout_equals_fresh_build(
    spark, synth_base, tmp_path
):
    """delete_term_postings leaves the postings, terms and doclens rows
    of a fresh build over the corpus with those term occurrences cut;
    docs rows agree except content_sha256 (the fresh build hashes the
    edited text)."""
    from spark_search.maintain import delete_term_postings
    from spark_search.tokenizer import tokenize

    d0, corpus = synth_base
    texts = {
        r["doc_id"]: r["content"]
        for r in corpus.select("doc_id", "content").collect()
    }
    pairs = []
    for term, lo in (("import", 0), ("return", 64), ("def", 128)):
        doc = min(i for i, t in texts.items() if i >= lo and term in tokenize(t))
        pairs.append((term, doc))
    edited = {
        doc: " ".join(t for t in tokenize(texts[doc]) if t != term)
        for term, doc in pairs
    }
    d1 = str(tmp_path / "tdel")
    delete_term_postings(spark, d0, d1, pairs)
    edit = F.col("content")
    for doc, text in edited.items():
        edit = F.when(F.col("doc_id") == doc, F.lit(text)).otherwise(edit)
    fresh = str(tmp_path / "fresh")
    build_index(
        spark, corpus.withColumn("content", edit), fresh,
        num_buckets=4, chunk_span=64,
    )
    assert postings_rows(spark, d1) == postings_rows(spark, fresh)
    assert rows(spark, d1, "terms", ["term"]) == rows(
        spark, fresh, "terms", ["term"]
    )
    assert rows(spark, d1, "doclens", ["chunk"]) == rows(
        spark, fresh, "doclens", ["chunk"]
    )

    def docs_rows(d):
        df = spark.read.parquet(os.path.join(d, "docs")).drop("content_sha256")
        return [tuple(r) for r in df.orderBy("doc_id").collect()]

    assert docs_rows(d1) == docs_rows(fresh)


def test_every_postings_writer_leaves_one_file_per_bucket(
    spark, synth_base, tmp_path
):
    """merge_indexes, an upsert's segment, compact and
    delete_term_postings each leave exactly one postings file per
    bucket, as a fresh build does, over inputs spread across several
    chunks and files."""
    from spark_search.checkpoint import BuildManifest
    from spark_search.corpus import synthetic_corpus
    from spark_search.maintain import delete_term_postings
    from spark_search.merge import merge_indexes

    d0, corpus = synth_base
    shards = [str(tmp_path / f"shard{i}") for i in (0, 1)]
    for i, d in enumerate(shards):
        build_index(spark, corpus.where(F.col("doc_id") % 2 == i), d,
                    num_buckets=4, chunk_span=64)
    outs = {name: str(tmp_path / name) for name in (
        "merge", "upsert", "delete", "compact", "delete_terms")}
    merge_indexes(spark, shards, outs["merge"])
    # 200 new docs span 4 chunks of the new segment
    batch = synthetic_corpus(spark, 200, seed=7).withColumn(
        "path", F.concat(F.lit("new/"), F.col("path"))
    )
    upsert_docs(spark, d0, outs["upsert"], batch)
    delete_docs(spark, outs["upsert"], outs["delete"], [5, 17, 64, 130])
    compact(spark, outs["delete"], outs["compact"])
    delete_term_postings(spark, d0, outs["delete_terms"],
                         [("import", 1), ("def", 70), ("return", 140)])

    segment = BuildManifest.load(outs["upsert"]).config["segments"][-1]
    for name, d in (
        ("merge", outs["merge"]), ("upsert segment", segment),
        ("compact", outs["compact"]),
        ("delete_term_postings", outs["delete_terms"]),
    ):
        files = bucket_files(d)
        assert len(files) == 4, (name, files)
        assert all(len(f) == 1 for f in files.values()), (name, files)
        assert {codec(f[0]) for f in files.values()} == {"ZSTD"}, name


def _old_layout_copy(spark, src, dst):
    """A copy of index ``src`` at ``dst`` in the layout older builds
    wrote: postings/ uncompressed in several files per bucket, docs/
    snappy. Same rows, so every reader must see the same index."""
    import shutil

    from spark_search.build import read_segments

    shutil.copytree(src, dst)
    for sub in ("postings", "docs"):
        shutil.rmtree(os.path.join(dst, sub))
    (
        read_segments(spark, [src], "postings")
        .repartition(3, "chunk")
        .sortWithinPartitions("bucket", "term", "chunk")
        .write.option("compression", "uncompressed")
        .partitionBy("bucket")
        .parquet(os.path.join(dst, "postings"))
    )
    read_segments(spark, [src], "docs").write.option(
        "compression", "snappy"
    ).parquet(os.path.join(dst, "docs"))
    files = bucket_files(dst)
    assert max(len(f) for f in files.values()) > 1
    assert codec(files["bucket=0"][0]) == "UNCOMPRESSED"
    docs = glob.glob(os.path.join(dst, "docs", "*.parquet"))
    assert {codec(f) for f in docs} == {"SNAPPY"}


def test_old_layout_index_stays_readable(
    spark, synth_base, tmp_path, local_calls
):
    """An index in the pre-zstd layout (uncompressed postings in several
    files per bucket, snappy docs) answers every query with the rows
    and exact scores of the same index in the current layout, also as
    the base segment of an upsert snapshot; its driver-local answers
    equal its distributed ones; compact of it writes the current
    layout."""
    d0, corpus = synth_base
    old = str(tmp_path / "old")
    _old_layout_copy(spark, d0, old)
    queries = (
        (["import"], P.EXACT_MATCH),
        (["import", "return", "def"], P.WITH_SUGGESTIONS),
        (["import", "def"], P.AND_MATCH),
        (["ret"], P.START_WITH),
    )

    def answers(d, **kw):
        r = IndexReader(spark, d)
        return [
            [
                (x["doc_id"], x["score"])
                for x in r.search(terms, mode, k=20, **kw)
                .orderBy("rank").collect()
            ]
            for terms, mode in queries
        ]

    want = answers(d0)
    assert all(want)
    local_calls.clear()
    assert answers(old) == want
    assert local_calls == [True] * len(queries)
    assert answers(old, local_max_postings=0) == want

    batch = corpus.where(F.col("doc_id") <= 40).select(
        "repo", "path", "commit", "lang",
        F.concat(F.col("content"), F.lit(" import extra")).alias("content"),
    )
    ups = {d: str(tmp_path / f"{name}_ups") for name, d in (
        ("new", d0), ("old", old))}
    for d, out in ups.items():
        upsert_docs(spark, d, out, batch)
    assert answers(ups[old]) == answers(ups[d0])

    cmp = str(tmp_path / "old_compacted")
    compact(spark, old, cmp)
    files = bucket_files(cmp)
    assert all(len(f) == 1 for f in files.values()), files
    assert {codec(f[0]) for f in files.values()} == {"ZSTD"}
    docs = glob.glob(os.path.join(cmp, "docs", "*.parquet"))
    assert {codec(f) for f in docs} == {"ZSTD"}
    assert postings_rows(spark, cmp) == postings_rows(spark, d0)
    assert answers(cmp) == want


# ------------------------------------------------------ source guard

# (pattern, its number of copies in build.py)
_LAYOUT_WRITES = [
    (re.compile(r'partitionBy\(\s*"bucket"\s*\)'), 1),  # postings write
    (re.compile(r'F\.sum\(\s*"n_docs"\s*\)\.alias\(\s*"df"\s*\)'), 1),  # terms
    (re.compile(r'"compression",\s*"uncompressed"'), 1),  # doclens
    # postings, and the one docs writer both docs writes go through
    (re.compile(r'"compression",\s*"zstd"'), 2),
    # postings: one file per bucket
    (re.compile(r'repartition\(\s*[\w.]+,\s*"bucket"\s*\)'), 1),
]


def _layout_offenders(name: str, src: str):
    return [
        f"{name}:{src.count(chr(10), 0, m.start()) + 1}: {m.group(0)}"
        for pat, _ in _LAYOUT_WRITES
        for m in pat.finditer(src)
    ]


def test_index_layout_is_written_only_in_build_py():
    """Guard: the postings partitionBy("bucket") write and its bucket
    exchange, the terms aggregate, the uncompressed doclens write and
    the zstd postings and docs writes exist only in build.py's sub-dir
    writers; a second copy in merge or maintenance could drift from the
    layout a fresh build writes."""
    caught = _layout_offenders(
        "x.py",
        '.partitionBy("bucket")\nF.sum("n_docs").alias("df")\n'
        '.option("compression", "uncompressed")\n'
        '.option("compression", "zstd")\n'
        '.repartition(num_buckets, "bucket")\n'
        'F.sum("dl")\n.repartition(n, "bucket", "chunk")\n',
    )
    assert [c.split(":")[1] for c in caught] == ["1", "2", "3", "4", "5"]
    pkg = pathlib.Path(__file__).resolve().parent.parent / "spark_search"
    offenders = [
        hit
        for path in sorted(pkg.rglob("*.py"))
        if path.name != "build.py"
        for hit in _layout_offenders(path.name, path.read_text())
    ]
    assert not offenders, "\n".join(offenders)
    src = (pkg / "build.py").read_text()
    for pat, copies in _LAYOUT_WRITES:
        assert len(pat.findall(src)) == copies, pat.pattern
