"""Build lifecycle surfaces: cancel (O11/Q8), rollback (abort_build),
and in-flight progress (O10) — the analogs of the reference's
invalidation/cancel flags (reference
index/DocumentIndexManager.java:180-194,
search/SimpleSearchManager.java:87-89) and its per-document progress
tracker (index/DocumentReadWithTrackProgressTask.java:30-34)."""

import os
import sys
import threading
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_search import pipeline as P
from spark_search.build import abort_build, build_index, cancel_build
from spark_search.checkpoint import BuildManifest
from spark_search.query import IndexReader, cancel_search, search_group


def test_cancel_mid_build_keeps_old_generation(spark, fixture_corpus, tmp_path):
    """Kill a running build; the previous committed index must stay
    readable and abort_build must clear the partial state."""
    old_dir = str(tmp_path / "committed")
    build_index(spark, fixture_corpus, old_dir, num_buckets=4, chunk_span=8)

    new_dir = str(tmp_path / "doomed")
    outcome = {}

    def run():
        try:
            build_index(
                spark, fixture_corpus, new_dir, num_buckets=4, chunk_span=8
            )
            outcome["finished"] = True
        except Exception as e:
            outcome["error"] = e

    t = threading.Thread(target=run)
    t.start()
    time.sleep(1.5)  # let the docs stage get airborne
    cancel_build(spark, new_dir)
    t.join(120)
    assert not t.is_alive()

    if "error" in outcome:
        # the normal path: build died mid-flight, nothing was committed
        assert BuildManifest.load(new_dir) is None
        abort_build(new_dir)
        assert not os.path.isdir(new_dir)
    else:
        # build won the race — it must then be complete and refuse abort
        assert BuildManifest.load(new_dir) is not None
        with pytest.raises(ValueError):
            abort_build(new_dir)

    # the old generation is untouched either way
    r = IndexReader(spark, old_dir)
    assert len(r.search(["mila"], P.EXACT_MATCH, k=10).collect()) == 2


def test_abort_refuses_committed_index(spark, fixture_corpus, tmp_path):
    d = str(tmp_path / "keep")
    build_index(spark, fixture_corpus, d, num_buckets=4, chunk_span=8)
    with pytest.raises(ValueError):
        abort_build(d)
    assert BuildManifest.load(d) is not None


def test_abort_missing_dir_is_noop():
    assert abort_build("/tmp/spark_search_never_existed_xyz") is False


def test_cancel_search_mid_flight(spark, fixture_corpus, tmp_path):
    """Q8: a tagged search's jobs can be aborted from another thread
    (the analog of the reference's isCanceled short-circuit,
    SimpleSearchManager.java:87-89); the reader stays healthy after."""
    d = str(tmp_path / "idx")
    build_index(spark, fixture_corpus, d, num_buckets=4, chunk_span=8)
    reader = IndexReader(spark, d)

    outcome = {"done": 0}

    def run():
        try:
            with search_group(spark, "t-cancel"):
                # repeat the (fast) fixture search so the group stays
                # in-flight long enough for the cancel to land; the
                # distributed path is forced so real jobs run
                for _ in range(400):
                    reader.search(
                        ["mila"], P.EXACT_MATCH, k=10,
                        local_max_postings=0,
                    ).collect()
                    outcome["done"] += 1
        except Exception as e:  # cancellation surfaces as a job error
            outcome["error"] = e

    t = threading.Thread(target=run)
    t.start()
    time.sleep(2.0)
    cancel_search(spark, "t-cancel")
    t.join(120)
    assert not t.is_alive()
    # either the cancel landed (error raised mid-loop) or the machine
    # raced through all 400 searches — both leave the reader usable
    assert "error" in outcome or outcome["done"] == 400

    rows = reader.search(["mila"], P.EXACT_MATCH, k=10).collect()
    assert len(rows) == 2


def test_cancel_search_finished_is_noop(spark, fixture_corpus, tmp_path):
    d = str(tmp_path / "idx2")
    build_index(spark, fixture_corpus, d, num_buckets=4, chunk_span=8)
    reader = IndexReader(spark, d)
    with search_group(spark, "t-done"):
        assert len(reader.search(["mila"], P.EXACT_MATCH, k=10).collect()) == 2
    cancel_search(spark, "t-done")  # group already finished: no-op
    # job-group property was cleared by the context manager
    assert len(reader.search(["mila"], P.EXACT_MATCH, k=10).collect()) == 2


def test_build_progress_events_and_stage_metrics(spark, fixture_corpus, tmp_path):
    d = str(tmp_path / "prog")
    events = []
    build_index(
        spark, fixture_corpus, d, num_buckets=4, chunk_span=8,
        progress=events.append,
    )
    # the fixture build runs well past the 1 s poll cadence, so at
    # least one in-flight sample must arrive, monotone and bounded
    assert events, "no progress events fired"
    fractions = [e.fraction for e in events]
    assert all(0.0 <= f <= 1.0 for f in fractions)
    assert [e.completed_tasks for e in events] == sorted(
        e.completed_tasks for e in events
    )

    # manifest carries rows/bytes/wall for every stage
    m = BuildManifest.load(d)
    assert m is not None
    for name, rec in m.stages.items():
        assert rec.get("wall_s", 0) > 0, name
        assert rec.get("bytes", 0) > 0, name
    assert m.stages["docs"]["rows"] == 4
    assert m.stages["terms"]["rows"] > 0


def _record_threads(monkeypatch):
    """Patch pyspark.InheritableThread so the build's docs-branch
    thread can be inspected after build_index returns or raises."""
    import pyspark

    started = []

    class Recorded(pyspark.InheritableThread):
        def start(self):
            started.append(self)
            super().start()

    monkeypatch.setattr(pyspark, "InheritableThread", Recorded)
    return started


def test_failed_postings_stage_joins_docs_thread(
    spark, fixture_corpus, tmp_path, monkeypatch
):
    """A postings-stage failure must not return while the concurrent
    docs branch is still writing into the index dir, and a clean
    rebuild into the same dir must then succeed."""
    import spark_search.build as B

    started = _record_threads(monkeypatch)

    def boom(block_size):
        raise RuntimeError("forced postings failure")

    monkeypatch.setattr(B, "_encode_udf", boom)
    d = str(tmp_path / "idx")
    with pytest.raises(RuntimeError, match="forced postings failure"):
        build_index(spark, fixture_corpus, d, num_buckets=4, chunk_span=8)
    assert len(started) == 1
    assert not started[0].is_alive()
    assert BuildManifest.load(d) is None

    monkeypatch.undo()
    abort_build(d)
    build_index(spark, fixture_corpus, d, num_buckets=4, chunk_span=8)
    got = IndexReader(spark, d).search(["mila"], P.EXACT_MATCH, k=10).collect()
    assert [r["doc_id"] for r in got] == [4, 3]


def test_failed_build_chains_docs_branch_error(
    spark, fixture_corpus, tmp_path, monkeypatch
):
    """When both branches fail, the postings error is raised with the
    docs branch's error chained as its cause, not dropped."""
    import spark_search.build as B

    started = _record_threads(monkeypatch)

    def docs_boom(df):
        raise ValueError("forced docs failure")

    def postings_boom(block_size):
        raise RuntimeError("forced postings failure")

    monkeypatch.setattr(B, "with_content_hash", docs_boom)
    monkeypatch.setattr(B, "_encode_udf", postings_boom)
    with pytest.raises(RuntimeError) as info:
        build_index(
            spark, fixture_corpus, str(tmp_path / "idx"),
            num_buckets=4, chunk_span=8,
        )
    assert isinstance(info.value.__cause__, ValueError)
    assert not started[0].is_alive()
