import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("spark_search_tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_corpus(spark):
    """Reference fixture corpus with engine-assigned ids, cached."""
    from spark_search.corpus import reference_fixture_corpus
    from spark_search.ids import with_doc_ids

    df = with_doc_ids(reference_fixture_corpus(spark)).cache()
    df.count()
    return df


@pytest.fixture
def job_stages_of(spark):
    """``job_stages_of(fn)`` -> (fn's result, [stage count of each
    Spark job fn ran]). fn runs under a fresh ``search_group`` job
    group; the status store is fed asynchronously, so the jobs are read
    once none is active and the listener has had time to catch up. A
    job that reads a shuffle also lists the shuffle's map stage (run or
    skipped), so a count above 1 marks a shuffle."""
    import itertools
    import time

    from spark_search.query import search_group

    tracker = spark.sparkContext.statusTracker()
    tags = itertools.count()

    def run(fn):
        with search_group(spark, f"jobs-of-{id(run)}-{next(tags)}") as group:
            out = fn()
        deadline = time.time() + 10
        while time.time() < deadline and tracker.getActiveJobsIds():
            time.sleep(0.05)
        time.sleep(0.5)
        jobs = sorted(tracker.getJobIdsForGroup(group))
        return out, [len(tracker.getJobInfo(j).stageIds) for j in jobs]

    return run


@pytest.fixture
def jobs_of(job_stages_of):
    """``jobs_of(fn)`` -> (fn's result, number of Spark jobs fn ran)."""

    def run(fn):
        out, stages = job_stages_of(fn)
        return out, len(stages)

    return run


@pytest.fixture
def spark_jobs_of(spark):
    """``spark_jobs_of(fn)`` -> (fn's result, number of Spark jobs the
    SparkContext started while fn ran), read off the DAG scheduler's
    job counter: every job counts, whatever its job group, so a nested
    build's jobs cannot make a pin undercount."""
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()

    def run(fn):
        before = scheduler.nextJobId()
        out = fn()
        return out, scheduler.nextJobId() - before

    return run


@pytest.fixture
def local_calls(monkeypatch):
    """A list recording, per ``IndexReader._search_local`` call, whether
    it answered (True) or declined to the distributed plan (False)."""
    from spark_search.query import IndexReader

    calls = []
    search_local = IndexReader._search_local

    def spy(self, *a, **kw):
        out = search_local(self, *a, **kw)
        calls.append(out is not None)
        return out

    monkeypatch.setattr(IndexReader, "_search_local", spy)
    return calls
