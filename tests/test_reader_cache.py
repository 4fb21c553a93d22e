"""Reader start at the cost of what changed: known-schema sub-dir reads
and the process-wide per-segment driver cache (``query._SEGMENT_CACHE``).

Job counts are read off the SparkContext's job counter
(``spark_jobs_of``), so every job a call starts counts."""

import inspect
import os
import pathlib
import re
import time

import pytest

from spark_search import pipeline as P
from spark_search import query as Q
from spark_search.build import (
    build_index,
    build_job_group,
    read_postings_local,
    sub_schema,
)
from spark_search.build import TOMBSTONES_SCHEMA
from spark_search.corpus import CORPUS_SCHEMA, synthetic_corpus
from spark_search.ids import with_doc_ids
from spark_search.maintain import (
    compact,
    delete_docs,
    delete_term_postings,
    upsert_docs,
)
from spark_search.merge import merge_indexes
from spark_search.query import IndexReader, search_group

SUBS = ("terms", "postings", "doclens", "docs")


def _ranked(rows):
    return [(r["doc_id"], r["score"], r["rank"]) for r in rows]


def _new_docs(spark, synth, n_replace=2, n_new=2):
    keys = [
        (r["repo"], r["path"])
        for r in synth.orderBy("doc_id").limit(n_replace).collect()
    ] + [("r2", f"fresh/{i}.py") for i in range(n_new)]
    return spark.createDataFrame(
        [
            (repo, path, "v2", "python", f"import return zzseg{i} camelCase")
            for i, (repo, path) in enumerate(keys)
        ],
        CORPUS_SCHEMA,
    )


@pytest.fixture(scope="module")
def synth(spark):
    df = with_doc_ids(synthetic_corpus(spark, 200, seed=7)).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def base_dir(spark, synth, tmp_path_factory):
    """A 1-segment, 1-chunk index."""
    d = str(tmp_path_factory.mktemp("rc") / "base")
    build_index(spark, synth, d, num_buckets=4, chunk_span=1024, block_size=16)
    return d


# ------------------------------------------------------------ job counts


def test_cold_then_cached_reader_first_query_jobs(
    spark, base_dir, spark_jobs_of
):
    """In a fresh process state a first exact query runs ≤ 2 jobs (the
    dictionary, the doclens; pyarrow reads the postings rows): no
    schema inference. A second reader of the same snapshot answers its
    first query with no Spark job, with the first reader's rows and
    scores, which are the distributed plan's."""
    terms = ["import"]
    Q._SEGMENT_CACHE.clear()
    first, n_cold = spark_jobs_of(
        lambda: IndexReader(spark, base_dir)
        .search(terms, P.EXACT_MATCH, k=10).collect()
    )
    assert first and n_cold <= 2
    second, n_cached = spark_jobs_of(
        lambda: IndexReader(spark, base_dir)
        .search(terms, P.EXACT_MATCH, k=10).collect()
    )
    assert n_cached == 0
    dist = IndexReader(spark, base_dir).search(
        terms, P.EXACT_MATCH, k=10, local_max_postings=0
    ).collect()
    assert _ranked(second) == _ranked(first) == _ranked(dist)


def test_new_snapshot_loads_only_its_new_segment(
    spark, synth, base_dir, tmp_path
):
    """After an upsert, a reader of the new snapshot loads dictionary
    and doclens rows of the new segment only (the base segment's are
    cached), plus the snapshot's tombstones, and answers like a reader
    that loaded everything itself."""
    IndexReader(spark, base_dir).search(
        ["import"], P.EXACT_MATCH, k=10
    ).collect()  # base dictionary and its one doclens chunk
    d1 = str(tmp_path / "up")
    upsert_docs(spark, base_dir, d1, _new_docs(spark, synth))
    Q._SEGMENT_CACHE.loads.clear()
    r = IndexReader(spark, d1)
    assert len(r.segments) == 2
    got = _ranked(r.search(["import"], P.EXACT_MATCH, k=400).collect())
    assert len(got) > 4
    loaded = {}
    for kind, path in Q._SEGMENT_CACHE.loads:
        loaded.setdefault(kind, set()).add(path)
    assert loaded == {
        "dict": {r.segments[1]},
        "doclens": {r.segments[1]},
        "dels": {os.path.abspath(d1)},
    }
    Q._SEGMENT_CACHE.clear()
    assert got == _ranked(
        IndexReader(spark, d1).search(["import"], P.EXACT_MATCH, k=400).collect()
    )


def test_rebuild_into_same_path_is_not_served_from_cache(spark, tmp_path):
    """A different corpus rebuilt into the same index path has a new
    manifest: a fresh reader sees its terms and scores, not the cached
    ones of the old build."""
    d, other = str(tmp_path / "idx"), str(tmp_path / "other")
    old = with_doc_ids(synthetic_corpus(spark, 60, seed=1))
    new = with_doc_ids(
        spark.createDataFrame(
            [
                ("r", f"n{i}.py", "v", "python", " ".join(["import zzrebuilt"] * (i % 3 + 1)))
                for i in range(12)
            ],
            CORPUS_SCHEMA,
        )
    )
    build_index(spark, old, d, num_buckets=4, chunk_span=64)
    before = IndexReader(spark, d).search(["import"], P.EXACT_MATCH, k=10)
    assert before.collect()
    build_index(spark, new, d, num_buckets=4, chunk_span=64)
    build_index(spark, new, other, num_buckets=4, chunk_span=64)
    fresh = IndexReader(spark, d)
    want = IndexReader(spark, other)
    for terms in (["import"], ["zzrebuilt"], ["import", "zzrebuilt"]):
        got = _ranked(fresh.search(terms, P.WITH_SUGGESTIONS, k=20).collect())
        assert got and got == _ranked(
            want.search(terms, P.WITH_SUGGESTIONS, k=20).collect()
        )
    assert fresh.match_terms(["zzrebuilt"], P.EXACT_MATCH)[0][1] == 12


def test_cache_is_bounded_by_bytes(spark, base_dir, monkeypatch):
    """Past its byte bound the cache evicts least recently used entries
    and the reader reloads them, with the same answer."""
    r = IndexReader(spark, base_dir)
    want = _ranked(r.search(["import"], P.EXACT_MATCH, k=10).collect())
    monkeypatch.setattr(Q._SEGMENT_CACHE, "max_bytes", 1)
    Q._SEGMENT_CACHE.put(("dict", ("/nowhere", "x")), {}, 2)
    assert Q._SEGMENT_CACHE.get(("dict", r._seg_owners[0])) is Q._MISS
    assert _ranked(r.search(["import"], P.EXACT_MATCH, k=10).collect()) == want


# ------------------------------------------------------------- job group


def _job_groups(spark, first: int, last: int, timeout_s: float = 10.0):
    """job id -> job group of the jobs ``first`` ≤ id < ``last``, once
    Spark's status store (fed asynchronously) holds all of them."""
    store = spark.sparkContext._jsc.sc().statusStore()
    deadline = time.time() + timeout_s
    while True:
        seq = store.jobsList(None)
        out = {}
        for i in range(seq.size()):
            jd = seq.apply(i)
            if first <= jd.jobId() < last:
                g = jd.jobGroup()
                out[jd.jobId()] = str(g.get()) if g.isDefined() else None
        if len(out) == last - first or time.time() > deadline:
            return out
        time.sleep(0.1)


def test_upsert_keeps_the_callers_job_group(spark, synth, base_dir, tmp_path):
    """Every job ``upsert_docs`` runs inside an outer ``search_group``
    belongs to that group or to its nested build's own group — none
    falls out of both — and the caller's group is back afterwards."""
    sc = spark.sparkContext
    scheduler = sc._jsc.sc().dagScheduler()
    out_dir = str(tmp_path / "up")
    seg = os.path.join(out_dir, "segments", "seg-1")
    prev = sc.getLocalProperty("spark.jobGroup.id")
    with search_group(spark, f"upsert-{time.time_ns()}") as group:
        first = scheduler.nextJobId()
        upsert_docs(spark, base_dir, out_dir, _new_docs(spark, synth))
        last = scheduler.nextJobId()
        assert sc.getLocalProperty("spark.jobGroup.id") == group
    assert sc.getLocalProperty("spark.jobGroup.id") == prev
    groups = _job_groups(spark, first, last)
    assert len(groups) == last - first
    in_caller = [j for j, g in groups.items() if g == group]
    in_build = [
        j for j, g in groups.items()
        if g is not None and g.startswith(build_job_group(seg) + "#")
    ]
    assert in_caller and in_build
    assert len(in_caller) + len(in_build) == last - first


# ----------------------------------------------------------- schema pins


def _inferred(spark, d, sub):
    return spark.read.parquet(os.path.join(d, sub)).schema


def test_written_sub_dirs_have_the_build_schemas(spark, tmp_path):
    """Every sub-dir that build, merge, upsert, delete, per-(term, doc)
    delete and compact write — with and without positions — infers to
    exactly build.py's schema constant, so a writer that drifts fails
    here instead of reading nulls through the known-schema reads."""
    corpus = with_doc_ids(synthetic_corpus(spark, 40, seed=3))
    kw = dict(num_buckets=4, chunk_span=16)
    a = corpus.where("doc_id % 2 = 0")
    b = corpus.where("doc_id % 2 = 1")
    da, db, dm = (str(tmp_path / n) for n in ("a", "b", "m"))
    build_index(spark, a, da, **kw)
    build_index(spark, b, db, **kw)
    merge_indexes(spark, [da, db], dm)
    indexes = [(d, False) for d in (da, dm)]
    dp, du, dd, dt, dc = (str(tmp_path / n) for n in ("p", "u", "d", "t", "c"))
    build_index(spark, corpus, dp, positions=True, **kw)
    upsert_docs(spark, dp, du, _new_docs(spark, corpus))
    delete_docs(spark, du, dd, [3, 5])
    delete_term_postings(spark, dd, dt, [("import", 7)])
    compact(spark, dd, dc)
    indexes += [
        (d, True) for d in (dp, os.path.join(du, "segments", "seg-1"), dt, dc)
    ]
    for d, positions in indexes:
        for sub in SUBS:
            assert _inferred(spark, d, sub) == sub_schema(sub, positions), (
                d, sub,
            )
    for d in (du, dd):
        assert _inferred(spark, d, "deletes") == TOMBSTONES_SCHEMA


_SCHEMALESS_INDEX_READ = re.compile(
    r"\.read\.parquet\(([^)]*(?:\"(?:terms|postings|doclens|docs)\"|"
    r"deletes|dels|paths\.|index_dir|seg)[^)]*)\)"
)


# a pyarrow parquet read in any spelling: the reader calls, and every
# import that binds pyarrow's parquet or dataset module (or a name from
# them) under any alias
_PYARROW_READ = re.compile(
    r"\b(?:pq|parquet)\.(?:read_table|read_pandas|ParquetFile|ParquetDataset)\("
    r"|\b(?:ds|dataset)\.(?:dataset|FileSystemDataset)\b"
    r"|^\s*(?:import|from)\s+pyarrow\.(?:parquet|dataset)\b"
    r"|^\s*from\s+pyarrow\s+import\s+[^\n]*\b(?:parquet|dataset)\b",
    re.M,
)


def test_index_sub_dirs_are_read_only_through_build_py():
    """Guard: outside build.py no program file reads an index sub-dir
    or a tombstone dir with a schema-inferring ``spark.read.parquet``
    (they go through ``read_segments`` / ``read_tombstones``) or with
    pyarrow (``read_postings_local``, the only pyarrow reader in
    build.py, is the driver-side read)."""
    assert _SCHEMALESS_INDEX_READ.search(
        'spark.read.parquet(os.path.join(d, "postings"))'
    )
    assert _SCHEMALESS_INDEX_READ.search('spark.read.parquet(cfg["deletes_dir"])')
    assert not _SCHEMALESS_INDEX_READ.search(
        'spark.read.parquet(f"{sf_dir}/documents.parquet")'
    )
    for read in (
        'pq.read_table(os.path.join(seg, "postings"))',
        "pq.ParquetFile(path)",
        "pyarrow.parquet.read_table(path)",
        "pyarrow.dataset.dataset(paths)",
        "ds.dataset(paths, format='parquet')",
        "ds.FileSystemDataset.from_paths(paths)",
        "import pyarrow.parquet as pyq",
        "import pyarrow.dataset as pads",
        "from pyarrow import parquet as pqt",
        "from pyarrow.parquet import read_table as rt",
        "    from pyarrow import dataset",
    ):
        assert _PYARROW_READ.search(read), read
    for other in (
        "import pyarrow as pa",
        "pa.table({'term': terms})",
        "from pyspark.sql.pandas.types import to_arrow_schema",
        'spark.read.parquet(f"{sf_dir}/documents.parquet")',
    ):
        assert not _PYARROW_READ.search(other), other
    root = pathlib.Path(__file__).resolve().parent.parent
    files = sorted((root / "spark_search").rglob("*.py")) + sorted(
        root.glob("*.py")
    )
    offenders = [
        f"{path.relative_to(root)}:{src.count(chr(10), 0, m.start()) + 1}"
        for path in files
        if path.name != "build.py"
        for src in [path.read_text()]
        for pat in (_SCHEMALESS_INDEX_READ, _PYARROW_READ)
        for m in pat.finditer(src)
    ]
    assert not offenders, offenders
    build_src = (root / "spark_search" / "build.py").read_text()
    reader_src = inspect.getsource(read_postings_local)
    assert len(_PYARROW_READ.findall(build_src)) == len(
        _PYARROW_READ.findall(reader_src)
    ) > 0
