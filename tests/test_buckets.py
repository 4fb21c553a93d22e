"""Term -> postings-bucket routing.

``build.bucket_col`` (Spark's ``pmod(xxhash64(term), n)``) writes every
index; ``build.bucket_of`` recomputes it on the driver so a query can
route a term without a terms/ lookup. These tests pin the two to each
other, pin terms/ as a pure aggregate of postings through every
maintenance path (the one-scan query path derives df from postings
``n_docs``), and keep any third copy of the formula out of the package.
"""

import ast
import os
import pathlib
import re

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from spark_search.build import bucket_col, bucket_of, build_index
from spark_search.corpus import CORPUS_SCHEMA, synthetic_corpus
from spark_search.ids import with_doc_ids
from spark_search.maintain import (
    compact,
    delete_docs,
    delete_term_postings,
    upsert_docs,
)
from spark_search.query import IndexReader

# byte lengths around XXH64's 4-, 8- and 32-byte steps
_BOUNDARY = [
    "x" * n for n in (0, 1, 3, 4, 5, 7, 8, 9, 15, 16, 17, 31, 32, 33, 63, 64, 65)
]
_NON_ASCII = st.characters(
    min_codepoint=0x80, max_codepoint=0x1FAFF, blacklist_categories=("Cs",)
)
_TEXT = st.one_of(
    st.text(max_size=80),
    st.text(alphabet=_NON_ASCII, max_size=40),
    st.text(alphabet=st.characters(min_codepoint=0x1F300,
                                   max_codepoint=0x1FAFF), max_size=20),
)


@settings(max_examples=20, deadline=None)
@given(terms=st.lists(_TEXT, min_size=1, max_size=60),
       num_buckets=st.sampled_from([1, 7, 32, 1024]))
def test_bucket_of_equals_spark_bucket_col(spark, terms, num_buckets):
    terms = _BOUNDARY + ["é", "漢字", "😀", "a😀b"] + terms
    rows = (
        spark.createDataFrame([(i, t) for i, t in enumerate(terms)],
                              "i int, term string")
        .select("i", bucket_col(F.col("term"), num_buckets).alias("b"))
        .collect()
    )
    assert len(rows) == len(terms)
    for r in rows:
        assert bucket_of(terms[r["i"]], num_buckets) == r["b"], terms[r["i"]]


@pytest.fixture(scope="module")
def snapshots(spark, tmp_path_factory):
    """One index through build, upsert, delete, term-posting delete,
    a second upsert and compact: [index dir of every snapshot]."""
    base = tmp_path_factory.mktemp("buckets")
    corpus = with_doc_ids(synthetic_corpus(spark, 120, seed=3)).cache()
    dirs = [str(base / f"i{n}") for n in range(6)]
    build_index(spark, corpus, dirs[0], num_buckets=8, chunk_span=32,
                block_size=16)

    def docs(tag, keys):
        return spark.createDataFrame(
            [
                (repo, path, tag, "python",
                 f"import return {tag}only" + " def" * i)
                for i, (repo, path) in enumerate(keys)
            ],
            CORPUS_SCHEMA,
        )

    old = [(r["repo"], r["path"])
           for r in corpus.orderBy("doc_id").limit(2).collect()]
    upsert_docs(spark, dirs[0], dirs[1],
                docs("v2", old + [("r2", "new/a.py"), ("r2", "new/b.py")]))
    delete_docs(spark, dirs[1], dirs[2], [5, 6])
    victims = [
        r["doc_id"]
        for r in IndexReader(spark, dirs[2])
        .search(["import"], k=3).collect()
    ]
    delete_term_postings(spark, dirs[2], dirs[3],
                         [("import", d) for d in victims])
    upsert_docs(spark, dirs[3], dirs[4], docs("v3", [("r3", "new/c.py")]))
    compact(spark, dirs[4], dirs[5])
    yield dirs
    corpus.unpersist()


def test_bucket_of_reproduces_stored_buckets(spark, snapshots):
    rows = spark.read.parquet(os.path.join(snapshots[0], "terms")).collect()
    assert len(rows) > 100
    for r in rows:
        assert bucket_of(r["term"], 8) == r["bucket"], r["term"]


def test_terms_are_an_aggregate_of_postings_after_maintenance(
    spark, snapshots
):
    """For every segment of every snapshot, each terms/ row's
    (df, max_tf, bucket) equals (Σ n_docs, max max_tf, bucket_of(term))
    grouped over that segment's postings."""
    n_segments = []
    for d in snapshots:
        reader = IndexReader(spark, d)
        n_segments.append(len(reader.segments))
        for seg in reader.segments:
            terms = {
                r["term"]: (int(r["df"]), int(r["max_tf"]), int(r["bucket"]))
                for r in spark.read.parquet(os.path.join(seg, "terms"))
                .collect()
            }
            grouped = {
                r["term"]: (int(r["df"]), int(r["max_tf"]),
                            bucket_of(r["term"], reader.num_buckets))
                for r in spark.read.parquet(os.path.join(seg, "postings"))
                .groupBy("term")
                .agg(F.sum("n_docs").alias("df"),
                     F.max("max_tf").alias("max_tf"))
                .collect()
            }
            assert terms and terms == grouped, (d, seg)
    assert max(n_segments) == 2 and n_segments[-1] == 1


# ------------------------------------------------------ source guard

_BANNED = [
    # pmod / xxhash64 over a term column
    re.compile(r"pmod\(\s*(F\.)?xxhash64\(\s*(F\.col\(\s*)?['\"]?term"),
    re.compile(r"xxhash64\(\s*(F\.col\(\s*)?['\"]term['\"]"),
    # a hash reduced modulo the bucket count
    re.compile(r"%\s*(self\.)?num_buckets\b"),
    re.compile(r"xxhash64\([^)]*\)\s*%"),
]


def _bucket_offenders(path: pathlib.Path, src: str, allowed=()):
    spans = [
        (n.lineno, n.end_lineno)
        for n in ast.walk(ast.parse(src))
        if isinstance(n, ast.FunctionDef) and n.name in allowed
    ]
    out = []
    for pat in _BANNED:
        for m in pat.finditer(src):
            line = src.count("\n", 0, m.start()) + 1
            if not any(lo <= line <= hi for lo, hi in spans):
                out.append(f"{path.name}:{line}: {m.group(0)}")
    return out


def test_bucket_formula_lives_only_in_build():
    """Guard: a term's bucket is computed only by ``build.bucket_col``
    (Spark side) and ``build.bucket_of`` (driver side). A third copy
    could drift from them and silently route terms to the wrong
    postings partition."""
    caught = _bucket_offenders(
        pathlib.Path("x.py"),
        'a = F.pmod(F.xxhash64(F.col("term")), F.lit(8))\n'
        "b = hash(t) % num_buckets\n"
        'c = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(8))\n',
    )
    assert sorted({c.split(":")[1] for c in caught}) == ["1", "2"]
    pkg = pathlib.Path(__file__).resolve().parent.parent / "spark_search"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        allowed = ("bucket_col", "bucket_of") if path.name == "build.py" else ()
        offenders += _bucket_offenders(path, path.read_text(), allowed)
    assert not offenders, "\n".join(offenders)
