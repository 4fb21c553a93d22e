"""Distributed inverted-index build.

Pipeline (all DataFrame ops + one Arrow-batched encode UDF):

  corpus (repo, path, commit, lang, content)
    -> ids + sha256 + dl                      [stage docs]
    -> tokenize (JVM split/explode)           [stage postings-g]
    -> chunk = doc_id // chunk_span           ** the skew salt **
    -> ONE exchange: repartition(bucket(term), chunk)
    -> (bucket, chunk, term, doc_id) tf   exchange-free hash agg
    -> groupBy(bucket, term, chunk): docID-sorted arrays (exchange-free)
    -> delta+varint block encode (pandas UDF, numpy)
    -> repartition(bucket) of the encoded rows (cheap second exchange)
    -> write postings/: one zstd file per bucket, sorted by (term, chunk)
    -> terms/ dictionary (df, cf) from chunk metadata  [stage terms]
    -> manifest commit (stats + per-stage lineage)

Skew: a term like ``import`` may appear in nearly every document. No
single reducer ever sees more than ``chunk_span`` postings of one term,
because the pre-aggregation key is (term, chunk) — doc-range salting
with deterministic output order (chunks concatenate in doc_id order).
This replaces the reference's single-threaded tree-apply loop
(reference index/IndexationSchedulerTask.java:34-63).

Resumability: stages record lineage in manifest.partial.json keyed by
an input fingerprint; re-running build_index over the same input skips
completed stages (per-bucket-group granularity for the heavy postings
stage). Output dirs are written once per stage and become immutable.

Layout ownership: this module defines the on-disk layout (``IndexPaths``,
one schema per sub-dir and for a tombstone dir, ``bucket_col``) and holds
its only writers (``write_postings``, ``write_terms``, ``write_doclens``,
``write_docs``, ``write_tombstones``) and readers (``read_segments``,
``read_tombstones``). merge.py, maintain.py and query.py write and read
their sub-dirs through these, so a merged or rewritten index has the
layout of a fresh build, and no read pays a schema-inference job.

Codecs: postings/ and docs/ are zstd, doclens/ is uncompressed and
terms/ keeps Spark's default (snappy). The old claim that a generic
codec on postings is "pure CPU loss" was measured with snappy; zstd
cuts the serve_scale postings 13.1 -> 3.8 MB and docs 31.8 -> 16.6 MB
at equal write wall and query latency. Parquet records the codec in
each file, so an index written before the switch reads unchanged.
"""

import contextlib
import functools
import os
import shutil
import time
import uuid
from dataclasses import dataclass
from typing import Callable, Dict, List, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import pipeline as P
from .checkpoint import (
    MANIFEST as MANIFEST_NAME,
    PARTIAL as PARTIAL_NAME,
    BuildManifest,
    IndexFormatError,
    corpus_fingerprint,
)
from .codec import encode_blocks_batch, encode_positions_batch
from .ids import with_content_hash, with_doc_ids, with_doc_length
from .progress import ProgressReporter, dir_bytes
from .stats import CorpusStats

DEFAULT_NUM_BUCKETS = 32
DEFAULT_CHUNK_SPAN = 1 << 14
DEFAULT_BLOCK_SIZE = 128


def _postings_file_counts(postings_dir: str) -> dict:
    """{bucket_dir_name: n_parquet_files} via a filesystem listing
    (driver-side; one LIST per bucket dir — cheap at any scale)."""
    out = {}
    if not os.path.isdir(postings_dir):
        return out
    for entry in os.listdir(postings_dir):
        sub = os.path.join(postings_dir, entry)
        if entry.startswith("bucket=") and os.path.isdir(sub):
            out[entry] = sum(
                1 for f in os.listdir(sub) if f.endswith(".parquet")
            )
    return out


def _struct(*fields) -> StructType:
    """A nullable-field struct: parquet reads every column as nullable."""
    return StructType([StructField(n, t, True) for n, t in fields])


_BLOCKS_TYPE = ArrayType(
    _struct(
        ("first_doc", LongType()), ("last_doc", LongType()),
        ("n", IntegerType()), ("max_tf", IntegerType()),
        ("deltas", BinaryType()), ("tfs", BinaryType()),
    )
)
BLOCKS_SCHEMA = _BLOCKS_TYPE.simpleString()

# per-(term, doc) varint-encoded token positions, present on postings
# rows only when the index was built with positions=True. doc_id is
# EMBEDDED in each entry (self-describing, no alignment invariant with
# the blocks column), so maintenance rewrites may leave stale entries
# for removed (term, doc) pairs — the phrase query derives candidates
# from blocks and semi-joins plists on them, so stale entries are inert
_PLISTS_TYPE = ArrayType(_struct(("doc_id", LongType()), ("poss", BinaryType())))
PLISTS_SCHEMA = _PLISTS_TYPE.simpleString()


# The schema of every index sub-dir and of a tombstone dir, as a read
# sees it (the postings/ partition column ``bucket`` last). Each writer
# below selects exactly these columns with these types, and every read
# passes the schema instead of inferring it, which would cost a Spark
# job per read.
TERMS_SCHEMA = _struct(
    ("term", StringType()), ("df", LongType()), ("cf", LongType()),
    ("max_tf", IntegerType()), ("bucket", IntegerType()),
)
_POSTINGS_FIELDS = [
    ("term", StringType()), ("chunk", LongType()), ("n_docs", IntegerType()),
    ("sum_tf", LongType()), ("max_tf", IntegerType()), ("blocks", _BLOCKS_TYPE),
]
POSTINGS_SCHEMA = _struct(*_POSTINGS_FIELDS, ("bucket", IntegerType()))
POSITIONAL_POSTINGS_SCHEMA = _struct(
    *_POSTINGS_FIELDS, ("plists", _PLISTS_TYPE), ("bucket", IntegerType())
)
DOCLENS_SCHEMA = _struct(("chunk", LongType()), ("dls", BinaryType()))
DOCS_SCHEMA = _struct(
    ("doc_id", LongType()), ("repo", StringType()), ("path", StringType()),
    ("commit", StringType()), ("lang", StringType()),
    ("content_sha256", StringType()), ("dl", IntegerType()),
)
TOMBSTONES_SCHEMA = _struct(("doc_id", LongType()))


def sub_schema(sub: str, positions: bool = False) -> StructType:
    """The schema of index sub-dir ``sub``; ``positions`` selects the
    postings/ schema with the ``plists`` column."""
    if sub == "postings":
        return POSITIONAL_POSTINGS_SCHEMA if positions else POSTINGS_SCHEMA
    return {
        "terms": TERMS_SCHEMA, "doclens": DOCLENS_SCHEMA, "docs": DOCS_SCHEMA,
    }[sub]


def conform(rows: DataFrame, schema: StructType) -> DataFrame:
    """``rows`` as exactly ``schema``'s columns and types: what a writer
    stores, so a read with the schema sees what was written. A column
    already of its type (nullability aside) is selected as it is."""
    have = {f.name: f.dataType.simpleString() for f in rows.schema.fields}
    return rows.select(
        *[
            F.col(f.name)
            if have.get(f.name) == f.dataType.simpleString()
            else F.col(f.name).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
    )


def block_structs(blocks) -> List[dict]:
    """Codec block tuples (first_doc, last_doc, n, max_tf, deltas, tfs)
    as ``BLOCKS_SCHEMA`` struct values."""
    return [
        {
            "first_doc": b[0], "last_doc": b[1], "n": b[2],
            "max_tf": b[3], "deltas": b[4], "tfs": b[5],
        }
        for b in blocks
    ]


def bucket_col(term_col, num_buckets: int):
    return F.pmod(F.xxhash64(term_col), F.lit(num_buckets)).cast("int")


_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh64_round(acc: int, lane: int) -> int:
    return (_rotl64((acc + lane * _XXH_P2) & _M64, 31) * _XXH_P1) & _M64


def bucket_of(term: str, num_buckets: int) -> int:
    """``bucket_col`` computed on the driver: Spark's ``xxhash64``
    (XXH64, seed 42, over the term's UTF-8 bytes) as a signed long,
    then ``pmod``. Lets a query route a term to its postings partition
    without a terms/ lookup job."""
    data = term.encode("utf-8")
    n = len(data)
    seed = 42
    i = 0
    if n >= 32:
        v = [
            (seed + _XXH_P1 + _XXH_P2) & _M64,
            (seed + _XXH_P2) & _M64,
            seed,
            (seed - _XXH_P1) & _M64,
        ]
        while i + 32 <= n:
            for j in range(4):
                lane = int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little")
                v[j] = _xxh64_round(v[j], lane)
            i += 32
        h = (
            _rotl64(v[0], 1) + _rotl64(v[1], 7)
            + _rotl64(v[2], 12) + _rotl64(v[3], 18)
        ) & _M64
        for x in v:
            h = ((h ^ _xxh64_round(0, x)) * _XXH_P1 + _XXH_P4) & _M64
    else:
        h = (seed + _XXH_P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _xxh64_round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl64(h, 27) * _XXH_P1 + _XXH_P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _XXH_P1) & _M64
        h = (_rotl64(h, 23) * _XXH_P2 + _XXH_P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _XXH_P5) & _M64
        h = (_rotl64(h, 11) * _XXH_P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _XXH_P2) & _M64
    h ^= h >> 29
    h = (h * _XXH_P3) & _M64
    h ^= h >> 32
    signed = h - (1 << 64) if h >> 63 else h
    return signed % num_buckets  # Python's % is pmod for num_buckets > 0


def _encode_udf(block_size: int):
    @F.pandas_udf(BLOCKS_SCHEMA)
    def encode(doc_ids: pd.Series, tfs: pd.Series) -> pd.Series:
        # batch-vectorized across the whole Arrow batch: single-block
        # lists (the long tail — most of any code vocabulary) are
        # encoded in one numpy pass instead of one call per term
        encoded = encode_blocks_batch(
            list(doc_ids), list(tfs), block_size=block_size
        )
        return pd.Series([block_structs(blocks) for blocks in encoded])

    return encode


def _encode_positions_udf():
    @F.pandas_udf("binary")
    def enc_pos(poss: pd.Series) -> pd.Series:
        # one vectorized pass over the whole Arrow batch (codec
        # encode_positions_batch) — the long tail of tf≈1 pairs never
        # pays per-list call overhead
        return pd.Series(encode_positions_batch(list(poss)))

    return enc_pos


@dataclass
class IndexPaths:
    root: str

    @property
    def docs(self) -> str:
        return os.path.join(self.root, "docs")

    @property
    def doclens(self) -> str:
        return os.path.join(self.root, "doclens")

    @property
    def postings(self) -> str:
        return os.path.join(self.root, "postings")

    @property
    def terms(self) -> str:
        return os.path.join(self.root, "terms")


def read_segments(
    spark: SparkSession, roots: List[str], sub: str, positions: bool = False
) -> DataFrame:
    """``sub`` of every segment root, read with its known schema
    (``sub_schema``) and unioned by column name. Partition discovery
    (the bucket=N dirs) runs per root, never across roots."""
    schema = sub_schema(sub, positions)
    dfs = [spark.read.schema(schema).parquet(os.path.join(r, sub)) for r in roots]
    return functools.reduce(DataFrame.unionByName, dfs)


def read_tombstones(spark: SparkSession, deletes_dir: str) -> DataFrame:
    """A tombstone dir's (doc_id) rows, read with its known schema."""
    return spark.read.schema(TOMBSTONES_SCHEMA).parquet(deletes_dir)


def write_tombstones(dels: DataFrame, out: str, shards: int) -> None:
    """A tombstone dir from (doc_id) rows: one file, or ``shards``
    doc_id ranges, each sorted."""
    dels = conform(dels, TOMBSTONES_SCHEMA)
    if shards == 1:
        dels.repartition(1).write.mode("overwrite").parquet(out)
    else:
        (
            dels.repartitionByRange(shards, "doc_id")
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite")
            .parquet(out)
        )


# broadcast gate for the per-chunk tombstone frame (~8 B per id)
_DELS_BROADCAST_CAP = 5_000_000


def tombstones_by_chunk(
    dels: DataFrame, span: int, n_tombstones: Optional[int]
) -> DataFrame:
    """(chunk, _dels): each chunk's sorted tombstoned doc_ids. Broadcast
    only when the manifest's tombstone count proves the set bounded: an
    unconditional hint would pull a delete-heavy index's whole
    tombstone set onto the driver (compact runs exactly when the set is
    at its largest); past the cap the chunk joins stay distributed
    shuffles, with the same results."""
    grouped = (
        dels.select(
            (F.col("doc_id") / span).cast("long").alias("chunk"), "doc_id"
        )
        .groupBy("chunk")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("_dels"))
    )
    if n_tombstones is not None and int(n_tombstones) <= _DELS_BROADCAST_CAP:
        return F.broadcast(grouped)
    return grouped


# ------------------------------------------------------ sub-dir writers
# Every write of an index sub-dir goes through one of these, so the
# on-disk layout has one definition. Build, merge and maintenance
# differ only in the exchange that feeds a writer.


def write_postings(
    rows: DataFrame, out: str, num_buckets: int, mode: str = "overwrite"
) -> None:
    """postings/ from (bucket, term, chunk, ...) rows: one zstd file per
    bucket, sorted by (term, chunk). The writer's own exchange, a
    hash repartition on bucket alone, sends each bucket to one task,
    whatever exchange produced the rows, so every writer (build,
    merge, compact, term delete) leaves the same layout at any cluster
    size. It moves only encoded rows, which is cheap next to the
    caller's exchange. bucket FIRST in the sort: the dynamic
    partitionBy writer requires rows clustered by the partition column,
    and the (term, chunk) order inside each file is what row-group
    pruning depends on. One file per bucket matters at query time: a
    scan pays each file's open and footer read (13 files per bucket
    cost serve_scale mid queries ~25% of their latency). The price is
    a write stage num_buckets tasks wide: an index whose encoded
    postings outgrow that many tasks wants more buckets."""
    schema = sub_schema("postings", "plists" in rows.columns)
    (
        conform(rows, schema)
        .repartition(num_buckets, "bucket")
        .sortWithinPartitions("bucket", "term", "chunk")
        .write.mode(mode)
        # block payloads are delta+varint coded, yet zstd still takes
        # postings to 29% of their uncompressed bytes at no measurable
        # write or query cost (snappy: 50%, and ~15% of the postings
        # stage at 500k docs, which is why this was once uncompressed)
        .option("compression", "zstd")
        .partitionBy("bucket")
        .parquet(out)
    )


def write_doclens(chunks: DataFrame, out: str) -> None:
    """doclens/ from (chunk, dls) rows. dls payloads are dense int32
    arrays; snappy on them costs more CPU than the bytes it saves at
    read time (not re-measured with zstd: doclens are about 1% of an
    index)."""
    conform(chunks, DOCLENS_SCHEMA).write.mode("overwrite").option(
        "compression", "uncompressed"
    ).parquet(out)


def _write_docs_partitioned(docs: DataFrame, out: str) -> Tuple[int, int]:
    """docs/ from DOCS_SCHEMA rows the caller's exchange has
    partitioned: each file sorted by doc_id, zstd (snappy does little
    for the hex ``commit`` and ``content_sha256`` columns; zstd halves
    docs/). Returns (n, Σ dl), observed on the write itself rather than
    by a read-back job."""
    obs = Observation("docs_write_stats")
    (
        docs.observe(
            obs, F.count(F.lit(1)).alias("n"), F.sum("dl").alias("tot")
        )
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .parquet(out)
    )
    row = obs.get
    return int(row["n"]), int(row["tot"] or 0)


def write_docs(docs: DataFrame, out: str, parts: int) -> Tuple[int, int]:
    """docs/ as a range write by doc_id (files disjoint in doc_id,
    sorted within). Returns (n, Σ dl)."""
    return _write_docs_partitioned(
        conform(docs, DOCS_SCHEMA).repartitionByRange(parts, "doc_id"), out
    )


def write_terms(
    spark: SparkSession, paths: IndexPaths, num_buckets: int, par: int
) -> int:
    """terms/ (df, cf, max_tf, bucket per term) derived from the written
    postings/ under ``paths``; returns the vocabulary size. Column
    pruning keeps the blocks out of the scan."""
    terms = read_segments(spark, [paths.root], "postings").groupBy("term").agg(
        F.sum("n_docs").alias("df"),
        F.sum("sum_tf").alias("cf"),
        F.max("max_tf").alias("max_tf"),
        # bucket is functional on term; storing it here lets the query
        # side prune postings partitions without a second job
        F.first("bucket").alias("bucket"),
    )
    # vocabulary size rides the write (CollectMetrics above the range
    # exchange so its sampling pre-pass never executes the metrics
    # node), recorded so the query side can decide to cache the
    # dictionary driver-side without probing (a limit+collect probe runs
    # as many sequential scale-up jobs — measured tens of seconds on a
    # noisy machine)
    obs = Observation("terms_stats")
    (
        conform(terms, TERMS_SCHEMA)
        .repartitionByRange(max(1, min(num_buckets, par)), "term")
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(paths.terms)
    )
    return int(obs.get["n"])


def build_job_group(index_dir: str) -> str:
    """Spark job-group id PREFIX under which every job of a build runs.
    Each build_index call appends a fresh nonce (cancellation via
    cancelJobGroupAndFutureJobs poisons a group id for the session, so
    a rebuild of the same path must not reuse the cancelled id)."""
    return f"spark_search.build:{os.path.abspath(index_dir)}"


_JOB_GROUP_PROPS = (
    "spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel",
)


@contextlib.contextmanager
def job_group(spark: SparkSession, group: str, description: str):
    """Run the block's Spark jobs (from this thread) under the
    cancellable job group ``group``, then give the thread back the job
    group it had before: a build nested in a caller's group (an upsert
    inside a ``search_group``) must leave the caller's later jobs in
    the caller's group, not in none."""
    sc = spark.sparkContext
    saved = [sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS]
    sc.setJobGroup(group, description, interruptOnCancel=True)
    try:
        yield group
    finally:
        for k, v in zip(_JOB_GROUP_PROPS, saved):
            sc.setLocalProperty(k, v)


# abspath(index_dir) -> the nonce'd group id of the build currently
# running for it (cancel_build addresses builds by path)
_ACTIVE_BUILD_GROUPS: Dict[str, str] = {}


def cancel_build(spark: SparkSession, index_dir: str) -> None:
    """Cancel a RUNNING build of ``index_dir`` from another thread
    (O11 — reference index/DocumentIndexManager.java:180-194;
    search-side Q8 cancellation is the same call on a query job
    group). The build's in-flight Spark jobs are interrupted; because
    an index is only published by the atomic manifest rename in
    ``BuildManifest.commit``, the aborted build is never visible to
    readers and any previous committed generation keeps serving.

    A build is a SEQUENCE of jobs with driver-side gaps between stages;
    a cancel landing in a gap must also stop the jobs not yet submitted
    or the build runs to completion and COMMITS despite the cancel —
    same future-jobs handling as cancel_search (query.py). The
    poisoned id is the RUNNING build's nonce'd group, so a later
    rebuild of the same path is unaffected."""
    sc = spark.sparkContext
    group = _ACTIVE_BUILD_GROUPS.get(os.path.abspath(index_dir))
    if group is None:
        # no build registered (already finished, or an older caller):
        # interrupt any active jobs under the un-nonce'd prefix id
        sc.cancelJobGroup(build_job_group(index_dir))
        return
    try:
        sc._jsc.sc().cancelJobGroupAndFutureJobs(group)
    except Exception:
        sc.cancelJobGroup(group)


def abort_build(index_dir: str) -> bool:
    """Roll back an interrupted/uncommitted build: remove the partial
    manifest and stage directories. REFUSES to touch a committed index
    (manifest.json present) — cancellation must never destroy a live
    generation. Returns True if anything was removed."""
    final = os.path.join(index_dir, MANIFEST_NAME)
    if os.path.exists(final):
        raise ValueError(
            f"{index_dir} holds a committed index; abort_build only "
            "rolls back uncommitted builds"
        )
    if not os.path.isdir(index_dir):
        return False
    paths = IndexPaths(index_dir)
    removed = False
    for p in (
        os.path.join(index_dir, PARTIAL_NAME),
        os.path.join(index_dir, PARTIAL_NAME + ".tmp"),
    ):
        if os.path.exists(p):
            os.remove(p)
            removed = True
    for d in (paths.docs, paths.doclens, paths.postings, paths.terms):
        if os.path.isdir(d):
            shutil.rmtree(d)
            removed = True
    try:
        os.rmdir(index_dir)  # only succeeds when nothing else lives there
    except OSError:
        pass
    return removed


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    num_buckets: int = DEFAULT_NUM_BUCKETS,
    chunk_span: int = DEFAULT_CHUNK_SPAN,
    block_size: int = DEFAULT_BLOCK_SIZE,
    bucket_groups: int = 1,
    tokenizer: str = "standard",
    resume: bool = False,
    doc_id_partitions: Optional[int] = None,
    progress: Optional[Callable] = None,
    postings_exchange: str = "fused",
    plan_parallelism: Optional[int] = None,
    positions: bool = False,
) -> BuildManifest:
    """Build (or resume) a disk index from a corpus DataFrame.

    ``positions=True`` additionally stores per-(term, doc) token
    positions (``plists`` column on postings rows, PLISTS_SCHEMA) so
    phrase queries never re-read document content — the opt-in trade
    the reference declined (its index is a doc-level filter and
    positions are recomputed at query time,
    reference search/SimpleSearchManager.java:187-214,
    tree/TreeNode.java:18). Costs ~cf varints of index bytes and a
    heavier build agg; costs NOTHING at query time for non-phrase
    queries (parquet is columnar — the plists column is simply never
    read). Default False keeps the index byte-identical to older
    builds.

    ``corpus`` may or may not already carry ``doc_id``; if absent, ids
    are assigned deterministically (ids.with_doc_ids).

    ``postings_exchange`` picks the shuffle strategy for the postings
    stage; both produce byte-identical indexes (pinned by test):

    * ``"fused"`` (default) — ONE exchange of raw token rows keyed
      (bucket, chunk). Fastest where shuffle bytes are cheap relative
      to task scheduling (local mode / fast fabric): measured ~3x over
      the alternative at the quiet-machine floor.
    * ``"combined"`` — classic two-exchange plan: map-side partial
      count combines each (term, doc) to one row BEFORE the first
      exchange, then a (bucket, chunk)-keyed exchange feeds the
      posting-list build. Moves ~1/avg_tf the bytes per exchange — the
      option for network-bound clusters — at the cost of a second
      shuffle barrier AND per-task memory for the partial-agg hash
      table over the (bucket, chunk, term, doc_id) key. Measured at
      600k docs (gated windows, BASELINE.md §4.4): best wall at 2
      tasks/JVM (133 s vs fused 145 s, the byte saving wins) but 2.3x
      CPU inflation at 8 tasks/JVM (spill -> sort fallback as
      concurrent tasks divide the heap). Size executor memory per
      core accordingly before choosing it.

    All Spark jobs of the build run under job group
    ``build_job_group(index_dir)`` so ``cancel_build`` can abort them
    from another thread; the atomic manifest-rename commit means an
    aborted build is simply never visible to readers (O11 —
    reference index/DocumentIndexManager.java:180-194).

    ``progress`` (O10 — reference
    index/DocumentReadWithTrackProgressTask.java:30-34): optional
    callback receiving ``progress.ProgressEvent`` task-completion
    samples while the build runs; per-stage rows/bytes/wall totals are
    additionally recorded in the manifest.
    """
    paths = IndexPaths(index_dir)
    key = os.path.abspath(index_dir)
    group = f"{build_job_group(index_dir)}#{uuid.uuid4().hex[:8]}"
    _ACTIVE_BUILD_GROUPS[key] = group
    reporter = (
        ProgressReporter(spark, group, progress)
        if progress is not None
        else contextlib.nullcontext()
    )
    try:
        # the group is left even when a stage fails, so later unrelated
        # jobs on this thread are never attributable to (and
        # cancellable via) cancel_build
        with job_group(spark, group, f"spark_search build -> {index_dir}"):
            with reporter:
                return _build_stages(
                    spark, corpus, paths, index_dir, num_buckets, chunk_span,
                    block_size, bucket_groups, tokenizer, resume,
                    doc_id_partitions, postings_exchange,
                    plan_parallelism, positions,
                )
    finally:
        if _ACTIVE_BUILD_GROUPS.get(key) == group:
            del _ACTIVE_BUILD_GROUPS[key]


def _build_stages(
    spark: SparkSession,
    corpus: DataFrame,
    paths: IndexPaths,
    index_dir: str,
    num_buckets: int,
    chunk_span: int,
    block_size: int,
    bucket_groups: int,
    tokenizer: str,
    resume: bool,
    doc_id_partitions: Optional[int],
    postings_exchange: str = "fused",
    plan_parallelism: Optional[int] = None,
    positions: bool = False,
) -> BuildManifest:
    # Every parallelism-derived plan constant below flows from ``par``.
    # By default that's the cluster's core count (a lone build should
    # use the machine it's on), but ``plan_parallelism`` pins it so the
    # SAME physical plan — exchange widths, file layout, task
    # boundaries — runs at any executor count: the property a
    # two-cluster-size scaling comparison needs (equal work by
    # construction). postings/ files are byte-identical at any ``par``
    # (write_postings' own bucket exchange); how terms/ and docs/ split
    # into files still follows ``par``.
    par = plan_parallelism or spark.sparkContext.defaultParallelism
    # Input-parallelism floor. A small-relative-to-cluster input (or a
    # coarse maxPartitionBytes) can leave the scan with ~1 split per
    # core: the tokenize+tf map stage then runs as a single wave with
    # zero straggler slack and stops scaling (measured 2.2x on the
    # postings stage at 500k docs). 3x parallelism gives wave overlap;
    # at real scale scans carry >> 3x cores splits and this is a no-op,
    # so the extra exchange only ever touches small inputs.
    min_parts = 3 * par
    if corpus.rdd.getNumPartitions() < min_parts:
        corpus = corpus.repartition(min_parts)

    fingerprint = corpus_fingerprint(corpus)

    requested_cfg = {
        "num_buckets": num_buckets,
        "chunk_span": chunk_span,
        "block_size": block_size,
        "tokenizer": tokenizer,
        "format": "parquet",
        "positions": bool(positions),
    }
    manifest = None
    if resume:
        try:
            manifest = BuildManifest.load(index_dir, allow_partial=True)
        except IndexFormatError:
            # a partial/committed manifest from an incompatible layout
            # version must never seed stage-skips (fingerprints don't
            # encode the doc_id mapping) — fall through to a fresh
            # build, which rmtree's the old layout below
            manifest = None
        if manifest is not None and any(
            manifest.config.get(k) != v for k, v in requested_cfg.items()
        ):
            # stage fingerprints are corpus-only; a partial built under
            # a DIFFERENT config (chunk_span/tokenizer/positions/...)
            # must never be stage-skipped into the new config's index —
            # doclens arrays at the old span would silently mis-score
            # every query. Discard the partial, build fresh.
            manifest = None
    if manifest is None:
        if os.path.exists(index_dir):
            shutil.rmtree(index_dir)
        manifest = BuildManifest(index_dir)
    manifest.config = requested_cfg
    manifest.save_partial()

    # ---------------------------------------------------------- stage: docs
    # Round 5 (VERDICT.md r4 #4): when the corpus already carries
    # doc_id, the docs/doclens writes share NOTHING with the postings
    # exchange — they are an independent DAG branch. Running them in a
    # pyspark.InheritableThread (job group + cancellation inherit)
    # overlaps the registry write with the postings shuffle: the small
    # stages' scheduling gaps and single-wave straggler tails fill with
    # postings tasks instead of idling cores. Work is identical either
    # way (index bytes unchanged); only the schedule changes — and the
    # fixed per-build serial tail, which §4.6 measured as the scaling
    # limiter at 4x cores, shrinks by the docs-stage wall. The thread
    # never touches the manifest (no partial-JSON races): results ride
    # a holder and the MAIN thread records the stage after join.
    def _docs_stage_body(base_df) -> dict:
        t0 = time.time()
        docs = conform(
            with_doc_length(with_content_hash(base_df), tokenizer), DOCS_SCHEMA
        )
        # 2x parallelism: multiple waves per level even when the plan
        # width equals the big level's core count (a single wave has
        # zero straggler slack — measured 2.15x docs-stage scaling on a
        # 4x core step with exactly-cores write tasks)
        parts = doc_id_partitions or 2 * par
        # Chunk-hash exchange, NOT repartitionByRange: the range
        # partitioner runs a sampling pre-pass that executes this whole
        # child — corpus scan + sha256 + doc-length tokenize — a second
        # time just to pick bounds over dense integer ids (measured ~2x
        # the stage wall). Hashing on chunk keeps every output file a
        # union of complete chunk_span doc_id ranges, sorted within, so
        # row-group min/max pruning on doc_id still works; only global
        # file disjointness is lost, which no reader relies on.
        # corpus stats ride the write itself (CollectMetrics below the
        # partition-local sort) — one scan and one job fewer per build
        # than a separate read-back agg
        by_chunk = (F.col("doc_id") / chunk_span).cast("long")
        n_docs, total_dl = _write_docs_partitioned(
            docs.repartition(parts, by_chunk), paths.docs
        )
        docs_on_disk = read_segments(spark, [paths.root], "docs")

        # doclens: dense per-chunk int32 dl arrays. The mapping is
        # 0-based (chunk = doc_id // span, position = doc_id % span) so
        # ANY non-negative id space works — 0-based driver tables and
        # the 1-based ids with_doc_ids mints alike; unoccupied positions
        # hold dl=0 and are never referenced (postings carry only real
        # doc_ids).
        @F.pandas_udf("binary")
        def pack_dls(positions: pd.Series, dls: pd.Series) -> pd.Series:
            out = []
            for pos, dl in zip(positions, dls):
                pos = np.asarray(pos, dtype=np.int64)
                arr = np.zeros(int(pos.max()) + 1, dtype=np.int32)
                arr[pos] = np.asarray(dl, dtype=np.int32)
                out.append(arr.tobytes())
            return pd.Series(out)

        chunked = (
            docs_on_disk.select(
                (F.col("doc_id") / chunk_span).cast("long").alias("chunk"),
                (F.col("doc_id") % chunk_span).alias("pos"),
                "dl",
            )
            .groupBy("chunk")
            .agg(
                F.sort_array(F.collect_list(F.struct("pos", "dl"))).alias("pd")
            )
            .select(
                "chunk",
                pack_dls(
                    F.col("pd").getField("pos"), F.col("pd").getField("dl")
                ).alias("dls"),
            )
        )
        write_doclens(chunked, paths.doclens)
        return {
            "stats": CorpusStats.combine(n_docs, total_dl).to_dict(),
            "rows": n_docs,
            "bytes": dir_bytes(paths.docs) + dir_bytes(paths.doclens),
            "wall_s": time.time() - t0,
        }

    docs_thread = None
    docs_result: dict = {}

    def _record_docs(res: dict) -> None:
        manifest.stats = res["stats"]
        manifest.record_stage(
            "docs", fingerprint, rows=res["rows"],
            bytes=res["bytes"], wall_s=res["wall_s"],
        )

    if not (resume and manifest.stage_done("docs", fingerprint)):
        if "doc_id" in corpus.columns:
            from pyspark import InheritableThread

            def _docs_runner():
                try:
                    docs_result["res"] = _docs_stage_body(corpus)
                except BaseException as exc:  # surfaced at join
                    docs_result["err"] = exc

            docs_thread = InheritableThread(target=_docs_runner)
            docs_thread.start()
        else:
            # ids are minted by the docs write and re-read from disk by
            # the postings stage below — a real dependency, so this
            # path stays sequential
            _record_docs(_docs_stage_body(with_doc_ids(corpus)))

    # the postings stage runs while the docs branch is in flight; a
    # failure here must not leave that thread writing into the index
    # dir (a clean rebuild into the same dir would race it), and a
    # docs-branch failure is chained onto the error the caller sees
    try:
        # ------------------------------------------------- stage: postings (per group)
        base = corpus if "doc_id" in corpus.columns else None
        if base is None:
            # re-derive ids by joining the persisted docs (resume-safe: ids
            # come from disk, not from a recomputed shuffle)
            docs_ids = read_segments(spark, [paths.root], "docs").select(
                "doc_id", "repo", "path", "commit"
            )
            base = corpus.join(docs_ids, ["repo", "path", "commit"])

        # positional builds carry the token's in-doc position through the
        # SAME single exchange — no second tokenize pass; the only extra agg
        # state is collect_list(pos) per (term, doc)
        tok = (
            P.tokens_pos(base, tokenizer) if positions else P.tokens(base, tokenizer)
        ).withColumn("bucket", bucket_col(F.col("term"), num_buckets))

        encode = _encode_udf(block_size)
        enc_pos = _encode_positions_udf() if positions else None
        tf_aggs = [F.count("*").cast("int").alias("tf")]
        if positions:
            tf_aggs.append(F.sort_array(F.collect_list("pos")).alias("_poss"))
        pstruct = (
            F.struct("doc_id", "tf", "pb") if positions else F.struct("doc_id", "tf")
        )
        for g in range(bucket_groups):
            stage = f"postings-{g}/{bucket_groups}"
            if resume and manifest.stage_done(stage, fingerprint):
                continue
            tg = time.time()
            part = tok if bucket_groups == 1 else tok.where(
                F.col("bucket") % bucket_groups == g
            )
            # ONE shuffle for the whole postings pipeline, keyed on
            # (bucket, chunk). Both are grouping keys of BOTH aggregations
            # below, so the exchange satisfies their clustering
            # requirements and tf counting, posting-list collection and
            # encode all run exchange-free on top of it; only the encoded
            # rows go through write_postings' cheap bucket exchange, which
            # gives one file per bucket. (Measured against the
            # two-exchange variant — partial-agged tf shuffle + bucket
            # repartition — the fused plan is ~3x faster at the
            # quiet-machine floor.)
            #
            # Caveat for network-bound clusters: the fused exchange moves
            # RAW token rows, i.e. ~avg-tf times more shuffle bytes than
            # the two-exchange variant's map-side-combined (term, doc, tf)
            # rows. On local mode (in-memory shuffle) the byte volume is
            # nearly free and task-launch overhead dominates, which is why
            # fused wins 3x here; where shuffle BYTES are the bottleneck,
            # build with postings_exchange="combined" (byte-identical
            # output, pinned by test).
            #
            # chunk in the shuffle key is what makes the doc-range salt
            # real: keyed on bucket alone, every chunk of a hot term
            # ('import'-class, present in nearly all docs) lands on ONE
            # reducer, and with only ~cores/num_buckets task waves the
            # hot-bucket straggler dominates the stage tail as cores grow
            # (measured: the local[2]->local[8] scaling collapse). Salting
            # by chunk bounds any reducer's share of one term to
            # chunk_span docs, so reduce-side work stays balanced at any
            # cluster size. Partition count scales with cores (floor
            # num_buckets) and is explicit, which also pins AQE.
            n_shuffle = max(num_buckets, 8 * par)
            chunked_tok = part.withColumn(
                "chunk", (F.col("doc_id") / chunk_span).cast("long")
            )
            if postings_exchange == "combined":
                # map-side partial count combines (term, doc) occurrences
                # BEFORE any exchange (Catalyst's partial/final agg pair
                # around the hash exchange on the full grouping key), then
                # the explicit (bucket, chunk) repartition — carrying only
                # combined rows — restores the salted clustering the
                # posting-list agg and partitioned write run on exchange-free
                tf_rows = chunked_tok.groupBy(
                    "bucket", "chunk", "term", "doc_id"
                ).agg(*tf_aggs)
                pre = tf_rows.repartition(n_shuffle, "bucket", "chunk")
            else:
                pre = (
                    chunked_tok.repartition(n_shuffle, "bucket", "chunk")
                    .groupBy("bucket", "chunk", "term", "doc_id")
                    .agg(*tf_aggs)
                )
            if positions:
                # encode each pair's position list to varint bytes BEFORE
                # the posting-list collect so the second agg's state holds
                # compact binaries, not int arrays
                pre = pre.withColumn("pb", enc_pos(F.col("_poss"))).drop("_poss")
            chunk_rows = (
                pre.groupBy("bucket", "term", "chunk")
                .agg(
                    F.sort_array(F.collect_list(pstruct)).alias("p"),
                )
                .select(
                    "bucket",
                    "term",
                    "chunk",
                    F.size("p").alias("n_docs"),
                    F.aggregate(
                        F.col("p").getField("tf"),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + x,
                    ).alias("sum_tf"),
                    F.array_max(F.col("p").getField("tf")).alias("max_tf"),
                    encode(
                        F.col("p").getField("doc_id"), F.col("p").getField("tf")
                    ).alias("blocks"),
                    *(
                        [
                            F.arrays_zip(
                                F.col("p").getField("doc_id"),
                                F.col("p").getField("pb"),
                            )
                            .cast(PLISTS_SCHEMA)
                            .alias("plists")
                        ]
                        if positions
                        else []
                    ),
                )
            )
            write_postings(
                chunk_rows, paths.postings, num_buckets, mode="append"
            )
            manifest.record_stage(
                stage, fingerprint,
                # cumulative across bucket groups (dirs append per group)
                bytes=dir_bytes(paths.postings),
                wall_s=time.time() - tg,
            )

        # ------------------------------------- stage: postings layout record
        # write_postings leaves one file per bucket; the record keeps
        # the file counts and bytes on the manifest for benchmarks and
        # operators
        if not (resume and manifest.stage_done("postings-compact", fingerprint)):
            tc = time.time()
            fcounts = _postings_file_counts(paths.postings)
            manifest.record_stage(
                "postings-compact", fingerprint,
                files_total=sum(fcounts.values()),
                files_per_bucket_max=max(fcounts.values()) if fcounts else 0,
                n_bucket_dirs=len(fcounts),
                bytes=dir_bytes(paths.postings),
                wall_s=time.time() - tc,
            )
    except BaseException as exc:
        if docs_thread is not None:
            docs_thread.join()
            if "err" in docs_result:
                raise exc from docs_result["err"]
        raise

    # docs branch joins here: stats must land before the terms stage
    # merges n_terms into them, and any failure in the branch must fail
    # the build before commit
    if docs_thread is not None:
        docs_thread.join()
        if "err" in docs_result:
            raise docs_result["err"]
        _record_docs(docs_result["res"])

    # --------------------------------------------------------- stage: terms
    if not (resume and manifest.stage_done("terms", fingerprint)):
        tt = time.time()
        n_terms = write_terms(spark, paths, num_buckets, par)
        manifest.stats = {**manifest.stats, "n_terms": n_terms}
        manifest.record_stage(
            "terms", fingerprint, rows=n_terms,
            bytes=dir_bytes(paths.terms), wall_s=time.time() - tt,
        )

    manifest.commit()
    return manifest
