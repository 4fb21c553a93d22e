"""Disk-index query engine: exact/prefix/OR/AND retrieval, BM25,
bounded top-k.

The Spark replacement for the reference's query side
(reference engine/src/main/java/org/search/engine/search/SimpleSearchManager.java:50-85
and tree getValue, tree/SearchEngineConcurrentTree.java:163-195), extended
with the north-star BM25 ranking the reference lacks.

Query lifecycle (SURVEY.md §3.1 Spark plan):

  1. term-dictionary lookup (tiny: df per query term; prefix queries
     expand to the matching dictionary range) -> driver. Zero jobs
     from the cached dictionary; otherwise ONE filtered terms/ scan
     with no shuffle, merged across segments on the driver.
  2. idf computed driver-side (a few floats)

  When Σ df ≤ ``_LOCAL_MAX_POSTINGS`` (2^21) and the matched rows touch
  ≤ ``_LOCAL_MAX_CHUNKS`` chunks, the rest runs on the driver with no
  Spark job: pyarrow reads the matched blocks and their ``n_docs``
  (df is their sum, so idf needs no metadata) from the routed bucket
  files of each segment (``build.read_postings_local``). One columnar
  pass decodes every matched block from the Arrow buffers
  (``codec.decode_column``) and scores all touched chunks in one span
  buffer with one tie-kept cut, bit-identical to the other paths
  (``kernel.py`` says why). The result frame holds its (doc_id, score,
  rank) rows on the driver (``frames.literal_frame``) and answers
  ``collect``, ``limit`` and ``schema`` from them, so collecting a warm
  local query's result sends nothing to the JVM. Past the
  full-dictionary cap an exact/OR/AND query skips the lookup: the
  cached df ≥ T dictionary head bounds its Σ df and
  ``build.bucket_of`` routes its terms (``_DICT_CACHE_CAP``). A warm
  exact/OR/AND local query, a missing-term one included, therefore
  costs 0 jobs whether or not the full dictionary fits. Prefix/contains
  queries past the cap keep only the lookup's terms/ scan (its
  limited collect may take a second job). Only larger queries
  take the distributed plan below. Measured crossover, OR queries,
  270k docs in 17 chunks, 4 cores, raw ms, identical top-k (rows to
  1.03M on serve_scale; 2.05M and 4.02M on the same corpus generator
  at 20 words per doc, 3 runs each). The local column was measured
  when a Spark collect fetched the postings rows. The pyarrow read
  fetches a mid query's 85 rows in 17-27 ms against the collect's
  155-270 ms, and a hot query's 102 rows in 45-48 against 185-300 ms
  (same host, 7 warm runs each). The 2^21 gate is left where this
  table put it:

      Σ df    local        distributed
      82k     268-363      784-941
      282k    559          1411
      563k    660          1440
      1.03M   960          1660
      2.05M   1018-1170    1404-1630
      4.02M   2047-2169    2078-2206

  3. postings scan: ``bucket`` partition pruning + ``term`` predicate
     pushed to parquet, so only query-term rows are ever deserialized
  4. per-chunk numpy scoring inside ``applyInPandas`` (Arrow batches,
     no per-row Python), emitting ≤k local winners per chunk. Every
     scoring path — this one, the driver-local path and
     ``search_many`` — runs the one chunk kernel in ``kernel.py``
  5. global TakeOrderedAndProject, collected -> (doc_id, score, rank)
     rows held on the driver by ``frames.literal_frame``; its
     ``LocalRelation`` is built only if the caller uses the result as a
     Spark input (a join, union, ``orderBy``, ``count`` …)

Scale: every stage's volume is bounded by (query terms × matched
chunks), never by corpus size; the only exchange after the scan is the
chunk-grouped shuffle of already-filtered postings rows.
"""

from __future__ import annotations

import bisect
import functools
import hashlib
import json
import math
import os
import threading
from collections import Counter, OrderedDict
from contextlib import contextmanager
from typing import Dict, Iterable, List, NamedTuple, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import kernel
from .build import (
    IndexPaths,
    bucket_of,
    job_group,
    read_postings_local,
    read_segments,
    read_tombstones,
    tombstones_by_chunk,
)
from .checkpoint import MANIFEST, BuildManifest
from .codec import (
    decode_blocks,
    decode_column,
    decode_positions,
    decode_rows,
)
from .frames import RESULT_FIELDS, literal_frame
from .pipeline import (
    AND_MATCH,
    CONTAINS_MATCH,
    EXACT_MATCH,
    START_WITH,
    WITH_SUGGESTIONS,
)
from .stats import CorpusStats

# expansions up to this size are collected in one job (driver-side
# metadata); beyond it the metadata stays fully distributed
_META_COLLECT_CAP = 1024
# driver-local path: when the term lookup proves the total matched
# postings (Σ df) and touched chunk count are bounded, the matched
# posting rows are read on the driver with pyarrow and scored in numpy
# — no Spark job. With a Spark collect fetching the rows it beat the
# distributed plan in every run up to Σ df 2.05M and tied it at 4.02M
# (module docstring), so the gate is the largest power of two below
# 4M; queries past it stay distributed. The cheaper read moves that
# crossover up, but the gate stays until it is measured again. Each 1M
# postings (~3 B of varint bytes + 16 B decoded each) holds ~25 MB of
# driver memory, so ~50 MB at the gate, plus 64 doclen chunks × 64 KiB.
_LOCAL_MAX_POSTINGS = 1 << 21
_LOCAL_MAX_CHUNKS = 64
# search_phrase's local gate: its collect holds per-(term, doc) plists
# rows, not blocks, so it keeps the smaller bound
_PHRASE_LOCAL_MAX_POSTINGS = 65_536
# driver-side cap on COLLECTED PHRASE POSITIONS (Σ df·max_tf over the
# phrase's terms): ~4 M int32 positions ≈ tens of MB of Row overhead,
# the same order of driver memory the _search_local gates allow
_LOCAL_MAX_POSITIONS = 4_000_000
# Driver-side data a reader loads — each segment's term dictionary (or
# its df ≥ T head), each segment's doclens arrays and a snapshot's
# tombstone arrays — lives in ONE process-wide cache, ``_SEGMENT_CACHE``,
# shared by every reader. A segment's entries are keyed on (its absolute
# path, the SHA-256 of its manifest.json bytes), a tombstone dir's on the
# snapshot's manifest the same way, so a reader of a new snapshot loads
# only the segments (and tombstones) no earlier reader loaded, and a
# rebuild into the same path — a new manifest — never reads old entries.
# The cache holds numpy arrays and dicts, never DataFrames, and is an LRU
# bounded by ``_SEGMENT_CACHE_BYTES`` of estimated driver memory. What
# may load is still hard-gated, so a 10^12-file index never tries to
# pull cluster-scale state onto the driver:
#   * term dictionary — every segment's, iff Σ n_terms over the
#     segments (their manifests record it) ≤ cap (~25 MB at the cap); a
#     warm exact/prefix lookup then costs ZERO Spark jobs instead of one
#     terms scan per query. Past the cap each segment's terms/ rows with
#     df ≥ T load instead, T = max(2, ⌈total_dl / cap⌉): Σ df ≤ total_dl,
#     so at most cap rows qualify (a limit(cap+1) guard catches the
#     tombstone-inflated case and loads nothing). A term without a head
#     row in a segment has df ≤ T−1 there, so the heads bound an
#     exact/OR/AND query's Σ df with no terms/ job, and rare terms are
#     routed to their bucket by ``build.bucket_of``: such a query runs
#     no Spark job, as with the full dictionary. The head path stops
#     applying once (T−1) × the number of rare query terms exceeds the
#     2^21 local gate: roughly total_dl > 1.1·10^11 for 5-term queries
#     (T > 419,431, times 2^18).
#   * doclens — per-(segment, chunk) float64 arrays, loaded for the
#     chunks a query touches.
#   * deletes — chunk → sorted doc_id arrays iff |deletes| ≤ cap.
# Entries never go stale: maintain/compact/streaming always publish NEW
# index directories (copy-on-write), and an open reader's files are
# immutable.
_DICT_CACHE_CAP = 1 << 18
_DELS_CACHE_CAP = 2_000_000
_SEGMENT_CACHE_BYTES = 256 << 20
# the most doclens chunks a driver-local phrase finish reads
_PHRASE_LOCAL_MAX_CHUNKS = 512

_DOCS_TERMS_FIELDS = [("doc_id", "long"), ("term", "string"), ("tf", "int")]
_META_FIELDS = [("term", "string"), ("idf", "double")]

_LOCAL_SCHEMA = "doc_id long, score double"
_MULTI_LOCAL_SCHEMA = "query_id string, " + _LOCAL_SCHEMA


_MISS = object()


class _SegmentCache:
    """The process-wide LRU of driver-side index data (see above),
    bounded by the estimated bytes of its entries. Keys are tuples
    ``(kind, owner, ...)`` whose owner is (absolute path, manifest
    SHA-256); an owner without a manifest hash is never stored. Lookups
    and stores take a short lock; loads run one at a time under
    ``load_lock``, so concurrent readers never load one entry twice.
    ``loads`` counts the entries stored per (kind, owner path)."""

    def __init__(self, max_bytes: int):
        self.max_bytes = max_bytes
        self.load_lock = threading.RLock()
        self._lock = threading.Lock()
        self._entries: "OrderedDict[tuple, Tuple[object, int]]" = OrderedDict()
        self._bytes = 0
        self.loads: "Counter[Tuple[str, str]]" = Counter()

    def get(self, key: tuple):
        """The entry's value (most recently used now), or ``_MISS``."""
        with self._lock:
            hit = self._entries.get(key)
            if hit is None:
                return _MISS
            self._entries.move_to_end(key)
            return hit[0]

    def put(self, key: tuple, value, nbytes: int) -> None:
        """Store a loaded entry, then evict least recently used entries
        until the bound holds."""
        with self._lock:
            self.loads[(key[0], key[1][0])] += 1
            if key[1][1] is None:
                return
            old = self._entries.pop(key, None)
            if old is not None:
                self._bytes -= old[1]
            self._entries[key] = (value, nbytes)
            self._bytes += nbytes
            while self._bytes > self.max_bytes and self._entries:
                self._bytes -= self._entries.popitem(last=False)[1][1]

    def fetch(self, keys: List[tuple], load) -> Dict[tuple, object]:
        """{key: value} for ``keys``: the cached ones, and the rest from
        ``load(missing keys)`` -> {key: (value, nbytes)}."""
        out = {k: v for k in keys if (v := self.get(k)) is not _MISS}
        if len(out) < len(keys):
            with self.load_lock:
                out.update(
                    {k: v for k in keys if k not in out
                     and (v := self.get(k)) is not _MISS}
                )
                missing = [k for k in keys if k not in out]
                if missing:
                    for k, (v, n) in load(missing).items():
                        self.put(k, v, n)
                        out[k] = v
        return out

    def clear(self) -> None:
        with self._lock:
            self._entries.clear()
            self._bytes = 0
            self.loads.clear()


_SEGMENT_CACHE = _SegmentCache(_SEGMENT_CACHE_BYTES)

# estimated driver bytes per cached dictionary / head entry (dict slot,
# term string, value tuple, its place in the sorted term list)
_DICT_ENTRY_BYTES = 250
_HEAD_ENTRY_BYTES = 150
_ARRAY_ENTRY_BYTES = 100  # per cached numpy array, beyond its data


def _owner(root: str) -> Tuple[Tuple[str, Optional[str]], dict]:
    """(absolute path, SHA-256 of its manifest.json bytes) — the cache
    owner key of a segment or snapshot — and the parsed manifest; the
    hash is None and the manifest {} when the file cannot be read."""
    root = os.path.abspath(root)
    try:
        with open(os.path.join(root, MANIFEST), "rb") as f:
            raw = f.read()
    except OSError:
        return (root, None), {}
    return (root, hashlib.sha256(raw).hexdigest()), json.loads(raw)


class _SegDict:
    """One segment's term dictionary: term -> (df, max_tf, bucket), and
    its terms sorted, computed on first use (prefix lookups only)."""

    __slots__ = ("terms", "_sorted")

    def __init__(self, terms: Dict[str, Tuple[int, int, int]]):
        self.terms = terms
        self._sorted: Optional[List[str]] = None

    def sorted_terms(self) -> List[str]:
        if self._sorted is None:
            self._sorted = sorted(self.terms)
        return self._sorted


def search_job_group(tag: str) -> str:
    """Job-group id under which a tagged search's Spark jobs run."""
    return f"spark_search-search-{tag}"


@contextmanager
def search_group(spark: SparkSession, tag: str):
    """Run a search (and the action that consumes it) under a
    cancellable job group — the Q8 cancel-search surface.

    The reference cancels an in-flight search by flipping an
    ``isCanceled`` flag that short-circuits its row-verification scan
    and result emission (reference
    search/SimpleSearchManager.java:87-89,188,76). The Spark analog is
    job-group cancellation: every job submitted from this thread while
    the context is open (dictionary lookups, postings scan, the final
    collect) belongs to ``search_job_group(tag)``, and
    ``cancel_search(spark, tag)`` from any other thread aborts them
    all. The index is read-only, so cancellation needs no cleanup —
    the caller just sees the cancellation error.

        with search_group(spark, "ui-42"):
            rows = reader.search(terms, mode, k=10).collect()

    Job groups are thread-local: open the context in the thread that
    runs the search. On exit the thread's previous job group is back.
    """
    with job_group(
        spark, search_job_group(tag), f"spark_search search {tag}"
    ) as group:
        yield group


def cancel_search(spark: SparkSession, tag: str) -> None:
    """Abort the search tagged ``tag`` (opened via ``search_group``).
    Thread-safe; a no-op if the search already finished.

    A search is a SEQUENCE of jobs (dictionary lookup, postings scan,
    collect), so like the reference's ``isCanceled``
    flag — which is checked between pipeline steps — cancellation must
    also stop the steps not yet submitted: on Spark ≥ 4 the group is
    marked cancelled for future jobs too (the JVM's
    ``cancelJobGroupAndFutureJobs``), which means a tag is single-use —
    pick a fresh tag per search, as the reference constructs a fresh
    task per search. Falls back to active-jobs-only cancellation where
    the API is unavailable."""
    group = search_job_group(tag)
    sc = spark.sparkContext
    try:
        sc._jsc.sc().cancelJobGroupAndFutureJobs(group)
    except Exception:
        sc.cancelJobGroup(group)


def _term_predicate(qterms: List[str], mode: str):
    """The query's (small, bounded-size) term predicate — pushed into
    the parquet scan on both the dictionary and the postings.
    START_WITH pushes as StringStartsWith (min/max-prunable on the
    term-sorted files); CONTAINS_MATCH pushes as StringContains
    (row-level only — substring queries cannot range-prune, the
    dictionary scan is their floor cost)."""
    if mode in (START_WITH, CONTAINS_MATCH):
        cond = None
        for q in qterms:
            c = (
                F.col("term").startswith(q)
                if mode == START_WITH
                else F.col("term").contains(q)
            )
            cond = c if cond is None else (cond | c)
        return cond
    return F.col("term").isin(qterms)


def _check_k(k: int) -> None:
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")


def _idf(n_docs: float, df: float) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _merge_segments(rows) -> Dict[str, List[int]]:
    """term -> [df, max_tf, bucket] from per-segment (term, df, max_tf,
    bucket) rows: df sums and max_tf maxes across the segments a term
    appears in. df counts tombstoned docs until compact() — the
    standard Lucene-style staleness, exact again after segment merge."""
    agg: Dict[str, List[int]] = {}
    for term, df, max_tf, bucket in rows:
        cur = agg.get(term)
        if cur is None:
            agg[term] = [int(df), int(max_tf), int(bucket)]
        else:
            cur[0] += int(df)
            cur[1] = max(cur[1], int(max_tf))
    return agg


def _levenshtein_within(a: str, b: str, max_dist: int) -> bool:
    """True iff levenshtein(a, b) <= max_dist — banded DP, O(len·d)
    per pair. This is the SAME metric as Spark's F.levenshtein and
    DuckDB's levenshtein(), so the cached-dictionary suggest path and
    the distributed fallback can never disagree (equal-length strings
    are NOT Hamming-equivalent past d=1: 'part'/'arts' is Levenshtein 2,
    Hamming 4)."""
    if a == b:
        return True
    la, lb = len(a), len(b)
    if abs(la - lb) > max_dist:
        return False
    if la == 0 or lb == 0:
        return max(la, lb) <= max_dist
    big = max_dist + 1
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        lo = max(1, i - max_dist)
        hi = min(lb, i + max_dist)
        cur = [big] * (lb + 1)
        cur[0] = i
        if lo > 1:
            cur[lo - 1] = big
        for j in range(lo, hi + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
        if min(cur[lo : hi + 1]) > max_dist:
            return False
        prev = cur
    return prev[lb] <= max_dist


class _Plan(NamedTuple):
    """One search, resolved once by its entry point: how the scored
    hits are cut and which documents may be hits."""

    cut: str = "topk"  # topk | after (cursor) | group (column) | scored
    arg: object = None  # the (score, doc_id) cursor or the group column
    doc_filter: object = None
    exclude: Tuple[str, ...] = ()
    require: Optional[list] = None  # must-group match sets (search_bool)

    @classmethod
    def of(cls, cut, arg, doc_filter=None, exclude_terms=None, require=None):
        excl = tuple(t for t in dict.fromkeys(exclude_terms or []) if t)
        return cls(cut, arg, doc_filter, excl, require or None)

    @property
    def membership(self) -> bool:
        return bool(
            self.doc_filter is not None or self.exclude or self.require
        )

    @property
    def chunk_cut(self) -> bool:
        """Whether each chunk may cut to its k best: a cursor or a group
        needs hits below the global top k, a scored frame all of them."""
        return self.cut == "topk" or (self.cut == "after" and self.arg is None)

    def local_gate(self, local_max_postings) -> int:
        """The caller's driver-local Σ df limit, kept only for a plain
        top-k over the whole corpus: the driver-local path implements
        only the plain cut."""
        plain = self.cut == "topk" and not self.membership
        return (local_max_postings or 0) if plain else 0


def _hits_frame(ids: np.ndarray, scores: np.ndarray, qid=None) -> pd.DataFrame:
    out = {"doc_id": ids, "score": scores}
    return pd.DataFrame(out if qid is None else {"query_id": qid, **out})


def _chunk_of(pdf: pd.DataFrame) -> Tuple[int, np.ndarray]:
    """A chunk group's (chunk, doc lengths)."""
    dls = np.frombuffer(pdf["_dls"].iloc[0], dtype=np.int32)
    return int(pdf["chunk"].iloc[0]), dls.astype(np.float64)


def _kernel_rows(pdf: pd.DataFrame) -> kernel.Rows:
    """A chunk group's postings rows as kernel rows, decoded at once."""
    doc_ids, tfs, offsets = decode_rows(pdf["blocks"])
    return kernel.Rows(
        pdf["term"].to_numpy(dtype=object),
        pdf["idf"].to_numpy(dtype=np.float64),
        pdf["chunk"].to_numpy(dtype=np.int64),
        doc_ids, tfs, offsets,
    )


def _chunk_scorer(span: int, avgdl: float, keep, need=None):
    """``applyInPandas`` body: one chunk's (or one (query_id, chunk)'s)
    ``_kernel_inputs`` rows -> its hits via ``kernel.score``. ``need``
    maps the group's query_id (None for a single query) to its AND term
    count; a query_id column is kept on the output."""

    def body(pdf: pd.DataFrame) -> pd.DataFrame:
        chunk, dls = _chunk_of(pdf)
        qid = pdf["query_id"].iloc[0] if "query_id" in pdf else None
        ids, scores = kernel.score(
            _kernel_rows(pdf), {chunk: dls}, span, avgdl,
            {chunk: pdf["_dels"].iloc[0]},
            {chunk: pdf["_allow"].iloc[0]} if "_allow" in pdf else None,
            need[qid] if need else 0, keep,
        )
        return _hits_frame(ids, scores, qid)

    return body


class IndexReader:
    """Open a committed index directory for querying.

    The analog of the reference's snapshot load (reference
    SearchEngineInitializer.java:116-131) — with an INTENTIONAL delta
    in the failure case: the reference starts EMPTY when any snapshot
    file fails to load and silently reindexes (fine for a desktop app
    watching one folder); this reader RAISES on an uncommitted
    (FileNotFoundError) or version-mismatched (IndexFormatError) index
    instead. At cluster scale a silently-empty index is
    indistinguishable from total data loss to every client and hides
    the storage fault; the atomic manifest-rename commit makes
    "manifest present" equivalent to "index complete", so refusing is
    the snapshot-isolation-correct translation of the reference's
    recovery intent (see README).

    Opening runs no Spark job: sub-dirs are read with their known
    schemas (``build.read_segments``), and the driver-side data queries
    need comes from ``_SEGMENT_CACHE``, shared by every reader, so a
    reader of a snapshot that shares segments with an earlier one loads
    only what changed — Lucene's ``DirectoryReader.openIfChanged`` idea.
    """

    def __init__(self, spark: SparkSession, index_dir: str):
        manifest = BuildManifest.load(index_dir)
        if manifest is None:
            raise FileNotFoundError(
                f"no committed manifest.json under {index_dir}"
            )
        self.spark = spark
        self.paths = IndexPaths(index_dir)
        self.manifest = manifest
        self.stats = CorpusStats.from_dict(manifest.stats)
        cfg = manifest.config
        self.num_buckets = int(cfg["num_buckets"])
        self.chunk_span = int(cfg["chunk_span"])
        self.tokenizer = cfg.get("tokenizer", "standard")
        # multi-segment layout (maintain.upsert_docs appends immutable
        # segments; a fresh build is the single segment = its own root)
        self.segments = [
            os.path.abspath(p) for p in cfg.get("segments", [index_dir])
        ]
        self.deletes_dir: Optional[str] = cfg.get("deletes_dir")
        # tombstone count from the manifest (maintain records it) —
        # gates the per-chunk tombstone broadcast without a job; None
        # on older manifests (treated as unknown = don't force)
        nt = cfg.get("n_tombstones")
        self.n_tombstones: Optional[int] = int(nt) if nt is not None else None
        # True iff every segment's postings rows carry the plists
        # column (build positions=True; upsert/compact inherit the flag)
        self.has_positions = bool(cfg.get("positions", False))
        # cache owners (see _SEGMENT_CACHE): each segment's, and the
        # snapshot's for its tombstones; each segment's vocabulary size
        # from its own manifest gates the dictionary load
        owners = [_owner(p) for p in self.segments]
        self._seg_owners = [o for o, _ in owners]
        self._seg_n_terms = [m.get("stats", {}).get("n_terms") for _, m in owners]
        self._snap_owner = _owner(index_dir)[0]
        # this reader's lazily built DataFrames over the snapshot (the
        # lock lets one reader serve concurrent searches from several
        # driver threads, as LiveResults.refresh does)
        self._df_lock = threading.RLock()
        self._df_cache: Dict[str, DataFrame] = {}

    # ------------------------------------------------------------ pieces

    def _memo(self, name: str, make) -> DataFrame:
        # the files of an open snapshot are immutable, so each frame
        # over them is built (its files listed) once per reader
        with self._df_lock:
            if name not in self._df_cache:
                self._df_cache[name] = make()
            return self._df_cache[name]

    def _multi(self, sub: str) -> DataFrame:
        return self._memo(
            sub,
            lambda: read_segments(
                self.spark, self.segments, sub, self.has_positions
            ),
        )

    def terms_df(self) -> DataFrame:
        return self._multi("terms")

    def postings_df(self) -> DataFrame:
        return self._multi("postings")

    def docs_df(self) -> DataFrame:
        """Live documents: union of segment registries minus deletes —
        the Q4 registry + liveness filter analog (reference
        SimpleSearchManager.java:64-66)."""
        d = self._multi("docs")
        dels = self.deletes_df()
        if dels is not None:
            d = d.join(dels, "doc_id", "left_anti")
        return d

    def doclens_df(self) -> DataFrame:
        return self._multi("doclens")

    def deletes_df(self) -> Optional[DataFrame]:
        """(doc_id) of tombstoned docs, or None. Deleted docs are
        filtered at query time (Lucene-style); stats are corrected at
        delete time, df per term only at compact time."""
        if not self.deletes_dir:
            return None
        return self._memo(
            "deletes", lambda: read_tombstones(self.spark, self.deletes_dir)
        )

    def _dels_by_chunk(self) -> Optional[DataFrame]:
        dels = self.deletes_df()
        if dels is None:
            return None
        return tombstones_by_chunk(dels, self.chunk_span, self.n_tombstones)

    def _allow_by_chunk(
        self, doc_filter=None, exclude_terms=None, require_docs=None
    ) -> DataFrame:
        """(doc_filter, exclude_terms) -> (chunk, _allow): allowed
        positions per chunk, shaped exactly like the doclens arrays —
        one registry scan (the filter predicate pushes down to the
        registry parquet), a map-side (chunk, pos) projection, then one
        small-by-construction aggregation (≤ chunk_span ints per
        group). ``exclude_terms`` anti-joins the registry against the
        excluded terms' match set (the index's own doc-level filter —
        volume Σ df over excluded terms, the distributed NOT). INNER-
        joining this into the scoring stage prunes chunks with no
        allowed docs before any block decode, and no allowed-set ever
        concentrates on the driver."""
        sp = self.chunk_span
        src = self.docs_df()
        if doc_filter is not None:
            flt = (
                F.expr(doc_filter)
                if isinstance(doc_filter, str)
                else doc_filter
            )
            src = src.where(flt)
        ids = src
        for req in (require_docs or []):
            # boolean-query membership: intersect with each must-group's
            # match set (semi join; volume Σ df per group, distributed)
            ids = ids.join(req, "doc_id", "semi")
        if exclude_terms:
            ids = ids.join(
                self.match_docs(list(exclude_terms), EXACT_MATCH),
                "doc_id",
                "left_anti",
            )
        return (
            ids
            .select(
                (F.col("doc_id") / sp).cast("long").alias("chunk"),
                (F.col("doc_id") % sp).cast("int").alias("pos"),
            )
            .groupBy("chunk")
            .agg(F.sort_array(F.collect_list("pos")).alias("_allow"))
        )

    def _meta_frame(self, expansion) -> DataFrame:
        """A collected expansion's (term, idf) as a LocalRelation: the
        driver-computed idf floats every scoring path consumes."""
        n_docs = float(self.stats.n_docs)
        return literal_frame(
            self.spark,
            [(t, _idf(n_docs, float(df_))) for t, df_, _, _ in expansion],
            _META_FIELDS,
        )

    def _meta_scan_df(self, pred, stats) -> DataFrame:
        """Distributed per-term metadata (df, bucket, idf) for
        expansions too wide to collect — a Spark-side idf expression,
        never driver literals."""
        meta = (
            self.terms_df()
            .where(pred)
            .groupBy("term")
            .agg(
                F.sum("df").alias("df"),
                F.first("bucket").alias("bucket"),
            )
        )
        return meta.withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.lit(float(stats.n_docs)) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )

    # --------------------------------------------- driver-side caches

    def _tagged(self, sub: str, idx: List[int]) -> DataFrame:
        """``sub`` of the segments at ``idx``, each row tagged with its
        segment's index (``_seg``): one job loads many segments."""
        return functools.reduce(
            DataFrame.unionByName,
            [
                read_segments(
                    self.spark, [self.segments[i]], sub, self.has_positions
                ).withColumn("_seg", F.lit(i))
                for i in idx
            ],
        )

    def _ensure_dict(self) -> Optional[List[_SegDict]]:
        """Every segment's term dictionary iff the segments' summed
        vocabulary fits the cache gate; one job loads the segments no
        reader has loaded, after which an exact/prefix expansion costs
        zero jobs. Returns None past the cap (corpus-scale indexes keep
        the terms/ lookup; exact/OR/AND queries may skip it through the
        heads, ``_head_bound``) or when a segment's manifest does not
        record its vocabulary size."""
        n_terms = self._seg_n_terms
        if any(n is None for n in n_terms) or sum(n_terms) > _DICT_CACHE_CAP:
            return None
        keys = [("dict", o) for o in self._seg_owners]

        def load(missing):
            idx = [self._seg_owners.index(k[1]) for k in missing]
            by_seg: Dict[int, Dict[str, Tuple[int, int, int]]] = {
                i: {} for i in idx
            }
            for seg, term, df, max_tf, bucket in (
                self._tagged("terms", idx)
                .select("_seg", "term", "df", "max_tf", "bucket")
                .collect()
            ):
                by_seg[seg][term] = (df, max_tf, bucket)
            return {
                k: (_SegDict(by_seg[i]), _DICT_ENTRY_BYTES * len(by_seg[i]))
                for k, i in zip(missing, idx)
            }

        got = _SEGMENT_CACHE.fetch(keys, load)
        return [got[k] for k in keys]

    def _heads(self) -> Optional[Tuple[List[Dict[str, int]], int]]:
        """(each segment's dictionary head: term -> df for its terms/
        rows with df ≥ T, T) — see ``_DICT_CACHE_CAP``. None when the
        full dictionary is cached, or when the heads hold more than cap
        rows together (the snapshot remembers that, so it is probed
        once)."""
        total_dl = self.stats.total_dl
        if (
            self._ensure_dict() is not None
            or total_dl < 0
            or _DICT_CACHE_CAP <= 0
        ):
            return None
        t_min = max(2, -(-total_dl // _DICT_CACHE_CAP))
        over = ("head-over", self._snap_owner, t_min, _DICT_CACHE_CAP)
        if _SEGMENT_CACHE.get(over) is not _MISS:
            return None
        keys = [("head", o, t_min, _DICT_CACHE_CAP) for o in self._seg_owners]

        def load(missing):
            idx = [self._seg_owners.index(k[1]) for k in missing]
            rows = (
                self._tagged("terms", idx)
                .where(F.col("df") >= t_min)
                .select("_seg", "term", "df")
                .limit(_DICT_CACHE_CAP + 1)
                .collect()
            )
            if len(rows) > _DICT_CACHE_CAP:
                return {}
            by_seg: Dict[int, Dict[str, int]] = {i: {} for i in idx}
            for seg, term, df in rows:
                by_seg[seg][term] = df
            return {
                k: (by_seg[i], _HEAD_ENTRY_BYTES * len(by_seg[i]))
                for k, i in zip(missing, idx)
            }

        got = _SEGMENT_CACHE.fetch(keys, load)
        if len(got) < len(keys) or sum(len(h) for h in got.values()) > (
            _DICT_CACHE_CAP
        ):
            _SEGMENT_CACHE.put(over, True, _ARRAY_ENTRY_BYTES)
            return None
        return [got[k] for k in keys], t_min

    def _head_bound(self, qterms: List[str]) -> Optional[int]:
        """Upper bound on an exact/OR/AND query's Σ df from the cached
        dictionary heads (see ``_DICT_CACHE_CAP``): each term counts its
        head df in every segment whose head holds it, and T−1 in every
        other. None when the full dictionary is cached or no head is."""
        got = self._heads()
        if got is None:
            return None
        heads, t_min = got
        return sum(h.get(t, t_min - 1) for t in qterms for h in heads)

    def _dict_expand(
        self, qterms: List[str], mode: str
    ) -> Optional[List[Tuple[str, int, int, int]]]:
        """[(term, df, max_tf, bucket)] from the cached dictionaries, or
        None when uncached. Prefix expansion is a bisect range scan on
        each segment's sorted term list; the matched terms' rows merge
        across segments (``_merge_segments``)."""
        segs = self._ensure_dict()
        if segs is None:
            return None
        if mode == START_WITH:
            hit = set()
            for sd in segs:
                ts = sd.sorted_terms()
                for q in qterms:
                    lo = bisect.bisect_left(ts, q)
                    hi = bisect.bisect_left(ts, q + "\U0010ffff")
                    hit.update(ts[lo:hi])
            matched = sorted(hit)
        elif mode == CONTAINS_MATCH:
            # substring match has no sorted-order structure: one linear
            # pass over the cached vocabulary (bounded by the vocab
            # cache gate; the distributed fallback handles the rest)
            matched = sorted(
                {
                    t
                    for sd in segs
                    for t in sd.terms
                    if any(q in t for q in qterms)
                }
            )
        else:
            matched = [t for t in qterms if any(t in sd.terms for sd in segs)]
        agg = _merge_segments(
            (t, *sd.terms[t]) for t in matched for sd in segs if t in sd.terms
        )
        return [(t, *agg[t]) for t in matched]

    def _expand(
        self, qterms: List[str], mode: str, cap: Optional[int] = None
    ) -> Optional[List[Tuple[str, int, int, int]]]:
        """The query's term expansion [(term, df, max_tf, bucket)]: zero
        jobs from the cached dictionary, else ONE filtered terms/ scan —
        no groupBy, so no shuffle: the per-segment rows are merged on
        the driver with the dictionary cache's own arithmetic
        (``_merge_segments``), in ``_dict_expand``'s order.

        Exact/OR/AND scans are bounded by |qterms| × segments and
        collect whole. With a ``cap``, a prefix/contains scan is
        limited to (cap+1) × segments rows: a term sits at most once
        per segment, so reaching that limit proves more than ``cap``
        distinct terms, and None is returned (the caller keeps that
        expansion distributed, ``_meta_scan_df``)."""
        cached = self._dict_expand(qterms, mode)
        if cached is not None:
            return cached
        # same predicate helper the postings scan pushes — the two
        # must never diverge (metadata lookup and scan see one filter)
        sel = (
            self.terms_df()
            .where(_term_predicate(qterms, mode))
            .select("term", "df", "max_tf", "bucket")
        )
        wide = mode in (START_WITH, CONTAINS_MATCH)
        if wide and cap is not None:
            limit = (cap + 1) * len(self.segments)
            rows = sel.limit(limit).collect()
            if len(rows) >= limit:
                return None
        else:
            rows = sel.collect()
        agg = _merge_segments(rows)
        matched = sorted(agg) if wide else [q for q in qterms if q in agg]
        return [(t, *agg[t]) for t in matched]

    def _doclens_for(self, chunks: List[int]) -> Dict[int, np.ndarray]:
        """chunk -> float64 dl array, from the process-wide cache; one
        doclens scan loads the chunks no reader of these segments has
        loaded (chunks are disjoint across segments by construction).
        The returned arrays are held before any eviction, so a cache
        smaller than one query's chunk set never drops requested data."""
        owners = self._seg_owners
        out: Dict[int, np.ndarray] = {}

        def hits(cs):
            for c in cs:
                for o in owners:
                    v = _SEGMENT_CACHE.get(("doclens", o, c))
                    if v is not _MISS:
                        out[c] = v
                        break
            return [c for c in cs if c not in out]

        missing = hits(chunks)
        if missing:
            with _SEGMENT_CACHE.load_lock:
                missing = hits(missing)
                if missing:
                    tagged = self._memo(
                        "doclens_tagged",
                        lambda: self._tagged("doclens", list(range(len(owners)))),
                    )
                    for seg, c, dls in (
                        tagged.where(F.col("chunk").isin(missing))
                        .select("_seg", "chunk", "dls")
                        .collect()
                    ):
                        arr = np.frombuffer(dls, dtype=np.int32).astype(
                            np.float64
                        )
                        _SEGMENT_CACHE.put(
                            ("doclens", owners[seg], c), arr,
                            arr.nbytes + _ARRAY_ENTRY_BYTES,
                        )
                        out[c] = arr
        return out

    def _dels_cached(self) -> Optional[Dict[int, np.ndarray]]:
        """chunk -> sorted tombstoned doc_ids, cached iff bounded; {} if
        the index has no deletes; None when too many to cache (callers
        fall back to the distributed join)."""
        if not self.deletes_dir:
            return {}
        key = ("dels", self._snap_owner, _DELS_CACHE_CAP)

        def load(_missing):
            rows = self.deletes_df().limit(_DELS_CACHE_CAP + 1).collect()
            if len(rows) > _DELS_CACHE_CAP:
                return {key: (None, _ARRAY_ENTRY_BYTES)}
            span = self.chunk_span
            by_chunk: Dict[int, List[int]] = {}
            for (i,) in rows:
                by_chunk.setdefault(i // span, []).append(i)
            arrays = {
                c: np.array(sorted(v), dtype=np.int64)
                for c, v in by_chunk.items()
            }
            nbytes = sum(a.nbytes + _ARRAY_ENTRY_BYTES for a in arrays.values())
            return {key: (arrays, nbytes + _ARRAY_ENTRY_BYTES)}

        return _SEGMENT_CACHE.fetch([key], load)[key]

    def _dels_for(self, chunks: List[int]) -> Dict[int, np.ndarray]:
        """chunk -> sorted tombstoned doc_ids for ``chunks``: the cached
        arrays, else one collect of those chunks' tombstone lists."""
        cached = self._dels_cached()
        if cached is not None:
            return cached
        dbc = self._dels_by_chunk()
        if dbc is None:
            return {}
        return {
            int(r["chunk"]): np.asarray(r["_dels"], dtype=np.int64)
            for r in dbc.where(F.col("chunk").isin(chunks)).collect()
        }

    def _kernel_inputs(self, post: DataFrame, allow=None) -> DataFrame:
        """Postings rows joined with what the chunk kernel reads besides
        them: the chunk's doclens (``_dls``), its tombstones (``_dels``,
        NULL without any) and, when given, its allowed positions
        (``_allow``, an inner join: chunks without any drop out)."""
        joined = post.join(
            self.doclens_df().withColumnRenamed("dls", "_dls"), "chunk"
        )
        dels = self._dels_by_chunk()
        if dels is not None:
            joined = joined.join(dels, "chunk", "left")
        else:
            joined = joined.withColumn(
                "_dels", F.lit(None).cast("array<long>")
            )
        return joined if allow is None else joined.join(allow, "chunk")

    def match_terms(
        self, terms: Iterable[str], mode: str
    ) -> List[Tuple[str, int, int, int]]:
        """Expand the query against the term dictionary ->
        [(term, df, max_tf, bucket)]. Exact modes are an IN-list point
        lookup; START_WITH is the Q2 prefix range scan (terms/ files are
        term-sorted, so parquet min/max stats prune row groups). Zero
        jobs from the cached dictionary, else one shuffle-free scan;
        df sums across segments (``_merge_segments``)."""
        qterms = list(dict.fromkeys(terms))
        if not qterms:
            return []
        return self._expand(qterms, mode)

    def doc_terms(self, doc_id: int) -> DataFrame:
        """(term, tf) of one document — the O3 reverse lookup (the
        reference BFS-walks its whole tree collecting nodes whose
        docID set contains the id, reference
        tree/SearchEngineConcurrentTree.java:203-233). Here chunk
        pruning reduces the scan to the doc's single chunk, and the
        row's block range [first_doc, last_doc] skips non-covering rows
        before any decode."""
        span = self.chunk_span
        chunk = doc_id // span
        if doc_id in self._dels_for([chunk]).get(chunk, ()):
            return self._no_hits(_DOCS_TERMS_FIELDS[1:])
        target = doc_id

        @F.pandas_udf("int")
        def tf_of(blocks: pd.Series) -> pd.Series:
            """The target's tf in each row; 0 where the row lacks it."""
            ids, tfs, offsets = decode_rows(blocks)
            hit = np.flatnonzero(ids == target)
            tf = np.zeros(len(blocks), dtype=np.int32)
            tf[np.searchsorted(offsets, hit, side="right") - 1] = tfs[hit]
            return pd.Series(tf)

        # JVM-side covering-range prefilter BEFORE the Arrow UDF: blocks
        # are doc-sorted, so a term can contain the doc only if
        # first(blocks).first_doc <= doc <= last(blocks).last_doc —
        # plain codegen struct-field access that drops the (vast)
        # majority of the chunk's vocabulary without shipping their
        # heavy blocks bytes into Python. The UDF then decodes the
        # covering rows in one batched pass.
        covers = (
            (F.element_at(F.col("blocks"), 1)["first_doc"] <= target)
            & (F.element_at(F.col("blocks"), -1)["last_doc"] >= target)
        )
        return (
            self.postings_df()
            .where(F.col("chunk") == chunk)
            .where(F.size("blocks") > 0)
            .where(covers)
            .select("term", tf_of(F.col("blocks")).alias("tf"))
            .where(F.col("tf") > 0)
        )

    # ------------------------------------------------------------- search

    def _no_hits(self, fields=RESULT_FIELDS) -> DataFrame:
        """Typed zero-row result — built at the ``return`` that needs
        it. It holds no rows on the driver, so ``collect``, ``limit``
        and ``schema`` cost no JVM call; its zero-job ``LocalRelation``
        is built only on first JVM use."""
        return literal_frame(self.spark, [], fields)

    def search(
        self,
        terms: Iterable[str],
        mode: str = EXACT_MATCH,
        k: int = 10,
        prune: bool = True,
        local_max_postings: Optional[int] = _LOCAL_MAX_POSTINGS,
        doc_filter=None,
        exclude_terms=None,
    ) -> DataFrame:
        """BM25 top-k -> DataFrame (doc_id, score, rank).

        ``exclude_terms``: documents containing ANY of these terms are
        dropped from the RESULT SET (Lucene NOT / prohibited clauses)
        with the same global-stats filter semantics as ``doc_filter``
        — df/N/avgdl unchanged, so surviving docs keep their scores.
        Resolved through the index itself (match-set anti-join, volume
        Σ df over the excluded terms); composes with ``doc_filter``.

        ``local_max_postings`` gates the driver-local path on the
        query's matched postings Σ df (default ``_LOCAL_MAX_POSTINGS``;
        0/None disables it; the distributed plan is always the
        fallback and produces identical results). ``prune`` is
        accepted for compatibility and ignored: no plan prunes.

        ``doc_filter`` (Column or SQL-expression string over the doc
        REGISTRY columns: repo, path, commit, lang) scopes the result
        set with Lucene filter-query semantics — idf / N / avgdl stay
        corpus-global; only membership changes. Implemented as a
        per-chunk allowed-position list computed from one registry scan
        (the filter predicate pushes down to the registry parquet) and
        joined into the scoring stage exactly like the doclens arrays —
        chunks with no allowed docs drop out of the plan entirely, and
        no allowed-set ever concentrates on the driver."""
        return self._run(
            terms, mode, k, _Plan.of("topk", None, doc_filter, exclude_terms),
            local_max_postings,
        )

    def _run(
        self,
        terms: Iterable[str],
        mode: str,
        k: int,
        plan: "_Plan",
        local_max_postings: Optional[int] = _LOCAL_MAX_POSTINGS,
    ) -> DataFrame:
        """Execute a resolved ``_Plan``: term metadata, then the
        driver-local path or the distributed chunk kernel, then the
        plan's cut. ``local_max_postings`` is an upper limit;
        ``_Plan.local_gate`` turns it off where the plan needs it.
        A negative ``k`` raises ``ValueError`` before any Spark job."""
        _check_k(k)
        qterms = list(dict.fromkeys(terms))
        n_query_terms = len(qterms)
        group = plan.arg if plan.cut == "group" else None
        out_fields = (
            RESULT_FIELDS if group is None
            else [(group, "string")] + RESULT_FIELDS
        )
        if not qterms or k == 0:
            return self._no_hits(out_fields)
        local_max = plan.local_gate(local_max_postings)

        # ---- term metadata. The expansion costs zero jobs with the
        # cached dictionary and one shuffle-free terms scan without it
        # (``_expand``); idf is then computed driver-side in python —
        # the SAME floats both the local path and the distributed
        # scorer consume. A prefix query can expand to millions of
        # dictionary terms at corpus scale; their idf must never become
        # driver-side literals — past the cap only the *bucket list*
        # (bounded by num_buckets) and two counters are ever collected.
        stats = self.stats
        if local_max and mode not in (START_WITH, CONTAINS_MATCH):
            # past the full-dictionary cap: when the dictionary head
            # bounds Σ df within the gate, the query runs no job
            # (bucket_of routes the terms to the bucket files the local
            # read opens, whose n_docs give df). A chunk-gate decline
            # falls through to the lookup + distributed plan.
            bound = self._head_bound(qterms)
            if bound is not None and bound <= local_max:
                out = self._search_local(
                    [(t, bucket_of(t, self.num_buckets)) for t in qterms],
                    mode, k, n_query_terms,
                )
                if out is not None:
                    return out
                local_max = 0
        cap = _META_COLLECT_CAP
        expansion = self._expand(qterms, mode, cap)
        # an expansion too wide for plan literals stays distributed: its
        # per-term idf is computed by a scan + expression
        wide = expansion is None or len(expansion) > cap
        if expansion is not None:
            n_matched = len(expansion)
            buckets = sorted({b for _, _, _, b in expansion})
            total_df = sum(df_ for _, df_, _, _ in expansion)
        else:
            # a prefix/contains expansion proven wider than the cap,
            # never collected. Nothing below needs its exact size or
            # bucket set (a wide mode has no AND gate), so no job
            # counts them: every bucket is a superset the term
            # predicate still narrows
            n_matched, buckets = cap + 1, list(range(self.num_buckets))
        if n_matched == 0 or (mode == AND_MATCH and n_matched < n_query_terms):
            return self._no_hits(out_fields)

        if local_max and not wide and total_df <= local_max:
            out = self._search_local(
                [(t, b) for t, _, _, b in expansion], mode, k, n_query_terms
            )
            if out is not None:
                return out
        # the Spark-side term predicate and metadata are built only now
        # that the distributed plan needs them: even unexecuted, their
        # Columns cost py4j round trips (~9 ms for 5 terms) the local
        # path skips. Bounded-size metadata is broadcast below.
        pred = _term_predicate(qterms, mode)
        meta = (
            self._meta_scan_df(pred, stats) if wide
            else self._meta_frame(expansion)
        )

        # postings scan: bucket partition pruning + the original (small)
        # term predicate pushed to parquet; idf arrives via the join
        post = (
            self.postings_df()
            .where(F.col("bucket").isin(buckets))
            .where(pred)
            .select("term", "chunk", "blocks")
            .join(F.broadcast(meta.select("term", "idf")), "term")
        )
        need_all = mode == AND_MATCH
        if need_all:
            # a chunk missing any query term can't produce an AND match
            w_n = (
                post.groupBy("chunk")
                .agg(F.count("*").alias("_m"))
                .where(F.col("_m") == n_matched)
                .select("chunk")
            )
            post = post.join(F.broadcast(w_n), "chunk")

        joined = self._kernel_inputs(
            post,
            self._allow_by_chunk(plan.doc_filter, plan.exclude, plan.require)
            if plan.membership else None,
        )
        local = joined.groupBy("chunk").applyInPandas(
            _chunk_scorer(
                self.chunk_span, stats.avgdl,
                k if plan.chunk_cut else None,
                {None: n_query_terms} if need_all else None,
            ),
            _LOCAL_SCHEMA,
        )
        if plan.cut == "after" and plan.arg is not None:
            s_a, d_a = plan.arg
            local = local.where(
                (F.col("score") < s_a)
                | ((F.col("score") == s_a) & (F.col("doc_id") > d_a))
            )
        if group is not None:
            from .pipeline import topk_per_query

            scored = local.join(
                self.docs_df().select("doc_id", group), "doc_id"
            )
            cut = topk_per_query(
                scored.select(
                    F.col(group).alias("query_id"), "doc_id", "score"
                ),
                k,
            )
            return cut.select(
                F.col("query_id").alias(group), "doc_id", "score", "rank"
            )
        if plan.cut == "scored":
            # full scored match set as a LAZY frame (multifield combine):
            # no chunk-local cut above, no collect, no literal-frame tail
            # (literal frames are for driver-bounded rows, not k=n_docs)
            return local
        topk = (
            local.orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
            .collect()
        )
        out = [
            (r["doc_id"], float(r["score"]), i + 1) for i, r in enumerate(topk)
        ]
        return literal_frame(self.spark, out, RESULT_FIELDS)

    def search_after(
        self,
        terms: Iterable[str],
        mode: str = EXACT_MATCH,
        k: int = 10,
        after_score: float = None,
        after_doc: int = None,
        doc_filter=None,
        exclude_terms=None,
    ) -> DataFrame:
        """Deep pagination off the index (the Lucene ``searchAfter``
        cursor): the next ``k`` hits strictly after the
        (after_score, after_doc) cursor in (score DESC, doc_id ASC)
        order — rank 1..k within the page. Index search is
        deterministic run-to-run (sorted-term accumulation), so a
        cursor from one page's last row is exact for the next.

        Plan delta vs ``search``: under a cursor the chunk-local cut
        is off (a chunk's k best can all sit above the cursor, so the
        cut could drop exactly the docs the page wants), so scored
        volume is the match set (Σ df) — the same trade
        ``search_grouped`` makes. Declarative twin:
        ``pipeline.bm25_topk_after``."""
        cursor = (
            None
            if after_score is None
            else (
                float(after_score),
                int(after_doc if after_doc is not None else -1),
            )
        )
        return self._run(
            terms, mode, k, _Plan.of("after", cursor, doc_filter, exclude_terms)
        )

    def search_snippets(
        self,
        terms: Iterable[str],
        corpus: DataFrame,
        mode: str = EXACT_MATCH,
        k: int = 10,
        width: int = 3,
        tokenizer: str = "standard",
    ) -> DataFrame:
        """Hit highlighting off the index: top-k (``search``) plus each
        hit's first matched token position and a ±``width``-token
        snippet. On a POSITIONAL index (``build_index(positions=True)``)
        the first position decodes from the plists column — per-query
        tokenization happens ONLY for the k result docs' window text;
        on a positions-free index the k candidates are re-tokenized for
        positions too (the reference's query-time re-scan trade).
        Declarative twin: ``pipeline.snippets`` — identical output
        (scores to float-sum reproducibility, positions exactly).

        Plan: k result ids broadcast everywhere — into the plists scan
        (semi-join before any varint decode); the window-text read goes
        through a literal ``doc_id IN (...)`` predicate pushed to the
        corpus parquet scan (row-group pruning — round 5, the
        pipeline.snippets mirror). Corpus content is never shuffled.

        Runs eagerly: the top-k search executes (and is collected)
        when this method is called; the returned frame's highlight
        pass is still lazy."""
        from .pipeline import _match_filter
        from .tokenizer import tokens_col

        qterms = list(dict.fromkeys(terms))
        snippet_fields = RESULT_FIELDS + [
            ("first_pos", "long"), ("snippet", "string"),
        ]
        if not qterms:
            return self._no_hits(snippet_fields)
        top_rows = self.search(qterms, mode, k=k).collect()
        if not top_rows:
            return self._no_hits(snippet_fields)
        top = literal_frame(
            self.spark,
            [(int(r["doc_id"]), float(r["score"]), int(r["rank"]))
             for r in top_rows],
            RESULT_FIELDS,
        )
        ids = [int(r["doc_id"]) for r in top_rows]
        cand = top.select("doc_id")
        rows = (
            corpus.where(F.col("doc_id").isin(ids))
            .join(F.broadcast(top), "doc_id")
            .select(
                "doc_id", "score", "rank",
                tokens_col(F.col("content"), tokenizer).alias("_arr"),
            )
        )
        if "plists" in self.postings_df().columns:
            meta = self.match_terms(qterms, mode)
            if not meta:
                return self._no_hits(snippet_fields)
            names = [t for t, _, _, _ in meta]
            buckets = sorted({b for _, _, _, b in meta})
            pl = (
                self.postings_df()
                .where(F.col("bucket").isin(buckets))
                .where(F.col("term").isin(names))
                .select(F.explode("plists").alias("e"))
                .select(
                    F.col("e.doc_id").alias("doc_id"),
                    F.col("e.poss").alias("poss"),
                )
                .join(F.broadcast(cand), "doc_id")
            )

            def _minpos(batches):
                for pdf in batches:
                    out_ids: List[int] = []
                    out_p: List[int] = []
                    for d, buf in zip(pdf["doc_id"], pdf["poss"]):
                        p = decode_positions(bytes(buf))
                        if p.size:
                            out_ids.append(int(d))
                            out_p.append(int(p.min()))
                    if out_ids:
                        yield pd.DataFrame(
                            {"doc_id": out_ids, "_p": out_p}
                        )

            first = (
                pl.mapInPandas(_minpos, "doc_id long, _p int")
                .groupBy("doc_id")
                .agg((F.min("_p") + F.lit(1)).cast("long").alias("first_pos"))
            )
        else:
            first = (
                rows.select(
                    "doc_id", F.posexplode("_arr").alias("_p", "term")
                )
                .where(_match_filter(F.col("term"), qterms, mode))
                .groupBy("doc_id")
                .agg((F.min("_p") + F.lit(1)).cast("long").alias("first_pos"))
            )
        start = F.greatest(F.lit(1), F.col("first_pos") - width)
        end = F.col("first_pos") + width
        return (
            rows.join(first, "doc_id")
            .select(
                "doc_id", "score", "rank", "first_pos",
                F.concat_ws(
                    " ", F.slice(F.col("_arr"), start, end - start + F.lit(1))
                ).alias("snippet"),
            )
            .orderBy(F.col("rank").asc())
        )

    def search_grouped(
        self,
        terms: Iterable[str],
        mode: str = EXACT_MATCH,
        k: int = 5,
        group: str = "lang",
        doc_filter=None,
        exclude_terms=None,
    ) -> DataFrame:
        """Diversified results off the index: top-``k`` BM25 hits
        within every value of one REGISTRY column (lang / repo / ...),
        one query -> (group, doc_id, score, rank). The declarative twin
        is ``pipeline.bm25_topk_grouped``; scores are ``search``'s
        (``kernel.py``).

        Plan delta vs ``search``: the chunk-local cut is disabled (it
        could drop a small group's best doc — correctness, not taste),
        so the scored volume is the full match set (Σ df, the
        ``match_docs`` bound); the per-group cut then runs through the
        salted two-phase tournament, never a whole-group sort."""
        return self._run(
            terms, mode, k, _Plan.of("group", group, doc_filter, exclude_terms)
        )

    # ------------------------------------------------ batched queries

    def search_many(
        self,
        queries,
        mode: str = WITH_SUGGESTIONS,
        k: int = 10,
        doc_filter=None,
    ) -> DataFrame:
        """Batched top-k over the disk index: the whole query SET in
        one job -> DataFrame (query_id, doc_id, score, rank).

        The serving pattern at corpus scale is many queries against one
        shared index. Run serially, every query pays its own postings
        scan; batched, the scan runs ONCE for the union of all query
        terms (bucket partition pruning + one IN/prefix predicate pushed
        to parquet). When the term -> query_ids map is derivable
        driver-side (always for exact/OR/AND; for prefix when the
        expansion fits the collect cap) the kernel groups by CHUNK
        alone: each term's blocks shuffle and decode ONCE for the whole
        batch, and its contributions fan out to every query sharing the
        term — decode cost stays O(postings), not O(|queries| x
        postings), which is what makes 100s of registered live queries
        refreshable in one job. Wide uncollected prefix expansions fall
        back to a per-(query_id, chunk) kernel fed by a broadcast
        (query_id, term) join. Per-query exact top-k runs as
        pipeline.topk_per_query's two-phase tournament, so no single
        task ever sorts a hot query's full match set. Scores are
        per-query :meth:`search`'s: the same driver-computed idf floats
        through the same kernel (``kernel.py``).

        ``queries``: {query_id: [terms...]} or a sequence of term lists
        (auto ids q00, q01, ...). ``mode`` applies to the whole batch:
        EXACT_MATCH / WITH_SUGGESTIONS (OR) / AND_MATCH / START_WITH
        (per-query prefix expansion; a term matched by several of one
        query's prefixes scores once). ``doc_filter`` — same Lucene
        filter semantics as :meth:`search`, applied to every query. A
        negative ``k`` raises ``ValueError`` before any Spark job.

        Returns a LAZY distributed frame — batch results are
        |queries|·k rows and need not bottleneck on the driver."""
        from .pipeline import normalize_queries, topk_per_query

        _check_k(k)
        qmap = normalize_queries(queries)
        many_fields = [("query_id", "string")] + RESULT_FIELDS
        # Empty terms can never match as exact terms — kept out of the
        # term map but still counted by AND_MATCH's need (same as
        # search()'s n_query_terms, which counts every deduped input
        # term). Under START_WITH an empty PREFIX matches every term
        # (startswith('') — exactly what search()'s predicate and
        # _dict_expand's full-range bisect do), so it must stay in or
        # the batch diverges from the per-query bit-identical contract.
        keep_empty = mode in (START_WITH, CONTAINS_MATCH)
        pairs = [
            (qid, t)
            for qid, ts in qmap.items()
            for t in ts
            if t or keep_empty
        ]
        if not pairs or k == 0:
            return self._no_hits(many_fields)
        union_terms = sorted({t for _, t in pairs})

        stats = self.stats
        pred = _term_predicate(union_terms, mode)
        # same expansion as search(): collected in zero or one
        # shuffle-free job when small, so the idf floats are the
        # SAME driver-computed values (Python math.log) search() uses
        # (bit-identical contract); wider expansions keep idf
        # distributed and collect only the bounded bucket list
        expansion = self._expand(union_terms, mode, _META_COLLECT_CAP)
        expanded_terms: Optional[List[str]] = None
        if expansion is not None and len(expansion) <= _META_COLLECT_CAP:
            if not expansion:
                return self._no_hits(many_fields)
            buckets = sorted({b for _, _, _, b in expansion})
            expanded_terms = [t for t, _, _, _ in expansion]
            meta = self._meta_frame(expansion)
        else:
            meta = self._meta_scan_df(pred, stats)
            # past the scan limit: every bucket, as in search()
            buckets = (
                sorted({b for _, _, _, b in expansion})
                if expansion is not None
                else list(range(self.num_buckets))
            )

        # term -> [query_ids]: when this map is derivable driver-side
        # (always for exact/OR/AND — the terms ARE the input; for
        # prefix only when the expansion was collected above), the
        # kernel groups by CHUNK alone and fans each term's decoded
        # postings out to every query sharing it — a hot term's block
        # bytes shuffle and decode ONCE for the whole batch, not once
        # per query. Size is bounded by the batch input (or the
        # collected expansion cap).
        q_by_term: Optional[Dict[str, List[str]]] = None
        if mode not in (START_WITH, CONTAINS_MATCH):
            q_by_term = {}
            for qid, t in pairs:
                q_by_term.setdefault(t, []).append(qid)
        elif expanded_terms is not None:
            q_by_term = {}
            hits = (
                (lambda t, q: t.startswith(q))
                if mode == START_WITH
                else (lambda t, q: q in t)
            )
            for t in expanded_terms:
                qids = list(
                    dict.fromkeys(
                        qid for qid, pfx in pairs if hits(t, pfx)
                    )
                )
                if qids:
                    q_by_term[t] = qids

        post = (
            self.postings_df()
            .where(F.col("bucket").isin(buckets))
            .where(pred)
            .select("term", "chunk", "blocks")
        )
        if q_by_term is None:
            # wide-prefix fallback: expand (query_id, term) distributed
            # via a broadcast prefix map; postings rows duplicate per
            # query using them
            qlit = literal_frame(
                self.spark, pairs,
                [("query_id", "string"), ("qterm", "string")],
            )
            qt = (
                meta.select("term", "idf")
                .join(
                    F.broadcast(qlit),
                    F.col("term").startswith(F.col("qterm"))
                    if mode == START_WITH
                    else F.col("term").contains(F.col("qterm")),
                )
                .select("query_id", "term", "idf")
                .dropDuplicates(["query_id", "term"])
            )
            post = post.join(F.broadcast(qt), "term")
        else:
            post = post.join(F.broadcast(meta.select("term", "idf")), "term")

        joined = self._kernel_inputs(
            post,
            self._allow_by_chunk(doc_filter) if doc_filter is not None else None,
        )
        avgdl = stats.avgdl
        span = self.chunk_span
        # AND_MATCH's term count per query, bounded by the batch size
        need = (
            {qid: len(ts) for qid, ts in qmap.items()}
            if mode == AND_MATCH
            else None
        )

        def score_chunk_shared(pdf: pd.DataFrame) -> pd.DataFrame:
            """One chunk, ALL queries: decode the chunk's rows ONCE,
            then score the queries one at a time over their own rows.
            Each query holds only its postings and one span buffer,
            freed before the next: a buffer per query would be
            O(|queries| x chunk_span) per task — ~100 MB per task slot
            at 500 registered queries."""
            chunk, dls = _chunk_of(pdf)
            rows = _kernel_rows(pdf[pdf["term"].isin(list(q_by_term))])
            rows = rows.take(np.argsort(rows.terms, kind="stable"))
            sel_by_q: Dict[str, List[int]] = {}
            for r, t in enumerate(rows.terms):
                for qid in q_by_term[t]:
                    sel_by_q.setdefault(qid, []).append(r)
            dels = {chunk: pdf["_dels"].iloc[0]}
            allow = {chunk: pdf["_allow"].iloc[0]} if "_allow" in pdf else None
            outs = []
            for qid in sorted(sel_by_q):
                ids, sc = kernel.score(
                    rows.take(np.asarray(sel_by_q[qid])), {chunk: dls},
                    span, avgdl, dels, allow, need[qid] if need else 0, k,
                )
                outs.append(_hits_frame(ids, sc, qid))
            if not outs:
                return _hits_frame(np.empty(0, np.int64), np.empty(0), "")
            return pd.concat(outs, ignore_index=True)

        if q_by_term is not None:
            local = joined.groupBy("chunk").applyInPandas(
                score_chunk_shared, _MULTI_LOCAL_SCHEMA
            )
        else:
            local = joined.groupBy("query_id", "chunk").applyInPandas(
                _chunk_scorer(span, avgdl, k, need), _MULTI_LOCAL_SCHEMA
            )
        return topk_per_query(local, k)

    def _search_local(
        self,
        term_buckets: List[Tuple[str, int]],
        mode: str,
        k: int,
        n_query_terms: int,
    ) -> Optional[DataFrame]:
        """Driver-local path: score the matched postings (Σ df within
        ``_LOCAL_MAX_POSTINGS``) driver-side. The (term, bucket) pairs'
        postings rows are read with pyarrow from their bucket dirs
        (``build.read_postings_local``): no Spark job, only a doclens
        scan for chunks not yet cached. The blocks decode in one
        columnar pass (``codec.decode_column``); one kernel call scores
        every touched chunk and cuts once. A term's df is
        the Σ ``n_docs`` of its rows — the integer its terms/ rows hold
        (terms/ aggregates postings), so idf is the lookup's. Returns
        None (caller falls back to the distributed plan) if the
        touched-chunk count would exceed the driver-memory gate."""
        tbl = read_postings_local(self.segments, term_buckets)
        if tbl.num_rows == 0:
            return self._no_hits()
        # rows in term order (a stable sort, on UTF-8 bytes, so in Python's
        # str order): the kernel gathers no postings, and the table is
        # one chunk. A row's term rank keys the kernel's order and its df.
        tbl = tbl.sort_by("term")
        terms, rank = np.unique(tbl.column("term").to_numpy(), return_inverse=True)
        if mode == AND_MATCH and terms.size < n_query_terms:
            return self._no_hits()
        df = np.zeros(terms.size, dtype=np.int64)
        np.add.at(df, rank, tbl.column("n_docs").to_numpy())
        idf = np.array([_idf(float(self.stats.n_docs), float(d)) for d in df.tolist()])
        chunk = tbl.column("chunk").to_numpy()
        chunks = np.unique(chunk).tolist()
        if len(chunks) > _LOCAL_MAX_CHUNKS:
            return None
        ids, scores = kernel.score(
            kernel.Rows(
                rank, idf[rank], chunk, *decode_column(tbl.column("blocks"))
            ),
            self._doclens_for(chunks), self.chunk_span, self.stats.avgdl,
            self._dels_for(chunks),
            need=n_query_terms if mode == AND_MATCH else 0, keep=k,
        )
        return self._ranked_frame(*kernel.topk(ids, scores, k))

    def _ranked_frame(self, ids: np.ndarray, scores: np.ndarray) -> DataFrame:
        """(doc_id, score, rank) of hits already in rank order."""
        return literal_frame(
            self.spark,
            [
                (int(i), float(s), rank + 1)
                for rank, (i, s) in enumerate(zip(ids, scores))
            ],
            RESULT_FIELDS,
        )

    # ----------------------------------------------- suggestion expansion

    def suggest_terms(self, terms: Iterable[str], max_dist: int = 1) -> List[str]:
        """Same-length dictionary terms within ``max_dist`` substitutions
        of any query term — the in-engine analog of the reference's
        Hunspell expansion (suggestions filtered to the query's length,
        each then searched EXACT — reference
        app/.../listener/SearchActionListener.java:44-48). The metric is
        LEVENSHTEIN everywhere (cached python path, distributed
        fallback, pipeline.suggest_terms, DuckDB oracle): equal-length
        strings can still transpose under edit distance ('part' vs
        'arts' is Levenshtein 2 but Hamming 4), so the cached path runs
        a banded O(len·max_dist) DP, not a per-char mismatch count. The
        cached-dictionary path is a zero-job python scan (bounded by
        the vocab cache cap); past the cache gate the expansion runs as
        a distributed length+levenshtein filter over the term-sorted
        dictionary files."""
        qterms = [t for t in dict.fromkeys(terms) if t]
        if not qterms:
            return []
        segs = self._ensure_dict()
        if segs is not None:
            out = set()
            by_len: Dict[int, List[str]] = {}
            for t in {t for sd in segs for t in sd.terms}:
                by_len.setdefault(len(t), []).append(t)
            for q in qterms:
                for t in by_len.get(len(q), ()):
                    if _levenshtein_within(t, q, max_dist):
                        out.add(t)
            return sorted(out)
        cond = None
        for q in qterms:
            c = (F.length("term") == len(q)) & (
                F.levenshtein(F.col("term"), F.lit(q)) <= max_dist
            )
            cond = c if cond is None else (cond | c)
        rows = self.terms_df().where(cond).select("term").distinct().collect()
        return sorted(r["term"] for r in rows)

    def search_suggest(
        self,
        terms: Iterable[str],
        max_dist: int = 1,
        k: int = 10,
        doc_filter=None,
    ) -> DataFrame:
        """WITH_SUGGESTIONS end-to-end on the disk index: dictionary
        expansion (suggest_terms), then the standard OR-union BM25
        search over the expanded list. Terms absent from the index
        contribute nothing, so unioning the originals is a no-op kept
        for fidelity to the reference's query list. ``doc_filter``
        passes through to :meth:`search` (Lucene filter semantics)."""
        qterms = [t for t in dict.fromkeys(terms) if t]
        expanded = sorted(set(qterms) | set(self.suggest_terms(qterms, max_dist)))
        return self.search(expanded, WITH_SUGGESTIONS, k=k, doc_filter=doc_filter)

    def docs_terms(self, doc_ids: Iterable[int]) -> DataFrame:
        """(doc_id, term, tf) for a SET of documents — the O3 reverse
        lookup (:meth:`doc_terms`) generalized to many ids in ONE
        chunk-pruned postings pass. Targets are grouped by chunk; the
        scan reads only those chunks, a broadcast per-chunk [lo, hi]
        bound drops non-covering vocabulary rows JVM-side before the
        Arrow decode (the same codegen prefilter as doc_terms), and the
        decode UDF decodes each batch's rows in one pass and keeps the
        targets' postings. Tombstoned ids are dropped
        up front. Volume is Σ (chunk vocab of the touched chunks),
        independent of how many target docs share a chunk."""
        ids = sorted({int(d) for d in doc_ids})
        if not ids:
            return self._no_hits(_DOCS_TERMS_FIELDS)
        dels = self.deletes_df()
        if dels is not None:
            gone = {
                int(r["doc_id"])
                for r in dels.where(F.col("doc_id").isin(ids)).collect()
            }
            ids = [d for d in ids if d not in gone]
            if not ids:
                return self._no_hits(_DOCS_TERMS_FIELDS)
        span = self.chunk_span
        by_chunk: Dict[int, list] = {}
        for d in ids:
            by_chunk.setdefault(d // span, []).append(d)
        bounds = literal_frame(
            self.spark,
            [(c, min(v), max(v)) for c, v in by_chunk.items()],
            [("chunk", "long"), ("_lo", "long"), ("_hi", "long")],
        )
        post = (
            self.postings_df()
            .where(F.col("chunk").isin(list(by_chunk)))
            .where(F.size("blocks") > 0)
            .join(F.broadcast(bounds), "chunk")
            .where(
                (F.element_at(F.col("blocks"), 1)["first_doc"] <= F.col("_hi"))
                & (F.element_at(F.col("blocks"), -1)["last_doc"] >= F.col("_lo"))
            )
            .select("term", "chunk", "blocks")
        )
        targets = np.asarray(ids, dtype=np.int64)

        def _decode(batches):
            for pdf in batches:
                doc_ids, tfs, offsets = decode_rows(pdf["blocks"])
                hit = np.flatnonzero(np.isin(doc_ids, targets))
                row = np.searchsorted(offsets, hit, side="right") - 1
                yield pd.DataFrame(
                    {
                        "doc_id": doc_ids[hit],
                        "term": pdf["term"].to_numpy(dtype=object)[row],
                        "tf": tfs[hit].astype(np.int32),
                    }
                )

        return post.mapInPandas(_decode, "doc_id long, term string, tf int")

    def search_bool(
        self,
        must: Iterable[Iterable[str]],
        must_not: Iterable[str] = None,
        k: int = 10,
        doc_filter=None,
    ) -> DataFrame:
        """Compound boolean query on the disk index — Lucene
        BooleanQuery semantics, rank/score-identical to
        ``pipeline.bm25_bool_topk`` on a fresh index: a document
        qualifies iff it matches ≥ 1 term of EVERY ``must`` group and
        no ``must_not`` term; the score is the standard OR-union BM25
        over all matched query terms (global stats — membership never
        changes scoring).

        Each must-group's membership resolves through the index's own
        match set (:meth:`match_docs`, Σ df volume) and intersects into
        the per-chunk allowed-position lists the filter channel already
        uses, so chunks with no qualifying docs drop before any block
        decode and no doc set ever concentrates on the driver. The
        driver-local fast path is disabled under the constraint, same
        rule as every filtered search."""
        groups = [
            [t for t in dict.fromkeys(g) if t] for g in (must or [])
        ]
        groups = [g for g in groups if g]
        if not groups:
            return self._no_hits()
        all_terms = list(dict.fromkeys(t for g in groups for t in g))
        require = (
            [self.match_docs(g, EXACT_MATCH) for g in groups]
            if len(groups) > 1
            else None
        )
        return self._run(
            all_terms,
            WITH_SUGGESTIONS,
            k,
            _Plan.of("topk", None, doc_filter, must_not, require),
        )

    def search_prf(
        self,
        terms: Iterable[str],
        k: int = 10,
        fb_docs: int = 5,
        fb_terms: int = 5,
        min_df: int = 2,
        doc_filter=None,
    ) -> DataFrame:
        """Pseudo-relevance feedback on the disk index — the same
        frozen protocol as ``pipeline.bm25_prf_topk`` (rank/score-
        identical on a fresh index by construction):

        1. feedback set = :meth:`search` top ``fb_docs``;
        2. candidate terms from ONE :meth:`docs_terms` pass over the
           feedback docs (never the corpus); weights
           round(Σ_fb tf · idf, 6) with df from the term DICTIONARY
           (zero jobs when the vocab cache holds), df ≥ ``min_df``,
           query terms excluded; top ``fb_terms`` by (wt DESC, term
           ASC);
        3. final = the standard OR search over query ∪ expansion.

        Feedback scope: the feedback docs and the expansion weights
        come from the UNFILTERED corpus; ``doc_filter`` scopes only the
        final search (step 3), with filter-query semantics. The result
        equals ``search(query ∪ unfiltered expansion, doc_filter=…)``,
        and the declarative and indexed forms stay oracle-equal.

        Driver traffic is parameter-bounded (fb ids, the feedback
        vocabulary's aggregated weights, the final top-k). Staleness
        contract: dictionary df counts tombstoned docs until
        ``compact()``, like every dictionary-driven path."""
        qterms = [t for t in dict.fromkeys(terms) if t]
        if not qterms:
            return self._no_hits()
        fb = self.search(qterms, WITH_SUGGESTIONS, k=int(fb_docs)).collect()
        fb_ids = [int(r["doc_id"]) for r in fb]
        if not fb_ids:
            return self._no_hits()
        cand = (
            self.docs_terms(fb_ids)
            .where(~F.col("term").isin(qterms))
            .groupBy("term")
            .agg(F.sum(F.col("tf").cast("double")).alias("_s"))
            .collect()
        )
        if not cand:
            return self.search(
                qterms, WITH_SUGGESTIONS, k=k, doc_filter=doc_filter
            )
        meta = self.match_terms([r["term"] for r in cand], EXACT_MATCH)
        dfm = {t: d for t, d, _, _ in meta}
        n = float(self.stats.n_docs)
        wts = sorted(
            (
                (round(float(r["_s"]) * _idf(n, float(dfm[r["term"]])), 6),
                 r["term"])
                for r in cand
                if r["term"] in dfm and dfm[r["term"]] >= int(min_df)
            ),
            key=lambda p: (-p[0], p[1]),
        )
        sel = qterms + [t for _, t in wts[: int(fb_terms)]]
        return self.search(sel, WITH_SUGGESTIONS, k=k, doc_filter=doc_filter)

    def more_like_this(
        self,
        doc_id: int,
        m_terms: int = 10,
        k: int = 10,
        doc_filter=None,
        min_df: int = 2,
    ) -> DataFrame:
        """Documents most similar to ``doc_id`` — the Lucene
        MoreLikeThis analog on the disk index, rank/score-identical to
        ``pipeline.more_like_this`` over the same corpus (fresh index)
        by construction:

        1. the source doc's (term, tf) rows come from the O3 reverse
           lookup (chunk-pruned, :meth:`doc_terms`) — bounded by one
           document's vocabulary, never the corpus;
        2. df per term from the term dictionary (zero jobs when the
           vocab cache holds) → weights tf·idf rounded to 6dp among
           terms with df ≥ ``min_df`` (Lucene minDocFreq: keeps idf
           dominance from selecting source-only hapaxes that match
           nothing), ordered (wt DESC, term ASC), top ``m_terms``
           selected;
        3. the standard OR-union :meth:`search` over the selected
           terms, with the source doc excluded via the filter channel —
           df/N/avgdl stay corpus-global, so scores are unchanged by
           the exclusion.

        ``doc_filter`` (registry columns) ANDs with the exclusion.
        Staleness contract: after deletes, df from the dictionary
        counts tombstoned docs until ``compact()`` — identical to every
        other dictionary-driven path (match_terms docstring).

        Runs eagerly: the term lookup and the weights pass execute when
        this method is called; the returned frame is the final
        :meth:`search`'s."""
        src = int(doc_id)
        rows = self.doc_terms(src).collect()
        if not rows:
            return self._no_hits()
        meta = self.match_terms([r["term"] for r in rows], EXACT_MATCH)
        dfm = {t: d for t, d, _, _ in meta}
        n = float(self.stats.n_docs)
        wts = sorted(
            (
                (round(int(r["tf"]) * _idf(n, float(dfm[r["term"]])), 6),
                 r["term"])
                for r in rows
                if r["term"] in dfm and dfm[r["term"]] >= int(min_df)
            ),
            key=lambda p: (-p[0], p[1]),
        )
        sel = [t for _, t in wts[: int(m_terms)]]
        if not sel:
            return self._no_hits()
        if doc_filter is None:
            # single-doc exclusion fast path (round 5): filtering ONE
            # doc through the generic registry-filter channel forces an
            # allow-by-chunk registry scan and disables the driver-local
            # path. Fetching k+1 UNFILTERED rows and dropping the source
            # driver-side is exact (the source occupies at most one
            # slot; membership filters never change scores) and keeps
            # every fast path live — measured 1.32 → ~0.9 s warm at
            # sf0.1.
            rows = self.search(sel, WITH_SUGGESTIONS, k=k + 1).collect()
            keep = [r for r in rows if int(r["doc_id"]) != src][:k]
            return literal_frame(
                self.spark,
                [
                    (int(r["doc_id"]), float(r["score"]), i + 1)
                    for i, r in enumerate(keep)
                ],
                RESULT_FIELDS,
            )
        flt = (
            F.expr(doc_filter) if isinstance(doc_filter, str) else doc_filter
        )
        excl = (F.col("doc_id") != F.lit(src)) & flt
        return self.search(sel, WITH_SUGGESTIONS, k=k, doc_filter=excl)

    # ------------------------------------------------- full match sets

    def match_docs(self, terms: Iterable[str], mode: str = EXACT_MATCH) -> DataFrame:
        """The UN-truncated doc-id match set — the reference's actual
        index semantics: ``getValue`` returns the WHOLE docID set, the
        100-cap happens later app-side (reference
        tree/SearchEngineConcurrentTree.java:163-195,
        SimpleSearchManager.java:61-66). Distributed decode: bucket- and
        term-pruned postings scan → Arrow-batched block decode
        (mapInPandas) → doc ids; AND mode keeps docs holding every
        query term (countDistinct over matched terms); tombstoned docs
        are anti-joined out. Volume is Σ df(term), never corpus size."""
        qterms = list(dict.fromkeys(terms))
        expansion = self.match_terms(qterms, mode)
        if not expansion:
            return self._no_hits([("doc_id", "long")])
        if mode == AND_MATCH and len(expansion) < len(qterms):
            return self._no_hits([("doc_id", "long")])
        buckets = sorted({b for _, _, _, b in expansion})
        names = [t for t, _, _, _ in expansion]
        post = (
            self.postings_df()
            .where(F.col("bucket").isin(buckets))
            .where(F.col("term").isin(names))
            .select("term", "blocks")
        )

        def _decode(batches):
            for pdf in batches:
                ids, _, offsets = decode_rows(pdf["blocks"])
                yield pd.DataFrame(
                    {
                        "term": pd.Series(
                            np.repeat(
                                pdf["term"].to_numpy(dtype=object),
                                np.diff(offsets),
                            ),
                            dtype="string",
                        ),
                        "doc_id": ids,
                    }
                )

        decoded = post.mapInPandas(_decode, "term string, doc_id long")
        if mode == AND_MATCH:
            hit = (
                decoded.groupBy("doc_id")
                .agg(F.countDistinct("term").alias("_m"))
                .where(F.col("_m") == len(expansion))
                .select("doc_id")
            )
        else:
            hit = decoded.select("doc_id").distinct()
        dels = self.deletes_df()
        if dels is not None:
            hit = hit.join(dels, "doc_id", "left_anti")
        return hit

    def search_facets(
        self,
        terms: Iterable[str],
        mode: str = EXACT_MATCH,
        facet: str = "lang",
        top_n: Optional[int] = None,
        doc_filter=None,
    ) -> DataFrame:
        """Facet counts over the UN-truncated match set, straight off
        the index: ``match_docs`` (bucket/term-pruned postings decode,
        volume Σ df) equi-joined to the segment REGISTRY — which
        already carries repo/path/commit/lang, so no corpus read
        happens — then a partial+final count per facet value. The
        declarative twin is ``pipeline.facet_counts``; both implement
        the Lucene faceting analog the reference lacks (its Swing
        table renders rows unaggregated). Returns (facet, doc_count),
        doc_count DESC, facet ASC.

        ``doc_filter`` (SQL predicate or Column over registry columns)
        is the faceted-search DRILL-DOWN: counts scoped to the already-
        selected slice — membership-only, applied as a registry-side
        filter before the count (facets have no scores, so this is the
        whole filter semantics)."""
        hit = self.match_docs(terms, mode)
        reg = self.docs_df()
        if doc_filter is not None:
            flt = (
                F.expr(doc_filter)
                if isinstance(doc_filter, str)
                else doc_filter
            )
            reg = reg.where(flt)
        out = (
            reg
            .select("doc_id", facet)
            .join(hit, "doc_id")
            .groupBy(facet)
            .agg(F.count("*").alias("doc_count"))
            .orderBy(F.col("doc_count").desc(), F.col(facet).asc())
        )
        return out.limit(top_n) if top_n else out

    # ------------------------------------------------------ phrase search

    def _positional_occurrences(
        self, phrase: List[str], cand: DataFrame
    ) -> DataFrame:
        """(doc_id, pos) phrase-occurrence starts decoded from the
        index's plists column — the phrase path that never touches
        document content. Volume: the postings scan is bucket-pruned +
        term-pushed like every other query; decoded position rows are
        bounded by Σ cf(term_i) over the CANDIDATE docs only (the
        broadcast semi-join runs before any varint decode)."""
        from .pipeline import _phrase_occurrences

        uniq = list(dict.fromkeys(phrase))
        meta = self.match_terms(uniq, EXACT_MATCH)
        buckets = sorted({b for _, _, _, b in meta})
        pl = (
            self.postings_df()
            .where(F.col("bucket").isin(buckets))
            .where(F.col("term").isin(uniq))
            .select("term", F.explode("plists").alias("e"))
            .select(
                "term",
                F.col("e.doc_id").alias("doc_id"),
                F.col("e.poss").alias("poss"),
            )
            # stale plists entries (maintenance removed the (term, doc)
            # pair from blocks) die here: candidates come from blocks
            .join(F.broadcast(cand), "doc_id")
        )

        def _explode(batches):
            for pdf in batches:
                ids: List[np.ndarray] = []
                terms: List[str] = []
                doc_ids: List[np.ndarray] = []
                for t, d, buf in zip(pdf["term"], pdf["doc_id"], pdf["poss"]):
                    p = decode_positions(bytes(buf))
                    if p.size == 0:
                        continue
                    ids.append(p)
                    terms.extend([t] * p.size)
                    doc_ids.append(np.full(p.size, d, dtype=np.int64))
                if ids:
                    yield pd.DataFrame(
                        {
                            "doc_id": np.concatenate(doc_ids),
                            "term": pd.Series(terms, dtype="string"),
                            "pos": np.concatenate(ids).astype("int32"),
                        }
                    )

        stream = pl.mapInPandas(_explode, "doc_id long, term string, pos int")
        return _phrase_occurrences(stream, phrase)

    def _phrase_local(
        self, phrase: List[str], k: int, max_postings: int
    ) -> Optional[DataFrame]:
        """Driver-local positional phrase fast path — the phrase analog
        of ``_search_local``. When the cached dictionary proves the
        phrase terms' total matched postings (Σ df) is bounded, ONE
        bucket-pruned + term-pushed postings scan collects the terms'
        blocks AND plists; candidate intersection (docs whose blocks
        hold every term), adjacency (position-set shifts), tombstone
        filtering and BM25 scoring all run in numpy. A warm query is
        one tiny scan job + the literal-result plan — no shuffle, no
        window, no Python-worker stage.

        Semantics identical to the distributed positional path by
        construction: candidates come from BLOCKS (stale plists entries
        left by maintenance are inert, maintain.py:506), positions from
        multiple segments union per (term, doc), the phrase scores as
        one pseudo-term with the exact ``bm25_score_col`` float
        arithmetic (pinned by test against the distributed plan and the
        declarative pipeline). Returns None (caller falls back) when
        the dictionary is uncached, Σ df or Σ df·max_tf exceeds its
        gate, tombstones are uncacheably many, or the doclens gate
        trips."""
        uniq = list(dict.fromkeys(phrase))
        expansion = self._dict_expand(uniq, EXACT_MATCH)
        if expansion is None:
            return None
        if len(expansion) < len(uniq):
            return self._no_hits()  # a term absent from the index: no AND match
        # Gate on what the collect actually materializes. Unlike
        # _search_local (blocks only, bytes ~ Σ df), this path pulls
        # POSITION lists: a term contributes up to tf positions per
        # doc, so the driver-held volume is bounded by Σ df·max_tf —
        # dense code tokens (small df, ~1k occurrences/doc) would pass
        # a Σ df gate yet collect orders of magnitude more. max_tf is
        # already in the dictionary, so the tighter bound is free.
        if sum(df_ for _, df_, _, _ in expansion) > max_postings:
            return None
        if sum(df_ * mtf_ for _, df_, mtf_, _ in expansion) > (
            _LOCAL_MAX_POSITIONS
        ):
            return None
        dels = self._dels_cached()
        if dels is None:
            return None
        buckets = sorted({b for _, _, _, b in expansion})
        rows = (
            self.postings_df()
            .where(F.col("bucket").isin(buckets))
            .where(F.col("term").isin(uniq))
            .select("term", "blocks", "plists")
            .collect()
        )
        if not rows:
            return self._no_hits()
        docs_by_term: Dict[str, List[np.ndarray]] = {}
        for r in rows:
            docs_by_term.setdefault(r["term"], []).append(
                decode_blocks(r["blocks"])[0]
            )
        cand: Optional[np.ndarray] = None
        for t in uniq:
            got = docs_by_term.get(t)
            if not got:
                return self._no_hits()
            ids = np.unique(np.concatenate(got)) if len(got) > 1 else got[0]
            cand = (
                ids
                if cand is None
                else np.intersect1d(cand, ids, assume_unique=True)
            )
            if cand.size == 0:
                return self._no_hits()
        if dels:
            tomb = np.concatenate(list(dels.values()))
            cand = cand[~np.isin(cand, tomb)]
            if cand.size == 0:
                return self._no_hits()
        # positions per (candidate doc, term); cand is sorted, so
        # membership is a searchsorted probe per plists entry
        pos_map: Dict[Tuple[int, str], List[np.ndarray]] = {}
        for r in rows:
            t = r["term"]
            for e in r["plists"]:
                d = int(e["doc_id"])
                i = int(np.searchsorted(cand, d))
                if i >= cand.size or cand[i] != d:
                    continue
                pos_map.setdefault((d, t), []).append(
                    decode_positions(bytes(e["poss"]))
                )
        out_ids: List[int] = []
        out_tfs: List[int] = []
        for d in cand.tolist():
            p0 = pos_map.get((d, phrase[0]))
            if p0 is None:
                continue
            starts = np.unique(np.concatenate(p0)) if len(p0) > 1 else p0[0]
            for j, t in enumerate(phrase[1:], 1):
                pj = pos_map.get((d, t))
                if pj is None:
                    starts = starts[:0]
                    break
                pja = (
                    np.unique(np.concatenate(pj)) if len(pj) > 1 else pj[0]
                )
                starts = starts[np.isin(starts + j, pja, assume_unique=True)]
                if starts.size == 0:
                    break
            if starts.size:
                out_ids.append(d)
                out_tfs.append(int(starts.size))
        if not out_ids:
            return self._no_hits()
        return self._phrase_finish_local(
            np.asarray(out_ids, dtype=np.int64),
            np.asarray(out_tfs, dtype=np.float64),
            k,
        )

    def _phrase_finish_local(
        self, ids: np.ndarray, tfs: np.ndarray, k: int
    ) -> Optional[DataFrame]:
        """Score the (already complete) phrase match set driver-side:
        df = |matched docs|, dl from the doclens chunk cache, the same
        float arithmetic as ``bm25_score_col``. Returns None when the
        matched docs touch more chunks than the doclens cache bound (or
        a chunk is missing) — caller falls back to the distributed
        finish."""
        order = np.argsort(ids)
        ids, tfs = ids[order], tfs[order]
        chunks, first = np.unique(ids // self.chunk_span, return_index=True)
        if chunks.size > _PHRASE_LOCAL_MAX_CHUNKS:
            return None
        dls_by_chunk = self._doclens_for(chunks.tolist())
        if len(dls_by_chunk) < chunks.size:
            return None
        idf = _idf(float(self.stats.n_docs), float(ids.size))
        # the phrase is one pseudo-term: one kernel row per chunk
        rows = kernel.Rows(
            np.zeros(chunks.size), np.full(chunks.size, idf), chunks,
            ids, tfs, np.append(first, ids.size),
        )
        hits = kernel.score(rows, dls_by_chunk, self.chunk_span, self.stats.avgdl)
        return self._ranked_frame(*kernel.topk(*hits, k))

    def search_phrase(
        self,
        phrase: List[str],
        corpus: Optional[DataFrame] = None,
        k: int = 10,
        use_positions: Optional[bool] = None,
        local_max_postings: Optional[int] = _PHRASE_LOCAL_MAX_POSTINGS,
        doc_filter=None,
    ) -> DataFrame:
        """Index-accelerated exact-phrase BM25. The index prunes to docs
        containing ALL phrase terms, then adjacency is verified one of
        two ways:

        * positional index (built with ``positions=True``): occurrence
          starts decode straight from the stored plists — no document
          content is read at all (``corpus`` may be None). This is the
          opt-in amortization for repeated phrase workloads.
        * positionless index (the reference-faithful default — its tree
          stores doc-sets only, positions are recomputed at query time:
          SimpleSearchManager.java:187-214, tree/TreeNode.java:18):
          re-tokenize ONLY the candidates' content from ``corpus``.

        Both paths score the phrase as one pseudo-term (tf =
        occurrences, df = matching docs) with N/avgdl from the index
        manifest; ties break doc_id ASC. Rank/score-identical to
        pipeline.phrase_topk over the same corpus by construction
        (pinned by test for both paths).

        ``doc_filter`` (same contract as :meth:`search`): Lucene filter
        semantics — the phrase's pseudo-term df stays the GLOBAL
        phrase-match count, so a surviving doc's score is identical
        with or without the filter; the filter only drops docs from the
        result set (applied on the registry-dl join, a row filter on
        the already-candidate-pruned scan). The driver-local fast
        finishes are skipped under a filter — membership needs the
        registry, which those paths never read."""
        from .pipeline import (
            _phrase_occurrences,
            bm25_score_col,
            tokens_pos,
        )

        phrase = [t for t in phrase if t]
        _check_k(k)
        if not phrase:
            return self._no_hits()
        positional = (
            self.has_positions if use_positions is None else bool(use_positions)
        )
        if positional and not self.has_positions:
            raise ValueError(
                "use_positions=True but the index was built without "
                "positions=True"
            )
        if not positional and corpus is None:
            raise ValueError(
                "phrase search over a positionless index re-scans "
                "candidate content: pass the corpus DataFrame, or build "
                "the index with positions=True"
            )
        if positional and local_max_postings and doc_filter is None:
            out = self._phrase_local(phrase, k, local_max_postings)
            if out is not None:
                return out
        cand = self.match_docs(phrase, AND_MATCH)
        if positional:
            occ = self._positional_occurrences(phrase, cand)
        else:
            # broadcast the candidate id set: the index scan output
            # carries no stats, so the planner would otherwise shuffle
            # the FULL corpus on doc_id to semi-join a small id list
            # (measured 2.1 s -> 1.0 s at sf0.1, where the un-broadcast
            # indexed path lost to the index-free declarative scan).
            # Bound: the AND-match set of a multi-term phrase; a
            # pathological all-stopword phrase at corpus scale degrades
            # to the declarative scan's shuffle, not to failure (driver
            # memory guards the broadcast).
            docs = corpus.join(F.broadcast(cand), "doc_id")
            occ = _phrase_occurrences(tokens_pos(docs, self.tokenizer), phrase)
        tf = occ.groupBy("doc_id").agg(F.count("*").cast("int").alias("tf"))
        if local_max_postings and doc_filter is None:
            # cap-gated local finish: the (doc_id, tf) match set is the
            # phrase's complete answer — when it fits the gate, collect
            # it ONCE and score driver-side. This runs the whole query
            # as a single distributed job (match + occurrence + agg)
            # instead of re-executing the candidate subplan for the dl
            # join and the tf subplan for dfreq; past the gate the
            # distributed finish below recomputes tf and keeps every
            # stage on the cluster.
            head = tf.limit(local_max_postings + 1).collect()
            if len(head) <= local_max_postings:
                if not head:
                    return self._no_hits()
                out = self._phrase_finish_local(
                    np.asarray([r["doc_id"] for r in head], dtype=np.int64),
                    np.asarray([r["tf"] for r in head], dtype=np.float64),
                    k,
                )
                if out is not None:
                    return out
        dfreq = tf.agg(F.count("*").cast("double").alias("df"))
        # doc lengths come from the index REGISTRY (written at build
        # time with this reader's tokenizer), not from re-tokenizing
        # candidate content a second time — the occurrence scan above
        # is now the only tokenize pass in the whole query
        dl_src = self.docs_df()
        if doc_filter is not None:
            # membership filter AFTER dfreq is taken from tf (global
            # phrase df), pushed into the registry scan
            flt = (
                F.expr(doc_filter)
                if isinstance(doc_filter, str)
                else doc_filter
            )
            dl_src = dl_src.where(flt)
        dl = dl_src.select("doc_id", "dl").join(
            F.broadcast(cand), "doc_id"
        )
        scored = (
            # tf is bounded by the candidate set; broadcasting it keeps
            # the registry dl scan shuffle-free (stats were lost at the
            # index scan, so the planner would otherwise sort-merge)
            dl.join(F.broadcast(tf), "doc_id")
            .crossJoin(F.broadcast(dfreq))
            .withColumn(
                "score",
                bm25_score_col(
                    F.col("tf"),
                    F.col("dl").cast("double"),
                    F.col("df"),
                    F.lit(float(self.stats.n_docs)),
                    F.lit(float(self.stats.avgdl)),
                ),
            )
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
            .collect()
        )
        out = [
            (r["doc_id"], float(r["score"]), i + 1)
            for i, r in enumerate(scored)
        ]
        return literal_frame(self.spark, out, RESULT_FIELDS)

    # ----------------------------------------------------- verification

    def verify_search(
        self,
        corpus: DataFrame,
        terms: Iterable[str],
        mode: str = EXACT_MATCH,
        k: int = 10,
    ) -> DataFrame:
        """Q5 analog (reference SimpleSearchManager.java:187-214): join
        the top-k back to the source table, re-check the per-row
        content sha256 invariant (BASELINE input_hint), and recompute
        match rows/positions by re-tokenizing content.

        Runs eagerly: the top-k search executes (and is collected)
        when this method is called, not when the returned frame is
        consumed. Its ≤ k collected rows feed both the literal
        ``doc_id IN`` pushdown and the joined result, so the search
        runs once."""
        top_rows = self.search(terms, mode, k).collect()
        res = literal_frame(self.spark, top_rows, RESULT_FIELDS)
        docs = self.docs_df().select("doc_id", "content_sha256")
        qterms = list(dict.fromkeys(terms))

        from .tokenizer import tokenize_with_positions

        tokenizer = self.tokenizer

        # Bounded per-row Python: this pandas UDF receives AT MOST the
        # top-k rows (the join's left side is the k-row result), so the
        # Python loop below touches <= k documents per query — it is
        # the Q5 verification path, never a corpus-scale operator. The
        # package-wide no-per-row-Python audit (tests/test_plans.py)
        # applies to unbounded inputs; this one is k-bounded by
        # construction.
        def _positions(content: pd.Series) -> pd.Series:
            def one(c):
                out = []
                for row_no, line in enumerate((c or "").split("\n")):
                    pos = [
                        p
                        for t, p in tokenize_with_positions(line, tokenizer)
                        if _match_token(t, qterms, mode)
                    ]
                    if pos:
                        out.append({"row": row_no, "positions": pos})
                return out

            return content.map(one)

        pos_udf = F.pandas_udf(
            "array<struct<row: int, positions: array<int>>>"
        )(_positions)

        # literal doc_id IN pushdown for the content re-read (round 5,
        # the snippets pattern): the top-k is k-bounded, so the id list
        # is a driver literal and the corpus scan row-group-prunes
        ids = [int(r["doc_id"]) for r in top_rows]
        src = corpus.select("doc_id", "repo", "path", "content").where(
            F.col("doc_id").isin(ids)
        )
        joined = (
            F.broadcast(res).join(src, "doc_id")
            .join(docs, "doc_id")
            .select(
                "doc_id",
                "repo",
                "path",
                "score",
                "rank",
                (
                    F.sha2(F.coalesce(F.col("content"), F.lit("")), 256)
                    == F.col("content_sha256")
                ).alias("sha_ok"),
                pos_udf(F.col("content")).alias("match_rows"),
            )
            .orderBy("rank")
        )
        return joined


def _match_token(tok: str, qterms: List[str], mode: str) -> bool:
    # predicate per reference SimpleSearchManager.java:196-202
    # (CONTAINS_MATCH is the engine's wildcard extension)
    if mode == START_WITH:
        return any(tok.startswith(q) for q in qterms)
    if mode == CONTAINS_MATCH:
        return any(q in tok for q in qterms)
    return tok in qterms


def search_multifield(
    field_readers: "Dict[str, Tuple[object, float]]",
    terms: Iterable[str],
    k: int = 10,
) -> DataFrame:
    """Multi-field weighted search on disk indexes — rank/score-
    identical to ``pipeline.bm25_multifield_topk`` over the same corpus
    by construction. ``field_readers`` maps field name →
    (IndexReader, weight), each reader built over the corpus with that
    field projected as ``content`` (an index per field — the Lucene
    per-field inverted-index layout).

    Every field contributes its FULL scored match set as a lazy frame
    (a ``scored`` plan: exact, bounded by Σ df of the query
    terms, never corpus volume — no collect, no literal-plan tail),
    rounded to 6 dp per field before the weighted full-outer combine —
    the shared ``combine_field_scores`` protocol. Cost ≈ one plain
    search per field. A negative ``k`` or an empty ``field_readers``
    raises ``ValueError`` before any Spark job."""
    from .pipeline import combine_field_scores

    _check_k(k)
    if not field_readers:
        raise ValueError("search_multifield needs at least one field reader")
    qterms = [t for t in dict.fromkeys(terms) if t]
    if not qterms:
        spark = next(iter(field_readers.values()))[0].spark
        return literal_frame(spark, [], RESULT_FIELDS)
    parts = []
    for fld in sorted(field_readers):
        rd, w = field_readers[fld]
        # full match-set ranking: the scored plan never runs the
        # driver-local path, which would collect the whole match set
        # and render it as one literal frame; the distributed scorer
        # streams the same rows instead
        full = rd._run(
            qterms, WITH_SUGGESTIONS, int(rd.stats.n_docs), _Plan("scored")
        ).select("doc_id", F.round("score", 6).alias("score"))
        parts.append((full, float(w)))
    return combine_field_scores(parts, k)
