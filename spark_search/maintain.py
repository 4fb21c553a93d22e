"""Incremental index maintenance: delete / upsert / compact.

The Spark analog of the reference's incremental update surface
(reference engine/src/main/java/org/search/engine/index/
DocumentRemoveTask.java:40-58, DocumentUpdateTask.java:40-83 and the
tree's removeByValue, tree/SearchEngineConcurrentTree.java:270-280 —
SURVEY.md §2.3 O4-O7), redesigned for immutable distributed storage as
segments + tombstones + manifest swap (the Lucene/Iceberg pattern):

  * ``delete_docs``  — write a tombstone list; NO data files are
    touched. Queries filter tombstones at score time; corpus stats
    (N, total_dl) are corrected exactly at delete time from integer
    totals. Cost: O(|deleted|), not O(index).
  * ``upsert_docs``  — build a NEW segment from only the new/changed
    documents (tokenize + aggregate + encode just those docs — the
    partition-level rebuild of SURVEY.md O7), tombstone the replaced
    doc_ids, and publish a manifest listing old segments + the new one.
    New doc_ids start at a fresh chunk boundary, so chunk-level state
    (doclens, postings chunks) never collides across segments.
  * ``compact``      — the segment-merge stage: rewrite postings
    dropping tombstoned docs (decode → filter → re-encode, only for
    chunks that actually contain tombstones — untouched rows pass
    through as opaque bytes), recompute exact per-term df, and publish
    a single-segment index with zero tombstones.

Staleness contract (identical to Lucene's): between a delete and the
next compact, match SETS are exact (tombstones filter every query) but
per-term ``df`` still counts tombstoned docs, so BM25 scores can differ
from a fresh rebuild by the df drift; ``compact`` restores exactness.
Tests pin both properties (tests/test_maintain.py).

Every operation writes a NEW index directory (copy-on-write at the
directory level, data shared by reference) and commits it atomically
via the manifest rename — readers of the old index are never disturbed.
Every sub-dir this module reads or publishes — the tombstone list
included — goes through build.py's readers and writers, so a rewritten
index has the layout of a fresh build.
"""

from __future__ import annotations

import os
import time
from typing import Callable, Iterable, List, Optional, Tuple, Union

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .build import (
    BLOCKS_SCHEMA,
    PLISTS_SCHEMA,
    IndexPaths,
    block_structs,
    build_index,
    read_segments,
    read_tombstones,
    sub_schema,
    tombstones_by_chunk,
    write_docs,
    write_doclens,
    write_postings,
    write_terms,
    write_tombstones,
)
from .checkpoint import BuildManifest
from .codec import decode_blocks, encode_blocks
from .ids import with_doc_ids
from .stats import CorpusStats

DELETES_SUB = "deletes"
SEGMENTS_SUB = "segments"

# Tombstone lists up to this many ids are written as ONE parquet file
# (queries broadcast the whole list; a single file is optimal while
# |deletes| << |docs|). Past it, the write shards by doc_id range so
# the union never funnels through one task — the reader is unchanged
# (it reads the directory; the per-chunk tombstone frame gates its
# broadcast on build._DELS_BROADCAST_CAP).
TOMBSTONE_SHARD_DOCS = 1 << 22  # ~4M ids ≈ 32 MB of int64


# ------------------------------------------------------------- helpers


def _load_committed(index_dir: str) -> BuildManifest:
    m = BuildManifest.load(index_dir)
    if m is None:
        raise FileNotFoundError(f"no committed manifest.json under {index_dir}")
    return m


def _check_out_dir(out_dir: str, index_dir: str, segs: List[str]) -> None:
    """REFUSE an out_dir aliasing the source index or any segment root:
    every maintenance op lazily reads the source while writing the
    output, so a self-overwrite either aborts mid-write ('cannot
    overwrite a path being read from') after clobbering files, or
    silently loses state (merge.py carries the same guard)."""
    out_abs = os.path.abspath(out_dir)
    for src in [os.path.abspath(index_dir), *segs]:
        if out_abs == src:
            raise ValueError(
                f"out_dir {out_dir!r} aliases source index path {src!r}; "
                "maintenance publishes a NEW generation directory"
            )


def _filter_block_rows(blks, drop, block_size):
    """Decode ``blks``, drop postings whose doc_id ∈ ``drop``, re-encode.
    Returns (n_docs, sum_tf, max_tf, out_blocks, rem_ids, rem_tfs)."""
    ids, tfs = decode_blocks(blks)
    hit = np.isin(ids, drop)
    r_ids, r_tfs = ids[hit], tfs[hit]
    if hit.all():
        return 0, 0, 0, [], r_ids, r_tfs
    ids, tfs = ids[~hit], tfs[~hit]
    out_blocks = block_structs(encode_blocks(ids, tfs, block_size=block_size))
    return (
        int(ids.size), int(tfs.sum()), int(tfs.max()), out_blocks,
        r_ids, r_tfs,
    )


def _rewrite_postings(
    posts: DataFrame, drop: str, block_size: int, filter_plists: bool
) -> Tuple[DataFrame, DataFrame]:
    """Remove postings from ``posts`` rows by their ``drop`` column (the
    sorted doc_ids to remove; NULL leaves the row as it is). Rows with
    nothing to drop never enter Python — their encoded bytes stay
    JVM-side; the rest are decoded, filtered and re-encoded, and rows
    left empty drop out. ``filter_plists`` also drops the removed docs'
    position lists (otherwise stale-but-inert, see build.PLISTS_SCHEMA).

    Returns (the rewritten rows with their ``_rw`` struct, which lists
    each row's removed doc_ids and tfs; every output postings row)."""

    @F.pandas_udf(
        f"struct<n_docs: long, sum_tf: long, max_tf: int, "
        f"blocks: {BLOCKS_SCHEMA}, removed_ids: array<long>, "
        f"removed_tfs: array<long>>"
    )
    def rewrite(blocks: pd.Series, drops: pd.Series) -> pd.DataFrame:
        cols: List[list] = [[], [], [], [], [], []]
        for blks, dl in zip(blocks, drops):
            res = _filter_block_rows(
                blks, np.asarray(dl, dtype=np.int64), block_size
            )
            for col, v in zip(cols, res):
                col.append(v)
        n_docs, sum_tf, max_tf, out_blocks, r_ids, r_tfs = cols
        return pd.DataFrame(
            {
                "n_docs": pd.Series(n_docs, dtype="int64"),
                "sum_tf": pd.Series(sum_tf, dtype="int64"),
                "max_tf": pd.Series(max_tf, dtype="int32"),
                "blocks": out_blocks,
                "removed_ids": [r.tolist() for r in r_ids],
                "removed_tfs": [r.tolist() for r in r_tfs],
            }
        )

    @F.pandas_udf(PLISTS_SCHEMA)
    def drop_plists(plists: pd.Series, drops: pd.Series) -> pd.Series:
        out = []
        for pl, dl in zip(plists, drops):
            gone = set(int(x) for x in dl)
            out.append(
                pl if pl is None
                else [e for e in pl if int(e["doc_id"]) not in gone]
            )
        return pd.Series(out)

    has_plists = "plists" in posts.columns
    cols = sub_schema("postings", has_plists).fieldNames()
    rw = posts.where(F.col(drop).isNotNull()).withColumn(
        "_rw", rewrite(F.col("blocks"), F.col(drop))
    )
    plists = []
    if has_plists:
        plists = [
            drop_plists(F.col("plists"), F.col(drop)).alias("plists")
            if filter_plists else "plists"
        ]
    new_rows = rw.select(
        "bucket", "term", "chunk",
        "_rw.n_docs", "_rw.sum_tf", "_rw.max_tf", "_rw.blocks", *plists,
    ).where(F.col("n_docs") > 0)
    kept = posts.where(F.col(drop).isNull()).select(*cols)
    return rw, kept.unionByName(new_rows)


def _patch_doclens(span: int):
    """Pandas UDF over packed doclens: subtract ``rm`` at the positions
    of ``ids``, or zero those slots when ``rm`` is NULL."""

    @F.pandas_udf("binary")
    def patch(dls: pd.Series, ids: pd.Series, rm: pd.Series) -> pd.Series:
        out = []
        for buf, i, r in zip(dls, ids, rm):
            if i is None or len(i) == 0:
                out.append(buf)
                continue
            arr = np.frombuffer(buf, dtype=np.int32).copy()
            pos = np.asarray(i, dtype=np.int64) % span
            ok = (pos >= 0) & (pos < arr.size)
            sub = arr[pos[ok]] if r is None else np.asarray(r, np.int32)[ok]
            arr[pos[ok]] -= sub
            out.append(arr.tobytes())
        return pd.Series(out)

    return patch


def _segments(m: BuildManifest, index_dir: str) -> List[str]:
    return [os.path.abspath(p) for p in m.config.get("segments", [index_dir])]


def _as_ids_df(
    spark: SparkSession, doc_ids: Union[DataFrame, Iterable[int]]
) -> DataFrame:
    if isinstance(doc_ids, DataFrame):
        return doc_ids.select(F.col("doc_id").cast("long").alias("doc_id"))
    return spark.createDataFrame(
        [(int(i),) for i in doc_ids], "doc_id long"
    )


def _deleted_dl_sum(
    spark: SparkSession, segs: List[str], dels: DataFrame, span: int
) -> int:
    """Exact Σ dl over the tombstoned ids, by decoding only the doclens
    chunks that contain them (pandas UDF over packed int32 arrays)."""
    by_chunk = (
        dels.select(
            (F.col("doc_id") / span).cast("long").alias("chunk"),
            (F.col("doc_id") % span).alias("pos"),
        )
        .groupBy("chunk")
        .agg(F.sort_array(F.collect_list("pos")).alias("pos"))
    )

    @F.pandas_udf("long")
    def sum_at(dls: pd.Series, pos: pd.Series) -> pd.Series:
        out = []
        for buf, p in zip(dls, pos):
            arr = np.frombuffer(buf, dtype=np.int32)
            idx = np.asarray(p, dtype=np.int64)
            idx = idx[(idx >= 0) & (idx < arr.size)]
            out.append(int(arr[idx].sum()))
        return pd.Series(out, dtype="int64")

    joined = read_segments(spark, segs, "doclens").join(by_chunk, "chunk")
    row = joined.select(sum_at("dls", "pos").alias("s")).agg(
        F.sum("s").alias("t")
    ).collect()[0]
    return int(row["t"] or 0)


def _exact_stats(m: BuildManifest, spark, segs: List[str]) -> CorpusStats:
    s = CorpusStats.from_dict(m.stats)
    if s.total_dl >= 0:
        return s
    # pre-v2 manifest: recompute the integer total from docs metadata
    row = read_segments(spark, segs, "docs").agg(
        F.sum("dl").alias("t")
    ).collect()[0]
    return CorpusStats(s.n_docs, s.avgdl, int(row["t"] or 0))


def _tombstone(
    spark: SparkSession,
    m: BuildManifest,
    segs: List[str],
    out_dir: str,
    victims: Callable[[DataFrame], DataFrame],
) -> Tuple[int, int, dict, int]:
    """Tombstone the live docs that ``victims`` picks from ``live`` —
    the segments' (doc_id, repo, path) rows not yet tombstoned — and
    write the merged tombstone set under ``out_dir``. Returns (n newly
    tombstoned, their Σ dl, the manifest config entries, shard count)."""
    cfg = m.config
    old = read_tombstones(spark, cfg["deletes_dir"]) if cfg.get("deletes_dir") else None
    live = read_segments(spark, segs, "docs").select("doc_id", "repo", "path")
    if old is not None:
        live = live.join(old, "doc_id", "left_anti")
    new = victims(live).select("doc_id").distinct()
    n_new = new.count()
    removed_dl = (
        _deleted_dl_sum(spark, segs, new, int(cfg["chunk_span"]))
        if n_new else 0
    )
    n_old = int(cfg.get("n_tombstones") or 0)
    if old is not None and "n_tombstones" not in cfg:
        n_old = old.count()
    dels_out = os.path.join(os.path.abspath(out_dir), DELETES_SUB)
    # the shard count is recorded in the manifest for observability
    shards = max(1, -(-(n_old + n_new) // TOMBSTONE_SHARD_DOCS))
    write_tombstones(
        new if old is None else old.union(new).distinct(), dels_out, shards
    )
    entries = {"deletes_dir": dels_out, "n_tombstones": n_old + n_new}
    return n_new, removed_dl, entries, shards


# -------------------------------------------------------------- delete


def delete_docs(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    doc_ids: Union[DataFrame, Iterable[int]],
) -> BuildManifest:
    """Tombstone ``doc_ids`` and publish a new index at ``out_dir``
    sharing every data file of ``index_dir``. O(|deleted|) work."""
    m = _load_committed(index_dir)
    segs = _segments(m, index_dir)
    _check_out_dir(out_dir, index_dir, segs)
    t0 = time.time()

    ids = _as_ids_df(spark, doc_ids)
    n_new, removed_dl, entries, shards = _tombstone(
        spark, m, segs, out_dir,
        lambda live: ids.join(live, "doc_id", "left_semi"),
    )
    stats = _exact_stats(m, spark, segs)
    out = BuildManifest(out_dir)
    out.config = {**m.config, "segments": segs, **entries}
    out.stats = CorpusStats.combine(
        stats.n_docs - n_new, stats.total_dl - removed_dl
    ).to_dict()
    if "n_terms" in (m.stats or {}):
        # deletes never touch the terms directories — carry the count
        # so readers keep the probe-free dictionary-cache gate
        out.stats["n_terms"] = m.stats["n_terms"]
    out.record_stage(
        "delete", fingerprint=f"dels+{n_new}", n_deleted=n_new,
        removed_dl=removed_dl, tombstone_shards=shards,
        wall_s=time.time() - t0,
    )
    out.commit()
    return out


# -------------------------------------------------------------- upsert


def upsert_docs(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    new_docs: DataFrame,
    num_partitions: Optional[int] = None,
) -> BuildManifest:
    """Add or replace documents (identity key: repo, path). Builds one
    new segment from only ``new_docs`` — the reference's per-document
    incremental diff (DocumentUpdateTask.java:40-83) generalized to a
    batch — and tombstones superseded doc_ids. Cost: O(|new batch|)."""
    m = _load_committed(index_dir)
    segs = _segments(m, index_dir)
    _check_out_dir(out_dir, index_dir, segs)
    cfg = m.config
    span = int(cfg["chunk_span"])
    t0 = time.time()

    # 1. new ids start at a fresh chunk boundary (id spaces never
    # collide); a batch that breaks this is refused before any write
    max_chunk = read_segments(spark, segs, "doclens").agg(
        F.max("chunk").alias("c")
    ).collect()[0]["c"]
    base = (int(max_chunk) + 1) * span
    if "doc_id" in new_docs.columns:
        # pre-assigned ids must live past the fresh chunk boundary —
        # a batch still carrying ids from a prior with_doc_ids run
        # would reuse existing chunk ids (doubled doclens rows) AND be
        # filtered by the very tombstones this upsert writes for the
        # replaced docs, silently vanishing from every query
        low = new_docs.agg(F.min("doc_id").alias("m")).collect()[0]["m"]
        if low is not None and int(low) < base:
            raise ValueError(
                f"new_docs carries doc_id {int(low)} below the index's "
                f"fresh-chunk boundary {base}; drop the doc_id column "
                "(ids are assigned here) or assign ids >= the boundary"
            )
        with_ids = new_docs
    else:
        with_ids = with_doc_ids(new_docs, num_partitions, start=base)

    # 2. tombstone the live docs this batch replaces
    n_replaced, removed_dl, entries, shards = _tombstone(
        spark, m, segs, out_dir,
        lambda live: live.join(
            new_docs.select("repo", "path").distinct(), ["repo", "path"]
        ),
    )

    # 3. the batch's own segment
    seg_dir = os.path.join(
        os.path.abspath(out_dir), SEGMENTS_SUB, f"seg-{len(segs)}"
    )
    seg_manifest = build_index(
        spark,
        with_ids,
        seg_dir,
        num_buckets=int(cfg["num_buckets"]),
        chunk_span=span,
        block_size=int(cfg.get("block_size", 128)),
        tokenizer=cfg.get("tokenizer", "standard"),
        # positional base index -> positional segment, so the unioned
        # postings schema stays consistent and phrase queries keep the
        # content-free path across upserts
        positions=bool(cfg.get("positions", False)),
    )
    seg_stats = CorpusStats.from_dict(seg_manifest.stats)

    # 4. exact combined stats
    stats = _exact_stats(m, spark, segs)
    out = BuildManifest(out_dir)
    out.config = {**cfg, "segments": segs + [seg_dir], **entries}
    out.stats = CorpusStats.combine(
        stats.n_docs - n_replaced + seg_stats.n_docs,
        stats.total_dl - removed_dl + seg_stats.total_dl,
    ).to_dict()
    out.record_stage(
        "upsert",
        fingerprint=f"seg-{len(segs)}",
        n_new=seg_stats.n_docs,
        n_replaced=n_replaced,
        tombstone_shards=shards,
        wall_s=time.time() - t0,
    )
    out.commit()
    return out


def upsert_file(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    corpus: DataFrame,
    repo: str,
    path: str,
    commit: Optional[str] = None,
) -> BuildManifest:
    """S2 single-file (re)index: fold exactly one file of the corpus
    table into the index — the reference's index-one-file entry point
    (reference SearchEngine.java:60-66, DocumentIndexTask) expressed as
    a one-row upsert. The (repo, path) slice is predicate-pushed into
    the corpus scan (corpus.single_file); everything downstream is the
    ordinary O(|batch|=1) segment upsert."""
    from .corpus import single_file

    batch = single_file(corpus, repo, path, commit)
    if not batch.take(1):
        raise ValueError(f"no corpus row for ({repo!r}, {path!r})")
    return upsert_docs(spark, index_dir, out_dir, batch)


# ----------------------------------------- per-(term, doc) delete (O4)


def delete_term_postings(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    pairs: Union[DataFrame, Iterable[tuple]],
) -> BuildManifest:
    """Remove specific (term, doc_id) postings — the analog of the
    reference's per-key removeByValue (reference
    tree/SearchEngineConcurrentTree.java:239-264): "remove this term
    from this doc" without tombstoning the whole document.

    Targeted chunk rewrite: only postings rows whose (term, chunk)
    matches a requested pair are decoded/filtered/re-encoded; every
    other row passes through as opaque bytes (no decode). The doc's
    stored ``dl`` and the packed doclens arrays are decremented by the
    removed tf and corpus ``total_dl`` is corrected exactly, so the
    result is score-identical to an index built over a corpus in which
    those term occurrences never existed (pinned by
    tests/test_maintain.py). Publishes a fresh single-segment index;
    existing doc-level tombstones carry over untouched."""
    m = _load_committed(index_dir)
    segs = _segments(m, index_dir)
    _check_out_dir(out_dir, index_dir, segs)
    cfg = m.config
    span = int(cfg["chunk_span"])
    num_buckets = int(cfg["num_buckets"])
    par = spark.sparkContext.defaultParallelism
    t0 = time.time()
    out_paths = IndexPaths(os.path.abspath(out_dir))

    if not isinstance(pairs, DataFrame):
        pairs = spark.createDataFrame(
            [(str(t), int(d)) for t, d in pairs], "term string, doc_id long"
        )
    pairs = pairs.select(
        "term", F.col("doc_id").cast("long").alias("doc_id")
    ).distinct()
    old_dels_dir = cfg.get("deletes_dir")
    if old_dels_dir:
        # pairs of already-TOMBSTONED docs are skipped: their postings
        # are physically present but inert (filtered at query time) and
        # their full dl was ALREADY subtracted from the stats at delete
        # time — removing them here would subtract the tf a second time
        # and skew avgdl for every later score. compact reclaims them.
        pairs = pairs.join(
            read_tombstones(spark, old_dels_dir), "doc_id", "left_anti"
        )
    tdel = (
        pairs.withColumn("chunk", (F.col("doc_id") / span).cast("long"))
        .groupBy("term", "chunk")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("_tdel"))
    )
    # positional indexes: plists pass through UNCHANGED. An entry whose
    # (term, doc) pair was just removed from blocks is stale-but-inert
    # by the plists contract (build.py PLISTS_SCHEMA): phrase candidates
    # derive from blocks, and the positional scan semi-joins plists on
    # candidates, so a doc that no longer matches this term can never
    # surface its stale positions. compact() reclaims the bytes.
    rw, new_posts = _rewrite_postings(
        read_segments(
            spark, segs, "postings", bool(cfg.get("positions"))
        ).join(F.broadcast(tdel), ["term", "chunk"], "left"),
        "_tdel", int(cfg.get("block_size", 128)), filter_plists=False,
    )

    # (doc_id, removed tf) of every surgically removed posting — needed
    # to correct dl arrays, docs.dl, and total_dl exactly. Only
    # rewritten rows carry entries, so this stays O(|pairs|).
    removed_rows = (
        rw.select(
            F.explode(
                F.arrays_zip(
                    F.col("_rw.removed_ids").alias("doc_id"),
                    F.col("_rw.removed_tfs").alias("tf"),
                )
            ).alias("z")
        )
        .groupBy(F.col("z.doc_id").cast("long").alias("doc_id"))
        .agg(F.sum("z.tf").alias("_rm_dl"))
        .collect()  # bounded by |pairs|
    )
    removed_total = sum(int(r["_rm_dl"]) for r in removed_rows)
    rm_by_chunk: dict = {}
    for r in removed_rows:
        i = int(r["doc_id"])
        rm_by_chunk.setdefault(i // span, []).append((i, int(r["_rm_dl"])))

    write_postings(new_posts, out_paths.postings, num_buckets)
    n_terms = write_terms(spark, out_paths, num_buckets, par)

    # docs: decrement dl of affected docs (identity otherwise). The
    # patch is fed from the ALREADY-COLLECTED rows — re-joining the
    # removed-rows plan here would run the decode pipeline a third
    # time (once for the collect, once for the postings write).
    docs = read_segments(spark, segs, "docs")
    if removed_rows:
        patch_doc = spark.createDataFrame(
            [(int(r["doc_id"]), int(r["_rm_dl"])) for r in removed_rows],
            "doc_id long, _rm_dl long",
        )
        docs = docs.join(F.broadcast(patch_doc), "doc_id", "left").select(
            "doc_id", "repo", "path", "commit", "lang", "content_sha256",
            (F.col("dl") - F.coalesce(F.col("_rm_dl"), F.lit(0)))
            .cast("int").alias("dl"),
        )
    # the registry keeps tombstoned docs, so its observed totals are
    # not the live corpus stats: those come from the arithmetic below
    write_docs(docs, out_paths.docs, par)

    # doclens: patch only the chunks that lost occurrences
    doclens = read_segments(spark, segs, "doclens")
    if rm_by_chunk:
        patch_df = spark.createDataFrame(
            [
                (int(c), [i for i, _ in v], [t for _, t in v])
                for c, v in rm_by_chunk.items()
            ],
            "chunk long, _ids array<long>, _rm array<long>",
        )
        doclens = doclens.join(F.broadcast(patch_df), "chunk", "left").select(
            "chunk",
            _patch_doclens(span)("dls", "_ids", "_rm").alias("dls"),
        )
    write_doclens(doclens, out_paths.doclens)

    stats = _exact_stats(m, spark, segs)
    out = BuildManifest(out_dir)
    out.config = {k: v for k, v in cfg.items() if k != "segments"}
    out.stats = {
        **CorpusStats.combine(
            stats.n_docs, stats.total_dl - removed_total
        ).to_dict(),
        "n_terms": n_terms,
    }
    out.record_stage(
        "delete_terms",
        fingerprint=f"tdel+{removed_total}",
        removed_tf=removed_total,
        wall_s=time.time() - t0,
    )
    out.commit()
    return out


# ------------------------------------------------------------- compact


def compact(
    spark: SparkSession, index_dir: str, out_dir: str
) -> BuildManifest:
    """Segment merge: fold all segments + tombstones into one fresh
    single-segment index with exact per-term df — WITHOUT re-reading or
    re-tokenizing any document content. Posting rows in chunks that
    contain no tombstone pass through as opaque bytes; only tombstoned
    chunks are decoded, filtered and re-encoded (a pandas UDF over the
    block arrays). This is the merge stage of SURVEY.md §3.2's build
    lifecycle, run standalone."""
    m = _load_committed(index_dir)
    segs = _segments(m, index_dir)
    _check_out_dir(out_dir, index_dir, segs)
    cfg = m.config
    span = int(cfg["chunk_span"])
    num_buckets = int(cfg["num_buckets"])
    par = spark.sparkContext.defaultParallelism
    t0 = time.time()
    out_paths = IndexPaths(os.path.abspath(out_dir))

    posts = read_segments(spark, segs, "postings", bool(cfg.get("positions")))
    docs = read_segments(spark, segs, "docs")
    doclens = read_segments(spark, segs, "doclens")
    if cfg.get("deletes_dir"):
        dels = read_tombstones(spark, cfg["deletes_dir"])
        by_chunk = tombstones_by_chunk(dels, span, cfg.get("n_tombstones"))
        # positional indexes: compact is where stale plists bytes
        # (tombstoned docs) are reclaimed
        _, posts = _rewrite_postings(
            posts.join(by_chunk, "chunk", "left"), "_dels",
            int(cfg.get("block_size", 128)), filter_plists=True,
        )
        docs = docs.join(dels, "doc_id", "left_anti")
        # removed docs' doclens slots are zeroed; gap positions are
        # never referenced by postings
        doclens = doclens.join(by_chunk, "chunk", "left").select(
            "chunk",
            _patch_doclens(span)(
                "dls", "_dels", F.lit(None).cast("array<long>")
            ).alias("dls"),
        )

    write_postings(posts, out_paths.postings, num_buckets)
    n_terms = write_terms(spark, out_paths, num_buckets, par)
    n_docs, total_dl = write_docs(docs, out_paths.docs, par)
    write_doclens(doclens, out_paths.doclens)

    out = BuildManifest(out_dir)
    out.config = {
        k: v
        for k, v in cfg.items()
        if k not in ("segments", "deletes_dir", "n_tombstones")
    }
    out.stats = {
        **CorpusStats.combine(n_docs, total_dl).to_dict(),
        "n_terms": n_terms,
    }
    out.record_stage(
        "compact",
        fingerprint=f"{len(segs)}segs",
        n_docs=n_docs,
        wall_s=time.time() - t0,
    )
    out.commit()
    return out
