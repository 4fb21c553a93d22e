"""Cross-index segment merge: union independently-built indexes into
one canonical single-segment index — without re-reading or
re-tokenizing any document content.

This is the user-facing form of the build's segment-merge stage (the
north-star's "segment-merge stage that unions per-partition sub-indexes
into a queryable global index"): at 100 TB the natural build topology
is many independent shard builds (per day, per repo group, per
ingestion batch) each producing a committed index, merged afterwards
into one queryable artifact. ``maintain.compact`` folds the segments
*of one index* (upsert history + tombstones); ``merge_indexes`` folds
*distinct indexes* whose doc-id spaces may interleave arbitrarily —
the new problem is (term, chunk) groups that exist in several sources
and must have their posting blocks decoded, merge-sorted and
re-encoded.

Canonical-output invariant (pinned by test): given sources built with
the same config over disjoint doc-id sets, the merged index is
CONTENT-IDENTICAL to a single monolithic build over the union corpus —
same postings rows (including the encoded block bytes: single-source
groups pass through untouched, colliding groups re-encode to exactly
the boundaries a monolithic build would produce, because blocks split
at ``block_size`` from the start of the docID-sorted chunk list), same
terms rows, same docs registry, same packed doclens, same stats.

Scale shape: ONE exchange keyed (bucket, chunk) over the encoded
postings (index bytes, typically ~5-10% of raw corpus bytes — never
the content), the same salted key the build itself shuffles on, so a
hot term's chunks spread over reducers identically; the merged rows
then take write_postings' bucket exchange to one file per bucket, as
a build's do. The common case —
shard doc-id ranges are chunk-aligned and never collide, e.g. every
shard built with ``ids.with_doc_ids(start=...)`` at chunk boundaries
(the ``upsert_docs`` discipline, maintain.py) — takes the JVM-only
fast path: zero posting bytes cross the Python boundary; only groups
with 2+ source rows pay the Arrow round-trip + re-encode.

This module owns only the merge itself (which rows collide and how
their blocks and doclens combine). Every sub-dir it publishes goes
through build.py's writers: postings/, terms/ and doclens/ through the
very ones a build uses, docs/ through the range writer maintenance
shares.

Reference analog: the reference engine holds ONE in-heap tree and adds
documents to it serially (index/DocumentIndexManager.java); sharded
build + merge is the distributed replacement for that serial add loop
at corpus sizes no single heap can hold.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from typing import List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession, functions as F

from .build import (
    BLOCKS_SCHEMA,
    PLISTS_SCHEMA,
    IndexPaths,
    block_structs,
    read_segments,
    write_docs,
    write_doclens,
    write_postings,
    write_terms,
)
from .checkpoint import BuildManifest
from .codec import decode_rows, encode_blocks_batch
from .progress import dir_bytes
from .stats import CorpusStats

# postings-exchange width: ~this many encoded index bytes per reduce
# task (decoded + merge state stays comfortably in task memory; small
# merges collapse to num_buckets tasks instead of paying per-task
# scheduling on hundreds of near-empty partitions)
_BYTES_PER_PARTITION = 64 << 20

# config keys that must be equal across every source index: they fix
# the doc_id -> (chunk, pos) mapping, the term -> bucket mapping, the
# block boundaries and the token stream — any mismatch makes the
# unioned layout silently mis-score, so merge refuses instead.
_MERGE_CONFIG_KEYS = (
    "num_buckets",
    "chunk_span",
    "block_size",
    "tokenizer",
    "format",
    "positions",
)


def _load_sources(index_dirs: List[str]) -> List[BuildManifest]:
    if not index_dirs:
        raise ValueError("merge_indexes needs at least one source index")
    manifests = []
    for d in index_dirs:
        m = BuildManifest.load(d)  # raises IndexFormatError on version skew
        if m is None:
            raise FileNotFoundError(f"no committed manifest.json under {d}")
        cfg = m.config
        if cfg.get("segments") or cfg.get("deletes_dir") or int(
            cfg.get("n_tombstones") or 0
        ):
            raise ValueError(
                f"{d} carries upsert segments or tombstones; run "
                "maintain.compact on it first — merge_indexes folds "
                "clean single-segment indexes (keeps the merged output "
                "content-identical to a monolithic build)"
            )
        manifests.append(m)
    base = {k: manifests[0].config.get(k) for k in _MERGE_CONFIG_KEYS}
    for m in manifests[1:]:
        theirs = {k: m.config.get(k) for k in _MERGE_CONFIG_KEYS}
        if theirs != base:
            raise ValueError(
                "source index configs differ on "
                f"{[k for k in _MERGE_CONFIG_KEYS if theirs[k] != base[k]]}: "
                f"{m.index_dir} vs {manifests[0].index_dir} — indexes "
                "built with different layouts cannot be merged"
            )
    return manifests


def _source_fingerprint(m: BuildManifest) -> str:
    """Content-identifying fingerprint of one source index: a hash of
    its committed manifest (config + stats + every stage's lineage
    record). Anything that rewrites the index — rebuild, compact,
    merge — rewrites the manifest, so a resume=True rerun cannot skip
    a completed stage against a source whose content changed under the
    same path. (The previous scheme read only the 'docs' build stage's
    fingerprint, which compact/merge outputs don't carry — every
    compacted source degenerated to the same '?'.)"""
    blob = json.dumps(
        {"config": m.config, "stats": m.stats, "stages": m.stages},
        sort_keys=True,
    ).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


def _merge_postings_udf(block_size: int, has_plists: bool):
    """Pandas UDF merging 2+ source rows of one (term, chunk) group:
    decode every source's blocks, merge-sort the (doc_id, tf) entries
    (doc sets are disjoint — validated against the registries), then
    re-encode from offset 0 so block boundaries match a monolithic
    build. Runs ONLY on colliding groups (the JVM fast path keeps
    single-source groups out of Python entirely)."""
    fields = f"struct<n_docs: long, sum_tf: long, max_tf: int, blocks: {BLOCKS_SCHEMA}"
    if has_plists:
        fields += f", plists: {PLISTS_SCHEMA}"
    fields += ">"

    @F.pandas_udf(fields)
    def merge_srcs(srcs: pd.Series) -> pd.DataFrame:
        # Batch-vectorized across the whole Arrow batch (the codec's
        # encode_blocks_batch pattern, applied to decode+merge too):
        # one batched decode of ALL blocks (``codec.decode_rows``), one
        # lexsort to merge-sort every group at once, one batched
        # re-encode — measured necessary: the bench's interleaved sf0.1
        # split puts 100% of postings through this UDF (single-chunk id
        # space).
        n_groups = len(srcs)
        if n_groups == 0:
            data = {
                "n_docs": pd.Series([], dtype="int64"),
                "sum_tf": pd.Series([], dtype="int64"),
                "max_tf": pd.Series([], dtype="int32"),
                "blocks": [],
            }
            if has_plists:
                data["plists"] = []
            return pd.DataFrame(data)
        doc_ids, tfs, offsets = decode_rows(
            [[b for src in group for b in src["blocks"]] for group in srcs]
        )
        counts = np.diff(offsets)
        g = np.repeat(np.arange(n_groups, dtype=np.int64), counts)
        order = np.lexsort((doc_ids, g))
        doc_ids, tfs = doc_ids[order], tfs[order]
        g_starts = offsets[:-1]  # the lexsort keeps each group in place
        enc = encode_blocks_batch(
            np.split(doc_ids, g_starts[1:]),
            np.split(tfs, g_starts[1:]),
            block_size=block_size,
        )
        sum_tf = np.add.reduceat(tfs, g_starts)
        max_tf = np.maximum.reduceat(tfs, g_starts)
        blocks_out = [block_structs(blocks) for blocks in enc]
        data = {
            "n_docs": pd.Series(counts, dtype="int64"),
            "sum_tf": pd.Series(sum_tf, dtype="int64"),
            "max_tf": pd.Series(max_tf.astype(np.int32), dtype="int32"),
            "blocks": blocks_out,
        }
        if has_plists:
            data["plists"] = [
                sorted(
                    (e for src in group if src["plists"] is not None
                     for e in src["plists"]),
                    key=lambda e: int(e["doc_id"]),
                )
                for group in srcs
            ]
        return pd.DataFrame(data)

    return merge_srcs


def _combine_doclens_udf():
    """Elementwise-add packed int32 dl arrays from several sources of
    one chunk (positions are disjoint; unoccupied slots hold 0), padded
    to the longest — exactly the array a monolithic build packs for
    the chunk (its length is max occupied position + 1)."""

    @F.pandas_udf("binary")
    def combine(dls_list: pd.Series) -> pd.Series:
        out = []
        for group in dls_list:
            if len(group) == 1:
                out.append(bytes(group[0]))
                continue
            arrays = [np.frombuffer(bytes(b), dtype=np.int32) for b in group]
            width = max(a.size for a in arrays)
            acc = np.zeros(width, dtype=np.int32)
            for a in arrays:
                acc[: a.size] += a
            out.append(acc.tobytes())
        return pd.Series(out)

    return combine


def merge_indexes(
    spark: SparkSession,
    index_dirs: List[str],
    out_dir: str,
    validate: bool = True,
    plan_parallelism: Optional[int] = None,
    resume: bool = False,
) -> BuildManifest:
    """Merge committed single-segment indexes into one canonical index
    at ``out_dir``. Sources must share the layout config and hold
    disjoint doc-id sets (``validate=True`` proves disjointness with
    one registry aggregation before any data moves; disable only when
    the id discipline is enforced upstream, e.g. chunk-aligned
    ``with_doc_ids(start=...)`` shard builds).

    Cost: one (bucket, chunk)-keyed exchange over encoded postings +
    one registry pass — no document content is read. See the module
    docstring for the canonical-output invariant.

    ``resume=True``: like ``build_index``, completed stages recorded in
    ``manifest.partial.json`` under the same source fingerprint are
    skipped — an interrupted 100 TB merge re-runs only the unfinished
    stage, and the atomic manifest-rename commit means readers never
    see a partial merge.
    """
    manifests = _load_sources(index_dirs)
    cfg = {k: manifests[0].config.get(k) for k in _MERGE_CONFIG_KEYS}
    num_buckets = int(cfg["num_buckets"])
    block_size = int(cfg.get("block_size") or 128)
    has_plists = bool(cfg.get("positions", False))
    src_dirs = [os.path.abspath(d) for d in index_dirs]
    out_abs = os.path.abspath(out_dir)
    if out_abs in src_dirs:
        raise ValueError("out_dir must differ from every source index dir")
    paths = IndexPaths(out_abs)
    par = plan_parallelism or spark.sparkContext.defaultParallelism
    fingerprint = "merge:" + ",".join(
        sorted(
            f"{d}@{_source_fingerprint(m)}"
            for d, m in zip(src_dirs, manifests)
        )
    )
    docs = read_segments(spark, src_dirs, "docs")
    if validate:
        # Disjointness is the correctness precondition for everything
        # below (block merge assumes no (term, doc) pair exists twice);
        # one slim-row aggregation over the registries proves it.
        # Runs BEFORE anything touches out_dir: a rejected merge must
        # not have destroyed whatever (e.g. a previous good index) was
        # sitting at the output path.
        dup = (
            docs.groupBy("doc_id")
            .agg(F.count("*").alias("c"))
            .where(F.col("c") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"doc_id {dup[0]['doc_id']} exists in more than one "
                "source index; merge_indexes requires disjoint doc-id "
                "sets (rebuild shards with with_doc_ids(start=...) or "
                "remap before merging)"
            )
    manifest = None
    if resume:
        try:
            manifest = BuildManifest.load(out_abs, allow_partial=True)
        except Exception:
            manifest = None
        if manifest is not None and manifest.config and any(
            manifest.config.get(k) != cfg.get(k) for k in _MERGE_CONFIG_KEYS
        ):
            manifest = None  # different layout: never seed stage-skips
    if manifest is None:
        if os.path.exists(out_abs):
            shutil.rmtree(out_abs)
        manifest = BuildManifest(out_abs)
    manifest.config = cfg
    manifest.save_partial()

    # ------------------------------------------------------------- docs
    t0 = time.time()
    if not (resume and manifest.stage_done("merge-docs", fingerprint)):
        n_docs, total_dl = write_docs(docs, paths.docs, par)

        # ------------------------------------------------------ doclens
        combine = _combine_doclens_udf()
        write_doclens(
            read_segments(spark, src_dirs, "doclens")
            .groupBy("chunk")
            .agg(F.collect_list("dls").alias("_g"))
            .select("chunk", combine(F.col("_g")).alias("dls")),
            paths.doclens,
        )
        manifest.stats = CorpusStats.combine(n_docs, total_dl).to_dict()
        manifest.record_stage(
            "merge-docs", fingerprint, rows=n_docs, wall_s=time.time() - t0
        )

    # --------------------------------------------------------- postings
    t1 = time.time()
    if not (resume and manifest.stage_done("merge-postings", fingerprint)):
        posts = read_segments(spark, src_dirs, "postings", has_plists)
        src_struct = ["n_docs", "sum_tf", "max_tf", "blocks"] + (
            ["plists"] if has_plists else []
        )
        # the build's own salted exchange key: (bucket, chunk) bounds
        # any reducer's share of a hot term to chunk_span docs per
        # source. Width follows the DATA (graph.py's rule): the input
        # is encoded index bytes whose size is a driver-side listing,
        # so a 40 MB merge doesn't pay 256-task exchanges while a
        # 100 TB merge still gets ~8 tasks per core wave. Capped at
        # 8*par like the build so plan width stays cluster-bounded.
        src_bytes = sum(
            dir_bytes(os.path.join(d, "postings")) for d in src_dirs
        )
        n_shuffle = min(
            max(num_buckets, src_bytes // _BYTES_PER_PARTITION + 1),
            max(num_buckets, 8 * par),
        )
        grouped = (
            posts.repartition(n_shuffle, "bucket", "chunk")
            .groupBy("bucket", "term", "chunk")
            # exchange-free on top of the repartition (grouping keys ⊇
            # partition keys)
            .agg(F.collect_list(F.struct(*src_struct)).alias("srcs"))
        )
        singles = grouped.where(F.size("srcs") == 1).select(
            "bucket", "term", "chunk", F.col("srcs")[0].alias("_r")
        ).select("bucket", "term", "chunk", "_r.*")
        merge_srcs = _merge_postings_udf(block_size, has_plists)
        multis = grouped.where(F.size("srcs") > 1).select(
            "bucket", "term", "chunk", merge_srcs(F.col("srcs")).alias("_r")
        ).select("bucket", "term", "chunk", "_r.*")
        # the two branches re-read ONE shuffle (ReusedExchange: same
        # child plan under both filters); write_postings' bucket
        # exchange then gives one file per bucket
        write_postings(
            singles.unionByName(multis), paths.postings, num_buckets
        )
        manifest.record_stage(
            "merge-postings", fingerprint, wall_s=time.time() - t1
        )

    # ------------------------------------------------------------ terms
    t2 = time.time()
    if not (resume and manifest.stage_done("merge-terms", fingerprint)):
        n_terms = write_terms(spark, paths, num_buckets, par)
        manifest.stats = {**manifest.stats, "n_terms": n_terms}
        manifest.record_stage(
            "merge-terms",
            fingerprint,
            rows=n_terms,
            sources=src_dirs,
            wall_s=time.time() - t2,
        )
    manifest.commit()
    return manifest
