"""Live result maintenance (Q9) — registered queries whose result sets
are kept current as the index advances through generations, emitting
ADD / UPDATE / REMOVE diffs per refresh.

The reference keeps a per-lexeme listener on its tree: when a tracked
lexeme's postings change, the manager re-scans the affected document
and pushes ADD/UPDATE/REMOVE events to the UI result table (reference
tree/SearchEngineConcurrentTree.java:321-328 add, :149-157 update,
:258-263 remove; search/SimpleSearchManager.java:106-185). That is a
row-at-a-time push model over an in-memory tree. The Spark analog is
generation-grained: index maintenance publishes immutable generations
(maintain.upsert_docs / streaming.stream_index_updates), and a
``LiveResults`` set re-evaluates each registered query against the new
generation and diffs it against the previous result snapshot — the same
end state as the reference's per-event stream, delivered per commit
point instead of per tree mutation (SURVEY.md §7.7).

Scale: the distributed engine does all the work — each refresh runs
``IndexReader.search`` (bucket-pruned scan, bounded top-k). Only the two top-k snapshots being diffed are ever
driver-side, so every structure here is O(k · registered queries),
independent of corpus size. Diff emission appends one tiny parquet
batch per refresh under ``<state_dir>/log`` — the live result sink
(S7) a downstream consumer tails.
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable, Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from .frames import RESULT_FIELDS, literal_frame
from .pipeline import EXACT_MATCH
from .query import IndexReader

ADD = "ADD"
UPDATE = "UPDATE"
REMOVE = "REMOVE"

_DIFF_FIELDS = [
    ("query", "string"), ("event", "string"), ("doc_id", "long"),
    ("score", "double"), ("rank", "int"),
    ("old_score", "double"), ("old_rank", "int"),
]

# UPDATE events compare scores at this rounding; the engine is
# deterministic, so any difference is a real re-score (changed tf/dl/df
# after maintenance), not float jitter — rounding only keeps the diff
# stable across decode orders.
_SCORE_DECIMALS = 9

# every refresh appends one tiny parquet file (coalesce(1)); past this
# many part-files the log is rewritten into one — bounding file count
# (and so open/list cost) under arbitrarily frequent refresh instead of
# growing without limit
_LOG_COMPACT_FILES = 64


def _diff_rows(
    name: str, old: List[dict], new: List[dict]
) -> List[tuple]:
    """Classify membership/score changes between two top-k snapshots.
    Bounded by k rows per side — pure driver-side python by design."""
    old_by_id = {int(r["doc_id"]): r for r in old}
    new_by_id = {int(r["doc_id"]): r for r in new}
    rows = []
    for did, r in new_by_id.items():
        prev = old_by_id.get(did)
        if prev is None:
            rows.append(
                (name, ADD, did, r["score"], r["rank"], None, None)
            )
        elif round(r["score"], _SCORE_DECIMALS) != round(
            prev["score"], _SCORE_DECIMALS
        ) or int(r["rank"]) != int(prev["rank"]):
            rows.append(
                (
                    name, UPDATE, did, r["score"], r["rank"],
                    prev["score"], prev["rank"],
                )
            )
    for did, r in old_by_id.items():
        if did not in new_by_id:
            rows.append(
                (name, REMOVE, did, None, None, r["score"], r["rank"])
            )
    rows.sort(key=lambda t: (t[0], t[1], t[2]))
    return rows


class LiveResults:
    """A set of registered queries kept live across index generations.

    ``register`` snapshots the query's current top-k; each ``refresh``
    re-runs every registered query against the index generation passed
    in (or the root's CURRENT pointer) and returns the ADD/UPDATE/
    REMOVE diff as a DataFrame, also appending it to the parquet event
    log under ``state_dir``. State (registered queries + last
    snapshots) lives in one JSON file, written atomically, so a
    restarted process resumes diffing from the last emitted snapshot.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        index_root: Optional[str] = None,
    ):
        self.spark = spark
        self.state_dir = os.path.abspath(state_dir)
        self.index_root = index_root
        os.makedirs(self.state_dir, exist_ok=True)
        self._state_path = os.path.join(self.state_dir, "live.json")
        self._state: Dict[str, dict] = {}
        if os.path.exists(self._state_path):
            with open(self._state_path) as f:
                self._state = json.load(f)

    # ------------------------------------------------------------ state

    def _save(self) -> None:
        tmp = self._state_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self._state, f)
        os.replace(tmp, self._state_path)

    def _resolve_index(self, index_dir: Optional[str]) -> str:
        if index_dir is not None:
            return index_dir
        if self.index_root is not None:
            from .streaming import current_index

            cur = current_index(self.index_root)
            if cur is not None:
                return cur
        raise ValueError(
            "no index to refresh against: pass index_dir or construct "
            "LiveResults with an index_root that has a CURRENT pointer"
        )

    def _snapshot(
        self, reader: IndexReader, terms: List[str], mode: str, k: int
    ) -> List[dict]:
        rows = reader.search(terms, mode, k=k).collect()
        return [
            {
                "doc_id": int(r["doc_id"]),
                "score": float(r["score"]),
                "rank": int(r["rank"]),
            }
            for r in rows
        ]

    # -------------------------------------------------------------- api

    def register(
        self,
        name: str,
        terms: List[str],
        mode: str = EXACT_MATCH,
        k: int = 10,
        index_dir: Optional[str] = None,
    ) -> None:
        """Track ``terms``/``mode`` under ``name``; the initial top-k
        snapshot is taken now (the reference registers its listener at
        first search emission, SimpleSearchManager.java:76)."""
        d = self._resolve_index(index_dir)
        reader = IndexReader(self.spark, d)
        self._state[name] = {
            "terms": list(terms),
            "mode": mode,
            "k": int(k),
            "generation": os.path.abspath(d),
            "results": self._snapshot(reader, list(terms), mode, int(k)),
        }
        self._save()

    def unregister(self, name: str) -> None:
        self._state.pop(name, None)
        self._save()

    def results(self, name: str) -> DataFrame:
        """The tracked query's current result snapshot."""
        q = self._state[name]
        return literal_frame(
            self.spark,
            [
                (int(r["doc_id"]), float(r["score"]), int(r["rank"]))
                for r in q["results"]
            ],
            RESULT_FIELDS,
        )

    def _snapshots_batched(
        self, reader: IndexReader, pending: List[tuple]
    ) -> List[List[dict]]:
        """One IndexReader.search_many call per distinct (mode, k)
        among the pending queries — the whole refresh becomes a handful
        of batch jobs (usually one) instead of one job per query.
        Scores are bit-identical to per-query search (all scoring
        kernels accumulate in sorted-term order), so diffs cannot
        change across the pooled/batched switch."""
        groups: Dict[tuple, List[int]] = {}
        for i, (_, q) in enumerate(pending):
            groups.setdefault((q["mode"], int(q["k"])), []).append(i)
        snaps: List[List[dict]] = [[] for _ in pending]

        def run_group(item) -> None:
            (mode, k), idxs = item
            queries = {str(i): pending[i][1]["terms"] for i in idxs}
            rows = reader.search_many(queries, mode, k=k).collect()
            by_q: Dict[int, List[dict]] = {i: [] for i in idxs}
            for r in rows:
                by_q[int(r["query_id"])].append(
                    {
                        "doc_id": int(r["doc_id"]),
                        "score": float(r["score"]),
                        "rank": int(r["rank"]),
                    }
                )
            for i in idxs:
                by_q[i].sort(key=lambda x: x["rank"])
                snaps[i] = by_q[i]

        items = list(groups.items())
        if len(items) > 1:
            # distinct (mode, k) groups are independent jobs — overlap
            # them like the pooled path overlaps per-query jobs, so a
            # mixed-mode refresh costs ~max(group) instead of Σ(group).
            # Each worker writes disjoint snaps slots; no shared state.
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(8, len(items))) as pool:
                list(pool.map(run_group, items))
        else:
            run_group(items[0])
        return snaps

    def refresh(
        self,
        index_dir: Optional[str] = None,
        on_event: Optional[Callable] = None,
        log: bool = True,
        max_workers: int = 8,
        batched: bool = False,
    ) -> DataFrame:
        """Re-evaluate every registered query against the (new) index
        generation; emit and return the combined diff. Queries whose
        recorded generation already matches are skipped (refresh is
        idempotent per generation).

        Two evaluation strategies, identical results (pinned by test):

        * pooled (default): re-evaluations run CONCURRENTLY over a
          driver thread pool (``max_workers``; 1 = serial): Spark job
          submission is thread-safe and the shared IndexReader's driver
          caches are lock-guarded, so refresh wall time is ~max(query)
          + pool overhead instead of Σ(query) — sublinear in the
          registered count until the pool saturates (pinned by
          tests/test_live.py).
        * ``batched=True``: ALL pending queries of one (mode, k) go
          through a single ``IndexReader.search_many`` job — one
          postings scan per group instead of one per query. Preferred
          when many queries are registered; pooled remains the default
          because per-query jobs keep the driver-local small-query
          fast path (search_many is always fully distributed).

        Diffing/state update stays serial and deterministic: snapshots
        are joined back in registration order."""
        d = os.path.abspath(self._resolve_index(index_dir))
        pending = [
            (name, q) for name, q in self._state.items()
            if q["generation"] != d
        ]
        all_rows: List[tuple] = []
        if pending:
            reader = IndexReader(self.spark, d)
            # warm the one-time dictionary cache before fanning out so
            # worker threads never serialize on its first-load lock
            reader._ensure_dict()

            def run(q: dict) -> List[dict]:
                return self._snapshot(reader, q["terms"], q["mode"], q["k"])

            if batched:
                snaps = self._snapshots_batched(reader, pending)
            elif max_workers > 1 and len(pending) > 1:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(
                    max_workers=min(max_workers, len(pending))
                ) as pool:
                    snaps = list(pool.map(run, [q for _, q in pending]))
            else:
                snaps = [run(q) for _, q in pending]
            for (name, q), new in zip(pending, snaps):
                rows = _diff_rows(name, q["results"], new)
                q["results"] = new
                q["generation"] = d
                all_rows.extend(rows)
        diff = literal_frame(self.spark, all_rows, _DIFF_FIELDS)
        # event log BEFORE the snapshot save: persisting the advanced
        # generation first would make a crash in between drop these
        # diffs forever (the restarted refresh would see nothing
        # pending). This order is at-least-once instead — a crash
        # between append and save re-emits the same (query, generation)
        # rows on restart, which consumers dedupe deterministically.
        if log and all_rows:
            # an append after an interrupted compaction swap would
            # recreate the log dir with just this batch and orphan the
            # full history in log.old — finish the swap first
            self._recover_log()
            batch = diff.withColumn(
                "refresh_ts", F.lit(int(time.time() * 1000))
            ).withColumn("generation", F.lit(d))
            batch.coalesce(1).write.mode("append").parquet(
                os.path.join(self.state_dir, "log")
            )
            self._maybe_compact_log()
        self._save()
        if on_event is not None:
            for r in all_rows:
                on_event(dict(zip([f[0] for f in _DIFF_FIELDS], r)))
        return diff

    def _log_dir(self) -> str:
        return os.path.join(self.state_dir, "log")

    def _recover_log(self) -> None:
        """Complete an interrupted compaction swap so every later
        append/read sees the full history. States a crash can leave:

        - ``log`` missing, ``log.old`` present: the swap died between
          its two renames. The compacted copy (``log.compacting``) is
          complete iff Spark committed it (``_SUCCESS``); promote it,
          else restore ``log.old``. Either way the full log is back at
          the canonical path before anything appends to it.
        - ``log`` and ``log.old`` both present: the swap finished but
          the cleanup didn't; ``log.old`` is a stale full copy, drop it.
        - a leftover ``log.compacting`` with ``log`` present is inert
          (the next compaction rewrites it from scratch).
        """
        import shutil

        log_dir = self._log_dir()
        tmp = log_dir + ".compacting"
        old = log_dir + ".old"
        if not os.path.isdir(old):
            return
        if not os.path.isdir(log_dir):
            if os.path.isfile(os.path.join(tmp, "_SUCCESS")):
                os.rename(tmp, log_dir)
            else:
                os.rename(old, log_dir)
        shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)

    def _maybe_compact_log(self) -> None:
        """Rewrite the append-only event log into one file once its
        part-file count passes ``_LOG_COMPACT_FILES`` — the same story
        as the index's segment auto-compaction (streaming.py), applied
        to the S7 sink. Restart-proof: the trigger is the on-disk file
        count, no counter state. Crash windows leave either the old dir
        (swap not started) or ``log.old`` (swap interrupted) —
        ``_recover_log`` folds either state back to the canonical path
        before the next append or read touches it."""
        log_dir = self._log_dir()
        try:
            parts = [
                f for f in os.listdir(log_dir)
                if f.startswith("part-") and not f.endswith(".crc")
            ]
        except FileNotFoundError:
            return
        if len(parts) < _LOG_COMPACT_FILES:
            return
        import shutil

        tmp = log_dir + ".compacting"
        old = log_dir + ".old"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        self.spark.read.parquet(log_dir).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        os.rename(log_dir, old)
        os.rename(tmp, log_dir)
        shutil.rmtree(old, ignore_errors=True)

    def event_log(self) -> DataFrame:
        """All diffs ever emitted (the S7 live-result sink analog).
        Refreshes only create the log on a non-empty diff, so before
        any diff has been emitted this returns an EMPTY frame with the
        full log schema instead of raising path-not-found.

        The returned frame is lazy over the CURRENT log files;
        compaction (triggered by a later ``refresh``) rewrites them, so
        a frame held across refreshes can hit missing-file errors on
        re-execution. Re-obtain after refreshing, or materialize
        (``collect``/``cache`` + action) to hold results."""
        self._recover_log()
        log_dir = self._log_dir()
        if not os.path.isdir(log_dir):
            return literal_frame(
                self.spark, [],
                _DIFF_FIELDS + [("refresh_ts", "long"), ("generation", "string")],
            )
        return self.spark.read.parquet(log_dir)
