"""In-memory spans around the benchmark's calls into spark_search, and
Spark job accounting per operation.

A span records name, start, end, parent span and operation id. Spans of
one client operation (one query, one write) share the operation id.
Spans are kept in memory and written out once, after the run.

With tracing off, ``span`` and ``op`` still yield but record nothing and
set no Spark job group, so the untraced run measures the program alone.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from typing import Dict, Iterator, List, Optional

JOB_GROUP_PREFIX = "perfbench-op-"


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: List[Dict] = []
        self._stack: List[int] = []
        self._op: Optional[int] = None
        self._next_op = 0
        # op id -> job group set while the op ran (tracing on only)
        self.op_groups: Dict[int, str] = {}
        # op id -> the op's root span
        self.op_spans: Dict[int, Dict] = {}
        self.bookkeeping_s = 0.0

    @contextmanager
    def op(self, name: str, **attrs) -> Iterator[Optional[int]]:
        """One client operation. With tracing on, its Spark jobs run
        under a job group of their own, so statusTracker can count them."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        op_id = self._next_op
        self._next_op += 1
        group = f"{JOB_GROUP_PREFIX}{op_id}"
        self.op_groups[op_id] = group
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        prev, self._op = self._op, op_id
        self.bookkeeping_s += time.perf_counter() - t0
        try:
            with self.span(name, **attrs) as rec:
                self.op_spans[op_id] = rec
                yield op_id
        finally:
            t1 = time.perf_counter()
            sc.setJobGroup("", "")
            self._op = prev
            self.bookkeeping_s += time.perf_counter() - t1

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[Optional[Dict]]:
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        rec = {
            "name": name,
            "op": self._op,
            "parent": self._stack[-1] if self._stack else None,
            "start": 0.0,
            "end": 0.0,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self.bookkeeping_s += time.perf_counter() - t0
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t1 = time.perf_counter()
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - t1

    def annotate(self, op_id: Optional[int], **attrs) -> None:
        """Add attributes to an op's root span after the op has ended."""
        if op_id is not None:
            self.op_spans[op_id].update(attrs)

    # ---------------------------------------------------------- reading

    def durations_ms(self, name: str, **match) -> List[float]:
        return [
            (s["end"] - s["start"]) * 1e3
            for s in self.spans
            if s["name"] == name and all(s.get(k) == v for k, v in match.items())
        ]

    def op_jobs(self, op_id: int) -> Dict[str, int]:
        """Jobs, stages and tasks Spark ran under the op's job group."""
        tracker = self.spark.sparkContext.statusTracker()
        jobs = stages = tasks = 0
        for jid in tracker.getJobIdsForGroup(self.op_groups[op_id]):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                stages += 1
                tasks += st.numTasks if st is not None else 0
        return {"jobs": jobs, "stages": stages, "tasks": tasks}

    def settle(self, timeout_s: float = 5.0) -> None:
        """Wait until Spark's status store has seen every job of the run
        (it is fed asynchronously), so job counts read afterwards are
        whole."""
        tracker = self.spark.sparkContext.statusTracker()
        deadline = time.time() + timeout_s
        while time.time() < deadline and tracker.getActiveJobsIds():
            time.sleep(0.05)
        time.sleep(0.3)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def build_group_jobs(spark, index_dir_prefix: str) -> Dict[str, Dict[str, int]]:
    """Jobs, tasks and failed tasks per build job group
    (``build.build_job_group``) whose index dir starts with
    ``index_dir_prefix``. Build groups carry a per-call nonce, so they are
    read back from Spark's status store rather than named in advance."""
    store = spark.sparkContext._jsc.sc().statusStore()
    seq = store.jobsList(None)
    out: Dict[str, Dict[str, int]] = {}
    prefix = f"spark_search.build:{index_dir_prefix}"
    for i in range(seq.size()):
        jd = seq.apply(i)
        grp = jd.jobGroup()
        if not grp.isDefined() or not str(grp.get()).startswith(prefix):
            continue
        rec = out.setdefault(str(grp.get()), {"jobs": 0, "tasks": 0, "failed_tasks": 0})
        rec["jobs"] += 1
        rec["tasks"] += int(jd.numTasks())
        rec["failed_tasks"] += int(jd.numFailedTasks())
    return out
