"""Pure helpers of the benchmark: percentiles, df bands, error counting,
top-k comparison and the BENCHMARK.json schema check.

Nothing here touches Spark, so the unit tests run in milliseconds.
"""

from __future__ import annotations

import math
import re
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

# A tail percentile must leave at least this many samples beyond it.
TAIL_BEYOND = 10

# df bands, as the share of the index's documents a query's matched
# terms cover (sum of df over matched terms / n_docs).
RARE_MAX_SHARE = 0.01
MID_MAX_SHARE = 0.5
# Expansions wider than the engine's driver-side metadata cap
# (query._META_COLLECT_CAP) take the distributed metadata path; they get
# their own band so they do not blur the rare/mid/hot split.
WIDE_MIN_TERMS = 1025


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolated percentile, ``p`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Sequence[float]) -> float:
    return percentile(values, 50.0)


def tail(values: Sequence[float], beyond: int = TAIL_BEYOND) -> Tuple[float, float]:
    """(percentile, value) of the highest percentile that still has at
    least ``beyond`` samples above it.

    With n samples sorted ascending, the (n - beyond)-th one (1-based) is
    the highest order statistic with ``beyond`` samples beyond it; its
    percentile is 100 * (n - beyond) / n. With ``beyond`` or fewer
    samples no percentile qualifies, and the median is reported as
    percentile 50 instead.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= beyond:
        return 50.0, median(xs)
    return 100.0 * (n - beyond) / n, xs[n - beyond - 1]


def df_band(sum_df: int, n_matched: int, n_docs: int) -> str:
    """Band of a query from its ``match_terms`` expansion."""
    if n_matched >= WIDE_MIN_TERMS:
        return "wide"
    share = sum_df / n_docs if n_docs else 0.0
    if share < RARE_MAX_SHARE:
        return "rare"
    if share < MID_MAX_SHARE:
        return "mid"
    return "hot"


class Tally:
    """Operations attempted, and those that failed or answered wrong."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: List[str] = []

    def record(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def same_topk(
    got: Sequence[Tuple[int, float]],
    want: Sequence[Tuple[int, float]],
    k: int,
    tol: float = 1e-9,
) -> bool:
    """True iff ``got`` is a correct top-k given the reference ranking
    ``want`` (which may run past k so the tie group at the cut is whole).

    Scores must agree rank by rank within ``tol``. Doc ids must agree
    rank by rank, except that docs whose scores tie within ``tol`` may
    appear in any order, and at the cut any members of the tied group
    may be kept.
    """
    want_k = list(want[:k])
    if len(got) != len(want_k):
        return False
    for (_, gs), (_, ws) in zip(got, want_k):
        if abs(gs - ws) > tol:
            return False
    i = 0
    while i < len(want_k):
        j = i
        while j + 1 < len(want_k) and abs(want_k[j + 1][1] - want_k[i][1]) <= tol:
            j += 1
        group_score = want_k[i][1]
        pool = {d for d, s in want if abs(s - group_score) <= tol}
        got_ids = [d for d, _ in got[i : j + 1]]
        if len(set(got_ids)) != len(got_ids) or not set(got_ids) <= pool:
            return False
        if j + 1 < len(want_k) or len(pool) == j - i + 1:
            # an inner group (or a cut group with no extra members) must
            # hold exactly the reference's ids
            if set(got_ids) != {d for d, _ in want_k[i : j + 1]}:
                return False
        i = j + 1
    return True


# ------------------------------------------------------- BENCHMARK.json

_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
_UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
_PATH = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")
_METRIC_KEYS = {"end_to_end": {"name", "unit", "better", "bound"},
                "per_layer": {"name", "unit", "better"}}


def check_benchmark_json(doc: Dict) -> List[str]:
    """Problems with a BENCHMARK.json document; empty when it is valid."""
    problems: List[str] = []
    keys = {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    if set(doc) != keys:
        return [f"keys must be exactly {sorted(keys)}, got {sorted(doc)}"]

    paths = doc["paths"]
    if not (isinstance(paths, list) and 1 <= len(paths) <= 16):
        problems.append("paths: 1 to 16 entries")
    else:
        for p in paths:
            if not (isinstance(p, str) and _PATH.match(p)) or _escapes(p):
                problems.append(f"paths: bad path {p!r}")

    cmd = doc["command"]
    if not (isinstance(cmd, list) and 1 <= len(cmd) <= 32):
        problems.append("command: 1 to 32 strings")
    else:
        for c in cmd:
            if not (isinstance(c, str) and len(c) <= 200):
                problems.append(f"command: bad argument {c!r}")
            elif _escapes(c):
                problems.append(f"command: {c!r} leaves the repository")

    rs = doc["run_seconds"]
    if not (isinstance(rs, int) and not isinstance(rs, bool) and 1 <= rs <= 60):
        problems.append("run_seconds: a whole number from 1 to 60")

    wl = doc["workloads"]
    if not (isinstance(wl, list) and 2 <= len(wl) <= 8):
        problems.append("workloads: 2 to 8 entries")
        wl = []
    names: List[str] = []
    for w in wl:
        if not (isinstance(w, dict) and set(w) == {"name", "why"}):
            problems.append(f"workload {w!r}: keys must be name and why")
            continue
        names.append(w["name"])
        why = w["why"]
        if not (isinstance(why, str) and why and len(why) <= 200 and "\n" not in why):
            problems.append(f"workload {w['name']!r}: why must be one line of at most 200 characters")

    for section, lo, hi in (("end_to_end", 1, 16), ("per_layer", 1, 128)):
        ms = doc[section]
        if not (isinstance(ms, list) and lo <= len(ms) <= hi):
            problems.append(f"{section}: {lo} to {hi} entries")
            continue
        for m in ms:
            if not (isinstance(m, dict) and set(m) == _METRIC_KEYS[section]):
                problems.append(f"{section} {m!r}: keys must be {sorted(_METRIC_KEYS[section])}")
                continue
            names.append(m["name"])
            if not (isinstance(m["unit"], str) and _UNIT.match(m["unit"])):
                problems.append(f"{m['name']}: bad unit {m['unit']!r}")
            if m["better"] not in ("lower", "higher"):
                problems.append(f"{m['name']}: better must be lower or higher")
            if section == "end_to_end":
                b = m["bound"]
                if not (isinstance(b, (int, float)) and 0 < b <= 0.25):
                    problems.append(f"{m['name']}: bound must be in (0, 0.25]")
        if section == "end_to_end" and not any(
            isinstance(m, dict) and m.get("name") == "setup_s"
            and m.get("unit") == "s" and m.get("better") == "lower"
            for m in ms
        ):
            problems.append("end_to_end: needs setup_s in s, lower is better")

    for n in names:
        if not (isinstance(n, str) and _NAME.match(n)):
            problems.append(f"bad name {n!r}")
    dup = {n for n in names if names.count(n) > 1}
    if dup:
        problems.append(f"names used twice: {sorted(dup)}")
    return problems


def _escapes(p: str) -> bool:
    return p.startswith("/") or ".." in p.split("/")


def summarize_ms(values: Iterable[float]) -> Optional[Dict[str, Optional[float]]]:
    """Median, slowest sample and the tail rule's (percentile, value) of
    latency samples. The tail value is None unless its sample lies above
    both samples the median is taken from (at least 2 * TAIL_BEYOND + 3
    samples): a lower order statistic is no tail."""
    xs = list(values)
    if not xs:
        return None
    n = len(xs)
    p, v = tail(xs)
    above = n - TAIL_BEYOND - 1 > n // 2
    return {"p50": median(xs), "max": max(xs), "tail": v if above else None,
            "tail_pct": p, "n": n}
