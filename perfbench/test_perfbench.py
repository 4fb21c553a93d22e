"""Unit tests of the benchmark's own helpers (no Spark).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from helpers import (  # noqa: E402
    Tally,
    check_benchmark_json,
    df_band,
    median,
    same_topk,
    summarize_ms,
    tail,
)
from inputs import documents  # noqa: E402


# ------------------------------------------------------------ tail rule


def test_tail_leaves_ten_samples_beyond():
    xs = list(range(1, 31))  # 30 samples
    pct, v = tail(xs)
    assert v == 20
    assert sum(1 for x in xs if x > v) == 10
    assert pct == pytest.approx(100 * 20 / 30)


def test_tail_is_the_highest_such_percentile():
    xs = [float(i) for i in range(100)]
    pct, v = tail(xs)
    assert sum(1 for x in xs if x > v) == 10
    # one order statistic higher would leave only 9 beyond
    assert sum(1 for x in xs if x > v + 1) == 9
    assert pct == 90.0


def test_tail_ignores_input_order():
    assert tail([5, 1, 4, 2, 3, 9, 8, 7, 6, 10, 11, 12]) == tail(list(range(1, 13)))


def test_tail_with_too_few_samples_reports_the_median():
    xs = [3.0, 1.0, 2.0, 10.0]
    assert tail(xs) == (50.0, median(xs))
    assert tail(list(range(10)))[0] == 50.0
    assert tail(list(range(11))) == (100 * 1 / 11, 0)


def test_tail_of_nothing_raises():
    with pytest.raises(ValueError):
        tail([])


# ------------------------------------------------------------- df bands


def test_df_bands_by_share_of_docs():
    n = 10_000
    assert df_band(1, 1, n) == "rare"
    assert df_band(99, 1, n) == "rare"
    assert df_band(100, 1, n) == "mid"
    assert df_band(4_999, 3, n) == "mid"
    assert df_band(5_000, 1, n) == "hot"
    # sum of df over several terms can pass n_docs
    assert df_band(25_000, 6, n) == "hot"


def test_wide_expansions_have_their_own_band():
    assert df_band(1_024, 1_024, 270_000) == "rare"
    assert df_band(1_111, 1_111, 270_000) == "wide"


def test_empty_expansion_is_rare():
    assert df_band(0, 0, 100) == "rare"
    assert df_band(0, 0, 0) == "rare"


# ---------------------------------------------------------- error counting


def test_tally_counts_failed_and_wrong_answers():
    t = Tally()
    assert t.error_rate == 0.0
    for ok in (True, True, False, True):
        t.record(ok, "q")
    t.record(False, "upsert")
    assert (t.attempted, t.failed) == (5, 2)
    assert t.error_rate == pytest.approx(0.4)
    assert t.failures == ["q", "upsert"]


# --------------------------------------------------------- top-k compare


def test_same_topk_exact_match():
    want = [(1, 3.0), (2, 2.0), (3, 1.0)]
    assert same_topk(want, want, 3)
    assert same_topk(want[:2], want, 2)


def test_same_topk_scores_within_tolerance():
    want = [(1, 3.0), (2, 2.0)]
    assert same_topk([(1, 3.0 + 5e-10), (2, 2.0)], want, 2)
    assert not same_topk([(1, 3.0 + 1e-6), (2, 2.0)], want, 2)


def test_same_topk_rejects_wrong_ids_and_lengths():
    want = [(1, 3.0), (2, 2.0), (3, 1.0)]
    assert not same_topk([(1, 3.0), (4, 2.0), (3, 1.0)], want, 3)
    assert not same_topk([(1, 3.0), (2, 2.0)], want, 3)
    assert not same_topk([(1, 3.0), (1, 2.0), (3, 1.0)], want, 3)


def test_same_topk_ties_may_reorder():
    want = [(1, 3.0), (2, 2.0), (5, 2.0), (3, 1.0)]
    assert same_topk([(1, 3.0), (5, 2.0), (2, 2.0), (3, 1.0)], want, 4)


def test_same_topk_cut_tie_group_may_keep_any_members():
    # ranks 2..4 tie; k=3 cuts the group, so any two of {2, 5, 7} do
    want = [(1, 3.0), (2, 2.0), (5, 2.0), (7, 2.0), (3, 1.0)]
    assert same_topk([(1, 3.0), (5, 2.0), (7, 2.0)], want, 3)
    assert not same_topk([(1, 3.0), (5, 2.0), (3, 2.0)], want, 3)


# ------------------------------------------------------ BENCHMARK.json


def _bench():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_meets_the_schema():
    assert check_benchmark_json(_bench()) == []


def test_schema_requires_setup_s():
    doc = _bench()
    doc["end_to_end"] = [m for m in doc["end_to_end"] if m["name"] != "setup_s"]
    assert any("setup_s" in p for p in check_benchmark_json(doc))


@pytest.mark.parametrize(
    "mutate",
    [
        lambda d: d["end_to_end"][0].__setitem__("bound", 0.3),
        lambda d: d["end_to_end"][0].__setitem__("name", "_bad"),
        lambda d: d["per_layer"][0].__setitem__("unit", "m s"),
        lambda d: d.__setitem__("run_seconds", 61),
        lambda d: d.__setitem__("paths", ["/abs"]),
        lambda d: d.__setitem__("command", ["python3", "../x.py"]),
        lambda d: d.__setitem__("workloads", d["workloads"][:1]),
        lambda d: d.__setitem__("extra", 1),
        lambda d: d["per_layer"].append(dict(d["per_layer"][0])),
        lambda d: d["workloads"][0].__setitem__("why", "two\nlines"),
    ],
)
def test_schema_rejects_broken_documents(mutate):
    doc = _bench()
    mutate(doc)
    assert check_benchmark_json(doc)


def test_per_layer_emits_exactly_the_declared_metrics():
    from types import SimpleNamespace

    import run as bench_run

    class FakeTracer:
        _next_op = 3
        bookkeeping_s = 0.003

        def settle(self):
            pass

        def op_jobs(self, op):
            return {"jobs": 2, "stages": 3, "tasks": 8}

        def durations_ms(self, name):
            return [1.0, 2.0]

    stage = {"wall_s": 1.0, "bytes": 10, "finished_at": 5.0}
    fake = SimpleNamespace(
        tracer=FakeTracer(),
        queries=[{"mode": "exact", "band": "rare", "ms": 5.0, "op": 0, "e2e": True}],
        reader_open_ms=[1.0], first_query_ms=[2.0],
        facts={"n_terms": 10, "chunks": 1, "n_docs_built": 100},
        build_manifest=SimpleNamespace(stages={
            "docs": stage, "postings-0/1": stage, "postings-compact": stage, "terms": stage}),
        build_s=2.0,
        layer={"codec.decode_mb_per_s": 1.0, "codec.encode_mb_per_s": 1.0,
               "build.jobs": 1.0, "build.tasks": 1.0, "build.failed_tasks": 0.0},
        upsert_ms=[], delete_ms=[], compact_s=None, upsert_build_s=[],
    )
    out = bench_run.per_layer(fake, {"p50": 5.0})
    assert set(out) == {m["name"] for m in _bench()["per_layer"]}
    assert all(isinstance(v, float) or isinstance(v, int) for v in out.values())


# --------------------------------------------------------------- inputs


def test_documents_are_seeded():
    a, va = documents(7, 500, 5, 20)
    b, vb = documents(7, 500, 5, 20)
    c, _ = documents(8, 500, 5, 20)
    assert a[1] == b[1] and va == vb
    assert a[1] != c[1]
    assert list(a[0]) == list(range(500))


def test_documents_span_all_df_bands():
    from collections import Counter

    (ids, texts, _, _), _ = documents(3, 5_000, 5, 20)
    df = Counter(t for text in texts for t in set(text.split()))
    bands = Counter(df_band(d, 1, len(ids)) for d in df.values())
    assert bands["rare"] and bands["mid"] and bands["hot"]


def test_serve_scale_cycle_keeps_the_median_inside_the_mid_group():
    """Sorted by cost, the samples the median is taken from and their
    neighbours are mid queries, however many queries the measured window
    (which starts after the warm-up) takes."""
    from workloads import CYCLE, MIN_MEASURED, WARMUP

    cost = {"rare": 1.0, "mid_idents": 2.0, "mid_libs": 2.1, "hot": 3.0}
    group = {1.0: "rare", 2.0: "mid", 2.1: "mid", 3.0: "hot"}
    for n in range(MIN_MEASURED, 40):
        xs = sorted(cost[CYCLE[i % len(CYCLE)]] for i in range(WARMUP, WARMUP + n))
        lo, hi = (n - 1) // 2, n // 2
        assert {group[x] for x in xs[lo - 1:hi + 2]} == {"mid"}


def test_serve_scale_warm_up_sends_every_kind():
    from workloads import CYCLE, WARMUP

    assert set(CYCLE[:WARMUP]) == set(CYCLE)


def test_ingest_probes_keep_the_median_inside_the_mid_probes():
    """ingest's samples: 3 oracle checks (slow), then on each of the two
    snapshots of an untraced run a hot OR (slow), the point probes and a
    token (fast)."""
    from workloads import POINT_PROBES

    cost = {"fast": 1.0, "mid": 2.0, "slow": 3.0}
    kinds = ["slow"] * 3
    for _ in range(2):
        kinds += ["slow"] + [b if b == "mid" else "fast" for b in POINT_PROBES] + ["fast"]
    xs = sorted(cost[k] for k in kinds)
    n = len(xs)
    lo, hi = (n - 1) // 2, n // 2
    assert set(xs[lo - 1:hi + 2]) == {cost["mid"]}


def test_summary_reports_a_tail_only_above_the_median():
    few = summarize_ms([float(i) for i in range(20)])
    assert few["tail"] is None and few["max"] == 19.0 and few["n"] == 20
    assert few["tail_pct"] <= 50.0
    # 21 and 22 samples: the tail sample is one the median is taken from
    assert summarize_ms([float(i) for i in range(21)])["tail"] is None
    assert summarize_ms([float(i) for i in range(22)])["tail"] is None
    assert summarize_ms([float(i) for i in range(23)])["tail"] == 12.0
    many = summarize_ms([float(i) for i in range(40)])
    assert many["tail"] == 29.0 and many["tail_pct"] == 75.0
    assert many["tail"] > many["p50"]
    assert summarize_ms([]) is None


# ---------------------------------------------------------- cache key


def test_engine_fingerprint_follows_the_source(tmp_path):
    from env import engine_fingerprint

    pkg = tmp_path / "pkg"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "a.py").write_text("x = 1\n")
    (pkg / "sub" / "b.py").write_text("y = 2\n")
    first = engine_fingerprint(str(pkg))
    assert engine_fingerprint(str(pkg)) == first
    # bytecode caches do not count
    (pkg / "__pycache__").mkdir()
    (pkg / "__pycache__" / "a.cpython.pyc").write_bytes(b"\0")
    assert engine_fingerprint(str(pkg)) == first
    (pkg / "sub" / "b.py").write_text("y = 3\n")
    assert engine_fingerprint(str(pkg)) != first
    (pkg / "sub" / "b.py").write_text("y = 2\n")
    (pkg / "sub" / "b.py").rename(pkg / "sub" / "c.py")
    assert engine_fingerprint(str(pkg)) != first


def test_tree_cpu_counts_reaped_children():
    import subprocess

    from env import tree_cpu_s

    before = tree_cpu_s()
    subprocess.run(
        [sys.executable, "-c",
         "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"],
        check=True,
    )
    assert tree_cpu_s() - before >= 0.25
