#!/usr/bin/env python3
"""spark_search benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload serve_scale --seed 1 --seconds 10 --trace 0

Prints every metric by name with its unit, then, as the last line, one
JSON object {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json; with
``--trace 1`` they are the per-layer ones, taken from spans the run keeps
in memory and writes to perfbench/.work/results/ at the end.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import env  # noqa: E402
from helpers import TAIL_BEYOND, median, summarize_ms  # noqa: E402


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _p50(xs):
    return median(xs) if xs else 0.0


def end_to_end(run, rss_mb: float, lat: dict) -> dict:
    """The gated metrics. Times are scaled to a host on which the yardstick
    job (workloads.yardstick_ms) takes YARDSTICK_REF_MS: on a shared host
    raw set-up time and query latency rose and fell by a third or more
    with the load, and the scaled figures held within about a tenth."""
    from spark_search.progress import dir_bytes

    from workloads import YARDSTICK_REF_MS

    scale = YARDSTICK_REF_MS / lat["ref_p50"]
    return {
        "setup_s": median(run.setup_s) * scale,
        "query_p50_ms": lat["p50"] * scale,
        "index_bytes_per_input_byte": dir_bytes(run.index_dir) / run.input_bytes,
        "peak_rss_mb": rss_mb,
    }


def wall(run) -> dict:
    """Raw figures of the measured queries: wall-clock median, slowest,
    the tail rule's percentile and the closed loop's rate; CPU time per
    query; and the yardstick job's median."""
    measured = [r for r in run.queries if r["e2e"]]
    if not measured:
        raise RuntimeError("no query completed in the measured window")
    ms = [r["ms"] for r in measured]
    q = summarize_ms(ms)
    q["per_s"] = len(ms) / (sum(ms) / 1e3)
    q["cpu_p50"] = median([r["cpu_ms"] for r in measured])
    q["ref_p50"] = median([r["ref_ms"] for r in measured])
    return q


def per_layer(run, lat: dict) -> dict:
    from workloads import MODES, manifest_layers

    tr = run.tracer
    tr.settle()
    jobs = {r["op"]: tr.op_jobs(r["op"]) for r in run.queries}
    out = {
        "query.search_ms": _p50(tr.durations_ms("query.search")),
        "query.collect_ms": _p50(tr.durations_ms("query.collect")),
        "query.match_terms_ms": _p50(tr.durations_ms("query.match_terms")),
        "query.reader_open_ms": _p50(run.reader_open_ms),
        "query.first_query_ms": _p50(run.first_query_ms),
        "query.vocab_terms": float(run.facts["n_terms"]),
        "query.chunks": float(run.facts["chunks"]),
    }
    for kind in ("jobs", "stages", "tasks"):
        vals = [j[kind] for j in jobs.values()]
        out[f"query.{kind}_per_query"] = sum(vals) / len(vals)
    for band in ("rare", "mid", "hot", "wide"):
        rs = [r for r in run.queries if r["band"] == band]
        out[f"query.{band}_p50_ms"] = _p50([r["ms"] for r in rs])
        out[f"query.{band}_jobs_per_query"] = (
            sum(jobs[r["op"]]["jobs"] for r in rs) / len(rs) if rs else 0.0
        )
    for mode in MODES:
        out[f"query.{mode}_p50_ms"] = _p50([r["ms"] for r in run.queries if r["mode"] == mode])
    out.update(manifest_layers(run.build_manifest))
    out["build.docs_per_s"] = run.facts["n_docs_built"] / run.build_s
    for key in ("codec.decode_mb_per_s", "codec.encode_mb_per_s", "build.jobs",
                "build.tasks", "build.failed_tasks"):
        out[key] = run.layer[key]
    out["maintain.upsert_p50_ms"] = _p50(run.upsert_ms)
    out["maintain.delete_p50_ms"] = _p50(run.delete_ms)
    out["maintain.compact_s"] = run.compact_s or 0.0
    out["maintain.upsert_build_s"] = _p50(run.upsert_build_s)
    for key in ("maintain.segments", "maintain.tombstones", "maintain.compact_bytes_rewritten"):
        out[key] = run.layer.get(key, 0.0)
    out["trace.query_p50_ms"] = lat["p50"]
    n_ops = max(1, tr._next_op)
    out["trace.bookkeeping_ms_per_op"] = tr.bookkeeping_s * 1e3 / n_ops
    run.facts["jobs_by_band"] = {
        b: out[f"query.{b}_jobs_per_query"] for b in ("rare", "mid", "hot", "wide")
    }
    return out


def untraced_p50(workload: str, seed: int):
    """query_p50_ms of this checkout's last untraced run of the same
    workload and seed, if there is one (for the tracing overhead)."""
    try:
        with open(os.path.join(env.RESULTS, f"{workload}-seed{seed}-trace0.json")) as f:
            return json.load(f)["end_to_end"]["query_p50_ms"]
    except (OSError, KeyError, ValueError):
        return None


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    try:
        import spark_search  # noqa: F401
        import bench_scaling_gated  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    from spans import Tracer
    from workloads import WORKLOADS, Run

    dirs = env.RunDirs(args.workload)
    tempfile.tempdir = dirs.tmp
    try:
        probe = env.probe_machine()
        steal0 = env.steal_jiffies()
        cores = env.nproc()
        t0 = time.perf_counter()
        spark = env.start_spark(dirs, cores)
        spark_start_s = time.perf_counter() - t0
        try:
            run = Run(spark, dirs, args.seed, args.seconds, Tracer(spark, bool(args.trace)))
            WORKLOADS[args.workload](run)
            run.phase("measure")
            run.facts["setup_samples_s"] = run.setup_s
            if run.build_manifest is not None:
                run.facts["n_docs_built"] = int(run.build_manifest.stats["n_docs"])
            lat = wall(run)
            e2e = end_to_end(run, env.peak_rss_mb(env.jvm_pid(spark)), lat)
            layers = per_layer(run, lat) if args.trace else None
            master = spark.sparkContext.master
        finally:
            env.stop_spark(spark)
        steal1 = env.steal_jiffies()
        steal_share = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        if args.trace:
            run.tracer.write(os.path.join(
                env.RESULTS, f"{args.workload}-seed{args.seed}-spans.json"))
    finally:
        dirs.remove()

    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores, "master": master,
        "spark_start_s": spark_start_s, "probe": probe, "steal_share": steal_share,
        "tail_percentile": lat["tail_pct"], "n_queries": lat["n"],
        "error_rate": run.tally.error_rate, "failures": run.tally.failures,
        "facts": run.facts,
    }
    # not in the JSON line: raw latency and CPU time follow the load of
    # the host as much as the program, the tail rule needs more samples than a
    # run may take, and the write-side and build metrics apply to one
    # workload
    extra = {
        "setup_raw_s": (median(run.setup_s), "s"),
        "query_p50_raw_ms": (lat["p50"], "ms"),
        "query_tail_ms": (lat["tail"], "ms"),
        "query_max_ms": (lat["max"], "ms"),
        "queries_per_s": (lat["per_s"], "1/s"),
        "query_cpu_ms": (lat["cpu_p50"], "ms"),
        "yardstick_ms": (lat["ref_p50"], "ms"),
        "error_rate": (run.tally.error_rate, "ratio"),
        "build_docs_per_s": (
            run.facts["n_docs_built"] / run.build_s if run.build_s else None, "1/s"),
        "upsert_p50_ms": (_p50(run.upsert_ms) if run.upsert_ms else None, "ms"),
        "delete_p50_ms": (_p50(run.delete_ms) if run.delete_ms else None, "ms"),
        "compact_s": (run.compact_s, "s"),
    }
    for k, v in context.items():
        if k not in ("facts", "failures"):
            print(f"context {k} = {v}")
    print(f"context facts = {json.dumps(run.facts, sort_keys=True, default=str)}")

    sections = [("end_to_end", e2e)] + ([("per_layer", layers)] if args.trace else [])
    for section, values in sections:
        for m in bench[section]:
            print(f"{section} {m['name']} = {values[m['name']]:.6g} {m['unit']}")
    for name, (value, unit) in extra.items():
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"end_to_end {name} = {shown} {unit}")
    if lat["tail"] is None:
        print(f"context query_tail_ms is n/a: {lat['n']} samples put the highest "
              f"percentile with {TAIL_BEYOND} beyond at p{lat['tail_pct']:.3g}, "
              "not above the median")
    if args.trace:
        base = untraced_p50(args.workload, args.seed)
        if base is not None:
            context["trace_overhead_ms"] = e2e["query_p50_ms"] - base
            print(f"context trace_overhead_ms = {context['trace_overhead_ms']:.6g} "
                  "(traced minus untraced query_p50_ms, same seed)")

    detail = {
        "context": context,
        "end_to_end": e2e,
        "extra": {k: v[0] for k, v in extra.items()},
        "per_layer": layers,
        "queries": [{k: r[k] for k in ("mode", "band", "ms", "cpu_ms", "ref_ms", "e2e")} for r in run.queries],
    }
    with open(os.path.join(env.RESULTS, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True, default=str)

    section, values = sections[-1]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in bench[section]}
    print(json.dumps({
        "correct": run.tally.failed == 0,
        "attempted": run.tally.attempted,
        "failed": run.tally.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
