#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline pipeline at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` (default 32) and
prints ONE JSON line:

    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline measurements (BASELINE.md §2):
  * index-build wall time + files/sec (the build throughput target)
  * BM25 top-10 query latency per reference-style query (warm index)

The ``value`` is total wall seconds for build + all queries (lower is
better). Extra keys carry throughput detail for BENCH.md.

Weather-proofing (BASELINE.md §4.27): this sandbox has host episodes
where first-touch page faults drop 20-100x (invisible to steal%) and
co-tenant CPU contention that halves deliverable parallel throughput.
A run recorded during either measures the episode, not the engine, so
the harness
  1. GATES the launch on the same capacity + fresh-mmap fault-rate
     probes as bench_scaling_gated.py (bounded wait, then proceed with
     the readings recorded),
  2. stamps a fault-rate probe around EVERY section (build, queries,
     training ops) so each number is individually attributable, and
  3. RETRIES the whole measurement (same warm JVM) up to
     $SPARK_GRAFT_BENCH_RETRIES times when a bracketing probe shows an
     episode hit mid-run. The printed JSON self-describes which attempt
     it is and every probe reading.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# launch gate: only start in a clearly-normal window (>700 is the
# normal mode)
FAULT_LAUNCH_MBPS = 500.0
# mid-run attribution bar: the pathological mode is <100 MB/s; readings
# between the modes (measured ~150-180) do not slow Spark measurably
# (it recycles pages), so only a sub-120 reading marks a section dirty
FAULT_OK_MBPS = 120.0
CAPACITY_OK = 0.90


def _probes() -> dict:
    """Instantaneous machine health: deliverable parallel CPU + fresh
    first-touch fault bandwidth. ~2 s total."""
    try:
        from bench_scaling_gated import capacity_ratio, fault_rate_mbps

        return {
            "capacity": round(capacity_ratio(), 3),
            "fault_mbps": round(fault_rate_mbps()),
        }
    except Exception:
        return {}


def _healthy(p: dict) -> bool:
    if not p:
        return True  # probes unavailable: nothing to gate on
    return (
        p.get("fault_mbps", FAULT_LAUNCH_MBPS) >= FAULT_LAUNCH_MBPS
        and p.get("capacity", CAPACITY_OK) >= CAPACITY_OK
    )


def _gate(max_wait_s: float) -> dict:
    """Wait (bounded) for a quiet window; return the last readings."""
    t0 = time.time()
    while True:
        p = _probes()
        if _healthy(p) or time.time() - t0 > max_wait_s:
            if not _healthy(p):
                p["gate_timeout"] = True
            return p
        time.sleep(15)


def _measure(
    spark, corpus, n_files: int, sf_dir: str, shard_dirs=None,
    include_ops: bool = True,
    path_index_dir: str = None,
) -> dict:
    """One full measurement pass: build + queries (+ training ops when
    ``include_ops``), with a fault probe stamped around every section.

    The headline build/query sections are cheap enough to repeat, so
    `main` runs them >=3 times (min+median reported) while the heavy
    training-ops sweep runs once in its own gated section — a single
    weather sample can no longer decide the round's headline numbers
    (VERDICT.md r4 performance finding)."""
    from spark_search import pipeline as P
    from spark_search.build import build_index
    from spark_search.query import IndexReader

    try:
        from bench_scaling_gated import fault_rate_mbps

        probe = lambda: round(fault_rate_mbps())  # noqa: E731
    except Exception:
        probe = lambda: None  # noqa: E731

    section_probes: dict[str, object] = {"start": probe()}
    queries: dict[str, float] = {}
    timings: dict[str, float] = {}

    # ------------------------------------------------------------ build
    index_dir = os.path.join(tempfile.mkdtemp(prefix="bench_idx_"), "index")
    t0 = time.time()
    build_index(spark, corpus, index_dir)
    build_s = time.time() - t0
    timings["index_build"] = round(build_s, 3)
    section_probes["after_build"] = probe()

    reader = IndexReader(spark, index_dir)

    # warmup: spin up python workers / AQE once so per-query numbers
    # measure the engine, not process startup (BASELINE.md §3.5 "warm index")
    t0 = time.time()
    reader.search(["warmup_zz"], P.EXACT_MATCH, k=1).collect()
    reader.search(["data"], P.EXACT_MATCH, k=10).collect()
    timings["warmup"] = round(time.time() - t0, 3)

    # ------------------------------------------------- queries (warm index)
    bench_queries = [
        ("q_exact", ["spark"], P.EXACT_MATCH),
        ("q_or3", ["data", "join", "merge"], P.WITH_SUGGESTIONS),
        ("q_and2", ["spark", "query"], P.AND_MATCH),
        ("q_prefix", ["sca"], P.START_WITH),
        ("q_hot_or", ["the", "and", "data", "with"], P.WITH_SUGGESTIONS),
    ]
    for name, terms, mode in bench_queries:
        tq = time.time()
        reader.search(terms, mode, k=10).collect()
        queries[name] = round(time.time() - tq, 3)

    # declarative (index-free) flagship for comparison
    tq = time.time()
    P.bm25_topk(corpus, ["data", "join", "merge"], P.WITH_SUGGESTIONS, k=10).collect()
    queries["q_or3_declarative"] = round(time.time() - tq, 3)
    section_probes["after_queries"] = probe()

    # round-3 query modes, reported OUTSIDE the headline sum so `value`
    # stays round-comparable (BASELINE.md §3 fixes its definition)
    extra: dict[str, float] = {}
    tq = time.time()
    reader.search_phrase(["table", "hash"], corpus, k=10).collect()
    extra["q_phrase_indexed"] = round(time.time() - tq, 3)
    tq = time.time()
    reader.search_suggest(["part"], max_dist=2, k=10).collect()
    extra["q_suggest_indexed"] = round(time.time() - tq, 3)
    # more-like-this: reverse lookup (O3) + dictionary weights + one
    # filtered OR search — the composed similar-document query
    tq = time.time()
    reader.more_like_this(7, m_terms=10, k=10).collect()
    extra["q_mlt_indexed"] = round(time.time() - tq, 3)
    # wildcard substring mode (dictionary scan floor) + NOT clause
    tq = time.time()
    reader.search(["abl"], P.CONTAINS_MATCH, k=10).collect()
    extra["q_contains_indexed"] = round(time.time() - tq, 3)
    tq = time.time()
    reader.search(
        ["data", "join", "merge"], P.WITH_SUGGESTIONS, k=10,
        exclude_terms=["table"],
    ).collect()
    extra["q_not_indexed"] = round(time.time() - tq, 3)
    # metadata-filtered search: scope the OR query to two languages
    # (~27% of docs) — measures the allow-list registry scan + the
    # filter-aware scoring stage
    tq = time.time()
    reader.search(
        ["data", "join", "merge"],
        P.WITH_SUGGESTIONS,
        k=10,
        doc_filter="lang IN ('de', 'fr')",
    ).collect()
    extra["q_filtered_indexed"] = round(time.time() - tq, 3)

    # round-5 serving additions: feedback-expanded search (initial
    # search + one docs_terms reverse pass + expanded OR search) and a
    # compound boolean query (two must-groups resolved through the
    # index's match sets + prohibited clause)
    tq = time.time()
    reader.search_prf(
        ["data", "join", "merge"], k=10, fb_docs=5, fb_terms=5
    ).collect()
    extra["q_prf_indexed"] = round(time.time() - tq, 3)
    tq = time.time()
    reader.search_bool(
        [["data", "join"], ["merge", "table"]], ["shuffle"], k=10
    ).collect()
    extra["q_bool_indexed"] = round(time.time() - tq, 3)

    # multi-field weighted search: content index + a pre-built path
    # index (built once per process, outside the timers), weighted
    # full-outer combine
    if path_index_dir:
        from spark_search.query import search_multifield

        tq = time.time()
        search_multifield(
            {"content": (reader, 1.0),
             "path": (IndexReader(spark, path_index_dir), 2.0)},
            ["data", "join", "merge"],
            k=10,
        ).collect()
        extra["q_multifield_indexed"] = round(time.time() - tq, 3)

    # batched query set: 16 OR queries answered in ONE job — the
    # at-scale serving shape (one bucket-pruned postings scan for the
    # whole set instead of 16; compare against 16 x q_or3). The pool
    # mixes hot and rare terms so per-query match sets differ.
    pool = [
        "data", "join", "merge", "spark", "query", "table", "hash",
        "index", "scan", "sort", "the", "with", "group", "filter",
        "read", "write", "plan", "block", "cache", "shuffle",
    ]
    batch16 = {
        f"m{i:02d}": [pool[i % len(pool)], pool[(i * 7 + 3) % len(pool)]]
        for i in range(16)
    }
    tq = time.time()
    reader.search_many(batch16, P.WITH_SUGGESTIONS, k=10).collect()
    extra["q_multi16_indexed"] = round(time.time() - tq, 3)

    # facet counts off the index alone (match_docs decode + registry
    # agg — no corpus read) and declarative snippets (top-k + one
    # broadcast-semi-joined highlight pass)
    tq = time.time()
    reader.search_facets(
        ["data", "join", "merge"], P.WITH_SUGGESTIONS, facet="lang"
    ).collect()
    extra["q_facets_indexed"] = round(time.time() - tq, 3)
    tq = time.time()
    P.snippets(
        corpus, ["data", "join", "merge"], P.WITH_SUGGESTIONS, k=10
    ).collect()
    extra["q_snippets_declarative"] = round(time.time() - tq, 3)

    # hybrid retrieval: indexed BM25 top-50 recall broadcast into one
    # embeddings scan for the cosine re-rank
    from spark_search import similarity as SIMX

    emb_hyb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    tq = time.time()
    SIMX.hybrid_rerank(
        reader.search(["data", "join", "merge"], P.WITH_SUGGESTIONS, k=50),
        emb_hyb, 7, k=10,
    ).collect()
    extra["q_hybrid_indexed"] = round(time.time() - tq, 3)

    # code-tokenizer declarative query: same OR query through the
    # identifier-aware "code" analyzer (two regexp_replace boundary
    # rules + split + lower, all codegen) — measures the code-payload
    # tokenize chain's overhead vs q_or3_declarative's plain split
    tq = time.time()
    P.bm25_topk(
        corpus, ["data", "join", "merge"], P.WITH_SUGGESTIONS, k=10,
        tokenizer="code",
    ).collect()
    extra["q_or3_declarative_code"] = round(time.time() - tq, 3)

    # positional index variant: phrase answered with ZERO content reads
    # (opt-in positions=True build; its build time is reported
    # separately and is NOT part of the headline `value`)
    pos_dir = os.path.join(tempfile.mkdtemp(prefix="bench_posidx_"), "index")
    t0 = time.time()
    build_index(spark, corpus, pos_dir, positions=True)
    timings["index_build_positional"] = round(time.time() - t0, 3)
    pos_reader = IndexReader(spark, pos_dir)
    # same protocol as q_phrase_indexed: one timed cold-cache call on a
    # warm session (workers/codegen already spun up by earlier queries)
    tq = time.time()
    pos_reader.search_phrase(["table", "hash"], k=10).collect()
    extra["q_phrase_positional"] = round(time.time() - tq, 3)
    # the warm repeat is the number the positional index exists for:
    # dictionary/doclens caches hot, the driver-local path answers the
    # phrase in one tiny postings scan (repeated phrase workloads)
    tq = time.time()
    pos_reader.search_phrase(["table", "hash"], k=10).collect()
    extra["q_phrase_positional_warm"] = round(time.time() - tq, 3)
    shutil.rmtree(os.path.dirname(pos_dir), ignore_errors=True)

    # cross-index segment merge: fold the two pre-built interleaved
    # shard indexes (built once per process, outside the timer) into
    # one canonical index — the 100 TB "shard builds + merge" topology.
    # Timed alone: the merge moves only encoded index bytes, so its
    # wall vs `build` is the amortization a sharded pipeline buys.
    if shard_dirs:
        from spark_search.merge import merge_indexes

        merge_out = os.path.join(
            tempfile.mkdtemp(prefix="bench_mergeidx_"), "index"
        )
        t0 = time.time()
        merge_indexes(spark, list(shard_dirs), merge_out)
        timings["merge_indexes"] = round(time.time() - t0, 3)
        shutil.rmtree(os.path.dirname(merge_out), ignore_errors=True)

    ops: dict[str, float] = {}
    if include_ops:
        ops = _measure_ops(spark, corpus, sf_dir, probe, section_probes)
    shutil.rmtree(os.path.dirname(index_dir), ignore_errors=True)
    total = build_s + sum(queries.values())
    return {
        "value": round(total, 3),
        "queries": queries,
        "n_files": n_files,
        "build_sec": round(build_s, 3),
        "build_files_per_sec": round(n_files / build_s, 1) if build_s else None,
        "timings": timings,
        "extra_queries": extra,
        "training_ops": ops,
        "section_fault_mbps": section_probes,
    }


def _measure_ops(spark, corpus, sf_dir: str, probe, section_probes) -> dict:
    # training-data pipeline ops (reported, not part of the headline
    # metric — BASELINE.md §3 fixes `value` = build + search queries)
    from pyspark.sql import functions as F
    from spark_search import pipeline as P
    from spark_search import bpe as BP
    from spark_search import clustering as CLU
    from spark_search import decontam as DX
    from spark_search import dedup as DD
    from spark_search import events as EV
    from spark_search import graph as GR
    from spark_search import lm as LM
    from spark_search import mixing as MX
    from spark_search import multimodal as MM
    from spark_search import sampling as SA
    from spark_search import similarity as SIM
    from spark_search import textops as TX

    sf_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").cache()
    emb_raw = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    sf_events = spark.read.parquet(f"{sf_dir}/events.parquet").cache()
    sf_docs.count(), emb_raw.count(), sf_events.count()
    ops: dict[str, float] = {}
    for name, fn in [
        ("dedup_minhash_lsh", lambda: DD.minhash_near_dup(sf_docs).count()),
        ("dedup_simhash_pairs", lambda: DD.simhash_near_dup(sf_docs).count()),
        ("dedup_embedding_ann", lambda: DD.embedding_near_dup_ann(emb_raw).count()),
        ("dedup_clusters", lambda: DD.dup_clusters(sf_docs).count()),
        ("graph_pagerank", lambda: GR.pagerank(
            DD.minhash_near_dup(sf_docs).select(
                F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
            ),
            sf_docs.select(F.col("doc_id").cast("long").alias("id")),
            symmetric=True,
        ).count()),
        # batch-vs-state incremental dedup: state build (the one-time
        # ingest cost) is inside the timer too, so the number is the
        # conservative end-to-end cost; the steady-state batch probe
        # alone is much cheaper
        ("dedup_incremental", lambda: (
            DD.minhash_near_dup_incremental(
                sf_docs.where(F.col("doc_id") % 5 == 0),
                *DD.minhash_state(sf_docs.where(F.col("doc_id") % 5 != 0)),
            ).count()
        )),
        ("decontaminate", lambda: DX.decontaminate(
            sf_docs.where(F.col("doc_id") % 37 != 0),
            sf_docs.where(F.col("doc_id") % 37 == 0),
            n=3,
        ).count()),
        ("mix_plan", lambda: MX.mix_plan(sf_docs).count()),
        ("text_lm_scores", lambda: LM.lm_scores(sf_docs).count()),
        ("text_pmi_bigrams", lambda: LM.pmi_bigrams(sf_docs).count()),
        ("text_quality", lambda: TX.quality_scores(sf_docs).count()),
        ("text_repetition", lambda: TX.repetition_scores(sf_docs).count()),
        ("text_dup_spans", lambda: TX.duplicated_ngram_shares(sf_docs).count()),
        ("text_secret_scan", lambda: TX.secret_scan(sf_docs).count()),
        ("vocab_coverage", lambda: TX.vocab_coverage(sf_docs).count()),
        ("pack_sequences", lambda: SA.pack_sequences(sf_docs).count()),
        ("pack_manifest", lambda: SA.pack_manifest(sf_docs).count()),
        ("length_histogram", lambda: TX.length_histogram(sf_docs).count()),
        ("sample_stratified", lambda: SA.sample_stratified(sf_docs).count()),
        ("strip_boilerplate", lambda: TX.strip_boilerplate_lines(
            sf_docs
        ).count()),
        ("doc_keywords", lambda: P.keywords_per_doc(corpus, m=5).count()),
        ("length_quantiles", lambda: TX.length_quantiles(sf_docs).count()),
        ("shuffle_shards", lambda: SA.shuffle_shards(
            sf_docs, n_shards=64, seed=1
        ).count()),
        # 8-merge BPE training (word-dictionary loop; the corpus pass
        # is the tokenize+count inside word_dict)
        ("bpe_train8", lambda: BP.bpe_train(sf_docs, n_merges=8).count()),
        ("sim_cosine_topk", lambda: SIM.cosine_topk(emb_raw, [0, 1, 2]).count()),
        ("cluster_kmeans", lambda: CLU.kmeans_assignments(emb_raw).count()),
        ("media_features", lambda: MM.media_features_summary(sf_docs).count()),
        ("events_windowed", lambda: EV.windowed_counts(sf_events).count()),
        ("events_sessions", lambda: EV.sessionize(sf_events).count()),
    ]:
        fn()  # warm codegen/JIT once, like the search queries
        tq = time.time()
        fn()
        ops[name] = round(time.time() - tq, 3)
    sf_docs.unpersist()
    emb_raw.unpersist()
    section_probes["after_ops"] = probe()
    return ops


# Engine-as-canary bound: every warm indexed query lands in 0.3-0.7 s
# in a clean window across rounds, and in 7-15 s during a host stall
# episode — a 4-40x separation. The bracketing fault-rate probes are
# point samples and have missed within-section episodes (observed: a
# run with every probe >= 679 MB/s whose queries all ran 8-15 s), so
# the fastest warm query doubles as a continuous in-band detector.
# 2 s keeps > 3x margin to both sides; a genuine engine regression
# past it would equally show in gated clean-window runs and bisection.
CANARY_MAX_QUERY_SEC = 2.0


def _attempt_clean(out: dict) -> bool:
    """True when no bracketing probe caught an episode AND the warm
    query canary stayed in the clean band: the build and query
    sections are attributable to the engine."""
    sp = out.get("section_fault_mbps") or {}
    vals = [v for v in sp.values() if isinstance(v, (int, float))]
    if vals and any(v < FAULT_OK_MBPS for v in vals):
        return False
    q = [v for v in (out.get("queries") or {}).values()
         if isinstance(v, (int, float))]
    return min(q) <= CANARY_MAX_QUERY_SEC if q else True


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_parts = int(os.environ.get("SPARK_GRAFT_SHUFFLE", str(max(cpus, 8))))
    gate_wait = float(os.environ.get("SPARK_GRAFT_GATE_WAIT", "600"))
    retries = int(os.environ.get("SPARK_GRAFT_BENCH_RETRIES", "2"))

    gate = _gate(gate_wait)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("spark_search_bench")
        .config("spark.sql.shuffle.partitions", str(shuffle_parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from spark_search.corpus import load_sf_documents

    # floor parallelism ONCE, before the cache: the sf parquet arrives
    # as ~1 split, and pipeline._floor intentionally never repartitions
    # a cached frame (the cache layout is authoritative) — so bake the
    # layout in here and every downstream build/query inherits it free.
    corpus = load_sf_documents(spark, sf_dir).repartition(cpus).cache()
    n_files = corpus.count()

    # steady-state warmup ONCE before the timed attempts: a build on a
    # 10% slice spins up Python workers and carries the JVM through the
    # bulk of JIT compilation, so attempt 1 measures the engine the
    # same way a retry (warm JVM) would — comparable across rounds and
    # across attempts (same protocol as bench_scaling.py's children)
    from pyspark.sql import functions as F
    from spark_search.build import build_index as _bi

    warm_dir = os.path.join(tempfile.mkdtemp(prefix="bench_idx_warm_"), "idx")
    _bi(spark, corpus.where(F.col("doc_id") % 10 == 0), warm_dir)
    shutil.rmtree(os.path.dirname(warm_dir), ignore_errors=True)

    # two interleaved shard indexes, built ONCE (outside every timed
    # attempt) — each attempt times only merge_indexes over them
    shard_root = tempfile.mkdtemp(prefix="bench_shards_")
    shard_dirs = [os.path.join(shard_root, s) for s in ("a", "b")]
    _bi(spark, corpus.where(F.col("doc_id") % 2 == 0), shard_dirs[0])
    _bi(spark, corpus.where(F.col("doc_id") % 2 == 1), shard_dirs[1])

    # path-field index, built ONCE — attempts time only the multifield
    # combine over it (the per-field index layout)
    path_idx = os.path.join(tempfile.mkdtemp(prefix="bench_pathidx_"), "idx")
    _bi(
        spark,
        corpus.select(
            "doc_id", "repo", "path", "commit", "lang",
            F.col("path").alias("content"),
        ),
        path_idx,
    )

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = -1.0

    # >=3 gated attempts of the headline sections (build + queries),
    # each bracketed by fault probes and preceded by a bounded quiet-
    # window wait — min AND median are published so one weather sample
    # cannot decide a round (VERDICT.md r4). The heavy training-ops
    # sweep runs once afterwards in its own gated section.
    n_attempts = int(os.environ.get("SPARK_GRAFT_BENCH_ATTEMPTS", "3"))
    attempts = 0
    tries = []
    while True:
        attempts += 1
        res = _measure(
            spark, corpus, n_files, sf_dir, shard_dirs, include_ops=False,
            path_index_dir=path_idx,
        )
        tries.append(res)
        clean_n = sum(1 for t in tries if _attempt_clean(t))
        if attempts >= n_attempts and clean_n > 0:
            break
        if attempts >= n_attempts + retries:
            break
        # wait for a quiet window before the next attempt (the JVM
        # stays warm, so every attempt measures steady state)
        gate = _gate(gate_wait)

    shutil.rmtree(shard_root, ignore_errors=True)
    shutil.rmtree(os.path.dirname(path_idx), ignore_errors=True)

    # training ops: once, in their own gated window, with one retry if
    # a bracketing probe catches an episode
    ops_probes: dict[str, object] = {}
    ops_gate = _gate(gate_wait)
    try:
        from bench_scaling_gated import fault_rate_mbps

        ops_probe = lambda: round(fault_rate_mbps())  # noqa: E731
    except Exception:
        ops_probe = lambda: None  # noqa: E731
    for _ in range(2):
        ops_probes = {"before_ops": ops_probe()}
        ops = _measure_ops(spark, corpus, sf_dir, ops_probe, ops_probes)
        vals = [v for v in ops_probes.values() if isinstance(v, (int, float))]
        if not vals or all(v >= FAULT_OK_MBPS for v in vals):
            break
        ops_gate = _gate(gate_wait)

    # headline = the MINIMUM clean attempt (noise only inflates walls;
    # the floor is the engine's number), with the median published
    # alongside. If no attempt was clean, fall back to the overall
    # minimum. All attempt totals + per-attempt cleanliness are
    # published so the selection is auditable.
    import statistics

    clean = [t for t in tries if _attempt_clean(t)]
    pool = clean if clean else tries
    res = min(pool, key=lambda t: t["value"])
    pool_q = [t["queries"] for t in pool]
    pool_x = [t["extra_queries"] for t in pool]
    q_min = {k: min(q[k] for q in pool_q) for k in pool_q[0]}
    q_med = {k: round(statistics.median(q[k] for q in pool_q), 3)
             for k in pool_q[0]}
    x_min = {k: min(x[k] for x in pool_x) for k in pool_x[0]}
    x_med = {k: round(statistics.median(x[k] for x in pool_x), 3)
             for k in pool_x[0]}
    out = {
        "metric": "index_build_plus_bm25_topk_total_sec",
        "unit": "sec",
        "sf": sf_num,
        "cpus": cpus,
        **res,
        "training_ops": ops,
        "ops_fault_mbps": ops_probes,
        "ops_gate": ops_gate,
        "launch_gate": gate,
        "attempts": attempts,
        "attempt_values": [t["value"] for t in tries],
        "attempt_clean": [_attempt_clean(t) for t in tries],
        "value_median": round(
            statistics.median(t["value"] for t in pool), 3
        ),
        "queries_min": q_min,
        "queries_median": q_med,
        "extra_queries_min": x_min,
        "extra_queries_median": x_med,
        "weather_clean": _attempt_clean(res),
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
