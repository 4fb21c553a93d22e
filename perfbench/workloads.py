"""The workloads. Each drives spark_search through its public API
from one client thread in a closed loop, checks every answer, and fills
a ``Run`` with samples. ``run.py`` turns the samples into metrics."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from typing import Callable, Dict, List, Optional, Sequence, Tuple

import numpy as np

from helpers import Tally, df_band, median, same_topk
from inputs import HOT_WORDS, documents, pick, typo, write_documents
from spans import Tracer, build_group_jobs
import env

K = 10
# extra reference depth, so a tie group cut at rank K is seen whole
REF_DEPTH = K + 50

SCALE_DOCS = 270_000
SCALE_WORDS = 8
SCALE_CORPUS_SEED = 42
INGEST_DOCS = 10_000
INGEST_WORDS = (5, 20)
INGEST_CORPUS_SEED = 42
UPSERT_BATCH = 200
DELETE_BATCH = 100
SETUP_REPS = 4

# serve_scale's mix, one cycle: 2 rare, 8 mid, 1 hot, so the median falls
# in the middle of the mid queries. The first WARMUP queries hold one of
# each kind; they run before the measured window, because a fresh JVM
# runs the first query of a kind seconds slower while it compiles that
# path. The window then goes on around the cycle, query by query, until
# its time is up and at least MIN_MEASURED queries ran.
CYCLE = (
    "mid_idents", "rare", "mid_libs", "mid_idents", "hot", "mid_libs",
    "mid_idents", "rare", "mid_libs", "mid_idents", "mid_libs",
)
WARMUP = 5
MIN_MEASURED = 11
# distributed query sets per kind whose reference answers are cached with
# the serve_scale index
REF_POOL = 4
# ingest: point probes on each fresh snapshot, after its hot OR and before
# the latest upserted token. Rare probes and tokens are the fastest
# queries, the oracle checks and hot ORs the slowest, so the median falls
# in the middle of the mid probes.
POINT_PROBES = ("mid",) * 6 + ("rare",)
PROBE_POOL = 16
MODES = (
    "exact", "or", "and", "prefix", "contains", "exclude", "filter",
    "phrase", "suggest", "many",
)


class Run:
    """Samples and facts of one benchmark run."""

    def __init__(self, spark, dirs: env.RunDirs, seed: int, seconds: float,
                 tracer: Tracer):
        self.spark = spark
        self.dirs = dirs
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.rng = np.random.default_rng(seed)
        self.tally = Tally()
        self.queries: List[Dict] = []  # measured queries
        # traced runs: id(measured reader) -> a second reader on the same
        # snapshot, used only to learn query bands
        self.band_readers: Dict[int, object] = {}
        self.setup_s: List[float] = []
        self.reader_open_ms: List[float] = []
        self.first_query_ms: List[float] = []
        self.upsert_ms: List[float] = []
        self.delete_ms: List[float] = []
        self.upsert_build_s: List[float] = []
        self.compact_s: Optional[float] = None
        self.layer: Dict[str, float] = {}
        self.facts: Dict = {}
        self.index_dir: Optional[str] = None  # the index the workload serves
        self.build_manifest = None  # the workload's main build
        self.build_s: Optional[float] = None
        self.input_bytes = 0
        self._phase_t0 = time.perf_counter()

    def deadline(self) -> float:
        """Start the measured window; the yardstick job is compiled first."""
        for _ in range(3):
            yardstick_ms(self.spark)
        self.phase("setup")
        return time.perf_counter() + self.seconds

    def phase(self, name: str) -> None:
        """Close the current phase of the run (wall seconds, for the record)."""
        t = time.perf_counter()
        self.facts.setdefault("phase_s", {})[name] = t - self._phase_t0
        self._phase_t0 = t


# ----------------------------------------------------------------- queries


def ranked(rows) -> List[Tuple[int, float]]:
    return [
        (int(r["doc_id"]), float(r["score"]))
        for r in sorted(rows, key=lambda r: r["rank"])
    ]


def query(
    run: Run,
    reader,
    mode: str,
    call: Callable,
    check: Callable,
    band_of: Optional[Tuple[Sequence[str], str]] = None,
    measured: bool = True,
    e2e: bool = True,
) -> Tuple[float, Optional[list]]:
    """Run one query: ``call()`` returns the result frame, which is
    collected; ``check(rows)`` says whether the answer is right.

    With tracing on, ``band_of`` = (terms, match mode) is expanded after
    the query, in an operation of its own, through ``match_terms`` of the
    snapshot's band reader. That gives the query's df band and times the
    term-metadata layer, and leaves the measured reader's caches as the
    query alone left them."""
    tr = run.tracer
    rows = None
    cpu0 = env.tree_cpu_s()
    t0 = time.perf_counter()
    with tr.op("query", mode=mode) as op_id:
        try:
            with tr.span("query.search", mode=mode):
                frame = call()
            with tr.span("query.collect", mode=mode):
                rows = frame.collect()
        except Exception as exc:  # counted, and the loop goes on
            print(f"query {mode} failed: {exc!r}", flush=True)
    ms = (time.perf_counter() - t0) * 1e3
    cpu_ms = (env.tree_cpu_s() - cpu0) * 1e3
    ok = rows is not None and bool(check(rows))
    run.tally.record(ok, f"query {mode}")
    band = None
    if tr.enabled and band_of is not None:
        band_reader = run.band_readers[id(reader)]
        with tr.op("query.match_terms", mode=mode):
            matched = band_reader.match_terms(*band_of)
        band = df_band(
            sum(m[1] for m in matched), len(matched), band_reader.stats.n_docs
        )
        tr.annotate(op_id, band=band)
    if measured:
        run.queries.append({
            "mode": mode, "band": band, "ms": ms, "cpu_ms": cpu_ms, "op": op_id, "e2e": e2e,
            "ref_ms": yardstick_ms(run.spark) if e2e else None,
        })
    return ms, rows


# the yardstick job's latency on the reference host the gated times are
# scaled to; a quiet four-core host runs it in 80 to 120 ms
YARDSTICK_REF_MS = 100.0


def yardstick_ms(spark) -> float:
    """Wall time of a fixed small Spark job that does not use spark_search:
    a scan, a shuffle and a collect, like the steps of a query. It runs
    after each measured query, so it meets the same load of the host, and
    a time over it measures the program rather than the host."""
    t0 = time.perf_counter()
    spark.range(0, 20_000, 1, 8).selectExpr("id % 97 AS k").groupBy("k").count().collect()
    return (time.perf_counter() - t0) * 1e3


def open_reader(run: Run, index_dir: str):
    from spark_search.query import IndexReader

    t0 = time.perf_counter()
    with run.tracer.span("query.IndexReader", index=os.path.basename(index_dir)):
        reader = IndexReader(run.spark, index_dir)
    run.reader_open_ms.append((time.perf_counter() - t0) * 1e3)
    if run.tracer.enabled:
        run.band_readers[id(reader)] = IndexReader(run.spark, index_dir)
    return reader


def build(run: Run, corpus, index_dir: str):
    from spark_search.build import build_index

    t0 = time.perf_counter()
    with run.tracer.op("build.build_index"):
        manifest = build_index(run.spark, corpus, index_dir)
    return manifest, time.perf_counter() - t0


def manifest_layers(manifest) -> Dict[str, float]:
    st = manifest.stages
    postings = sum(v["wall_s"] for k, v in st.items() if k.startswith("postings-") and k != "postings-compact")
    return {
        "build.docs_s": st["docs"]["wall_s"],
        "build.postings_s": postings,
        "build.postings_compact_s": st["postings-compact"]["wall_s"],
        "build.terms_s": st["terms"]["wall_s"],
        "build.postings_bytes": float(st["postings-compact"]["bytes"]),
    }


def stage_span_s(manifest) -> float:
    """Wall time of a build from its manifest's stage records."""
    recs = [r for r in manifest.stages.values() if "wall_s" in r]
    start = min(r["finished_at"] - r["wall_s"] for r in recs)
    return max(r["finished_at"] for r in recs) - start


def record_index_facts(run: Run, reader) -> None:
    from spark_search.query import _DICT_CACHE_CAP

    n_terms = int(reader.manifest.stats.get("n_terms", 0))
    chunks = reader.doclens_df().count()
    run.facts.update(
        n_docs=int(reader.stats.n_docs),
        n_terms=n_terms,
        dict_cache_cap=_DICT_CACHE_CAP,
        vocab_fits_dict_cache=n_terms <= _DICT_CACHE_CAP,
        chunks=int(chunks),
        segments=len(reader.segments),
    )
    run.layer["maintain.segments"] = float(len(reader.segments))
    run.layer["maintain.tombstones"] = float(reader.n_tombstones or 0)


def codec_layer(run: Run, index_dir: str, reader, candidates: Sequence[str]) -> None:
    """Decode and re-encode every block of the hottest candidate term,
    read straight from the postings files with pyarrow. The term is
    looked up through the band reader (traced runs only)."""
    import pyarrow.parquet as pq
    from spark_search.codec import decode_block, encode_blocks_batch

    from spark_search.pipeline import EXACT_MATCH

    lookup = run.band_readers[id(reader)]
    meta = max(lookup.match_terms(list(candidates), EXACT_MATCH), key=lambda m: m[1])
    term, _df, _mtf, bucket = meta
    table = pq.read_table(
        os.path.join(index_dir, "postings", f"bucket={bucket}"),
        columns=["blocks"],
        filters=[("term", "=", term)],
    )
    rows = table.column("blocks").to_pylist()
    payload = sum(len(b["deltas"]) + len(b["tfs"]) for row in rows for b in row)
    reps, t0 = 0, time.perf_counter()
    with run.tracer.span("codec.decode_block", term=term):
        while True:
            decoded = [
                [decode_block(b["first_doc"], b["deltas"], b["tfs"]) for b in row]
                for row in rows
            ]
            reps += 1
            if time.perf_counter() - t0 >= 0.3:
                break
    run.layer["codec.decode_mb_per_s"] = payload * reps / 1e6 / (time.perf_counter() - t0)
    ids = [np.concatenate([d[0] for d in row]) for row in decoded]
    tfs = [np.concatenate([d[1] for d in row]) for row in decoded]
    block_size = int(reader.manifest.config.get("block_size", 128))
    reps, out_bytes, t0 = 0, 0, time.perf_counter()
    with run.tracer.span("codec.encode_blocks_batch", term=term):
        while True:
            enc = encode_blocks_batch(ids, tfs, block_size=block_size)
            out_bytes += sum(len(e[4]) + len(e[5]) for lst in enc for e in lst)
            reps += 1
            if time.perf_counter() - t0 >= 0.3:
                break
    run.layer["codec.encode_mb_per_s"] = out_bytes / 1e6 / (time.perf_counter() - t0)
    run.facts["codec_term"] = {"term": term, "df": int(_df), "payload_bytes": payload}


def build_jobs_layer(run: Run, prefix: str) -> None:
    groups = build_group_jobs(run.spark, prefix)
    n = max(1, len(groups))
    run.layer["build.jobs"] = sum(g["jobs"] for g in groups.values()) / n
    run.layer["build.tasks"] = sum(g["tasks"] for g in groups.values()) / n
    run.layer["build.failed_tasks"] = float(sum(g["failed_tasks"] for g in groups.values()))
    run.facts["build_groups"] = len(groups)


# ----------------------------------------------------------------- serve_scale


def scale_corpus(spark, seed: int):
    from spark_search.corpus import synthetic_corpus_distributed

    return synthetic_corpus_distributed(
        spark, SCALE_DOCS, words_per_doc=SCALE_WORDS, seed=seed
    )


def input_bytes_of(corpus) -> int:
    from pyspark.sql import functions as F

    return int(corpus.agg(F.sum(F.octet_length("content")).alias("b")).collect()[0]["b"])


def fixed_pool() -> Dict[str, List[Tuple[str, List[str], str]]]:
    """serve_scale's distributed queries: REF_POOL (mode, terms, match
    mode) sets per kind, the same for every run. A run takes the sets of
    a kind in turn, from a place its seed picks, so every run sends about
    the same mix: one set per run made a run's median depend on its draw."""
    from spark_search.corpus import _IDENTS, _KEYWORDS
    from spark_search.pipeline import WITH_SUGGESTIONS

    rng = np.random.default_rng(SCALE_CORPUS_SEED)
    pool: Dict[str, List] = {"mid_idents": [], "mid_libs": [], "hot": []}
    for _ in range(REF_POOL):
        pool["mid_idents"].append(
            ("or", [str(w) for w in rng.choice(_IDENTS, 5, replace=False)], WITH_SUGGESTIONS))
        pool["mid_libs"].append(
            ("or", [f"lib{i}" for i in rng.choice(40, 5, replace=False)], WITH_SUGGESTIONS))
        pool["hot"].append(
            ("or", [str(w) for w in rng.choice(_KEYWORDS, 6, replace=False)], WITH_SUGGESTIONS))
    return pool


def reference(reader, terms: Sequence[str], mm: str) -> List[Tuple[int, float]]:
    """The unpruned answer, taken through the distributed path."""
    return ranked(reader.search(terms, mm, k=K, prune=False, local_max_postings=0).collect())


def cached_build(run: Run, kind: str, params: str,
                 make: Callable[[str], Dict]) -> Tuple[str, Dict]:
    """A workload's base index, built by the engine under test and reused
    by later runs of the same engine. ``make(index_dir)`` builds it and
    returns the facts to keep beside it, at least ``build_s`` and
    ``input_bytes``; the build's job counts are added to them, so traced
    runs still report the build layer. The cache key holds ``params`` and
    a fingerprint of the engine's source files, so changed code builds its
    own index; older entries of ``kind`` are removed."""
    from spark_search.checkpoint import BuildManifest

    name = f"{kind}-{params}-{env.engine_fingerprint()}"
    run.facts["index_cache"] = name
    cached = os.path.join(env.CACHE, name)
    idx = os.path.join(cached, "index")
    meta_path = os.path.join(cached, "perfbench.json")
    if os.path.exists(meta_path):
        try:
            manifest = BuildManifest.load(idx)
        except (OSError, ValueError):
            manifest = None
        if manifest is not None:
            with open(meta_path) as f:
                meta = json.load(f)
            run.build_manifest, run.build_s = manifest, meta["build_s"]
            return idx, meta
    target = f"{cached}.tmp{os.getpid()}"
    shutil.rmtree(target, ignore_errors=True)
    os.makedirs(target)
    meta = make(os.path.join(target, "index"))
    groups = build_group_jobs(run.spark, target)
    meta.update(
        build_jobs=sum(g["jobs"] for g in groups.values()),
        build_tasks=sum(g["tasks"] for g in groups.values()),
        build_failed_tasks=sum(g["failed_tasks"] for g in groups.values()),
    )
    with open(os.path.join(target, "perfbench.json"), "w") as f:
        json.dump(meta, f)
    for old in os.listdir(env.CACHE):
        if old.startswith(f"{kind}-") and old != os.path.basename(target):
            shutil.rmtree(os.path.join(env.CACHE, old), ignore_errors=True)
    os.rename(target, cached)
    run.build_manifest = BuildManifest.load(idx)
    run.build_s = meta["build_s"]
    run.facts["cache_built"] = True
    return idx, meta


def serve_scale(run: Run) -> None:
    """Warm reader over 270k docs in 17 chunks; the vocabulary exceeds
    the dictionary cache, so term metadata is a terms scan, and hot
    queries take the distributed kernel with the θ bootstrap."""
    from spark_search.corpus import _KEYWORDS
    from spark_search.pipeline import B, EXACT_MATCH, K1, START_WITH
    from spark_search.query import _idf

    rng = run.rng
    pool = fixed_pool()
    pool_key = hashlib.sha256(json.dumps(pool).encode()).hexdigest()[:8]

    def make(index_dir: str):
        """Build the index, then the reference answer of every pooled
        query, once."""
        from spark_search.query import IndexReader

        with run.tracer.span("corpus.synthetic_corpus_distributed"):
            corpus = scale_corpus(run.spark, SCALE_CORPUS_SEED)
        _manifest, build_s = build(run, corpus, index_dir)
        reader = IndexReader(run.spark, index_dir)
        with run.tracer.span("reference", mode="pool"):
            refs = {
                kind: [reference(reader, terms, mm) for _mode, terms, mm in sets]
                for kind, sets in pool.items()
            }
        return {"build_s": build_s, "input_bytes": input_bytes_of(corpus), "refs": refs}

    idx, meta = cached_build(
        run, "serve_scale",
        f"n{SCALE_DOCS}-w{SCALE_WORDS}-s{SCALE_CORPUS_SEED}-q{pool_key}", make)
    run.index_dir = idx
    run.input_bytes = int(meta["input_bytes"])

    def rare_query(reader):
        doc = int(rng.integers(1, SCALE_DOCS + 1))
        terms = [f"uniq_{doc}"]
        st = reader.stats
        # every doc holds SCALE_WORDS words plus its uniq token, so dl is
        # constant and the expected score follows from the stats alone
        dl = float(SCALE_WORDS + 1)
        want_score = _idf(float(st.n_docs), 1.0) * 1.0 * (K1 + 1.0) / (
            1.0 + K1 * (1.0 - B + B * dl / st.avgdl)
        )
        want = [(doc, want_score)]
        return terms, (lambda rows: same_topk(ranked(rows), want, K))

    refs = {
        kind: [[(int(d), float(sc)) for d, sc in ref] for ref in meta["refs"][kind]]
        for kind in pool
    }
    turn = {kind: int(rng.integers(REF_POOL)) for kind in pool}
    run.facts["pool_start"] = dict(turn)
    wide = None  # (mode, terms, match mode) and reference, traced runs only

    def fixed_query(key, e2e=True, measured=True):
        if key == "wide":
            (mode, terms, mm), want = wide
        else:
            i = turn[key] % REF_POOL
            turn[key] += 1
            (mode, terms, mm), want = pool[key][i], refs[key][i]
        return query(run, reader, mode, lambda: reader.search(terms, mm, k=K),
                     lambda rows: same_topk(ranked(rows), want, K), band_of=(terms, mm),
                     e2e=e2e, measured=measured)

    # ---- setup: open a cold reader and answer a first query, several times
    reader = None
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        reader = open_reader(run, idx)
        terms, check = rare_query(reader)
        ms, _ = query(run, reader, "exact",
                      lambda: reader.search(terms, EXACT_MATCH, k=K), check,
                      measured=False)
        run.first_query_ms.append(ms)
        run.setup_s.append(time.perf_counter() - t0)
    record_index_facts(run, reader)

    if run.tracer.enabled:
        # the wide prefix costs a third of a cycle and its reference as
        # much again; it is measured in traced runs only
        terms = [f"uniq_{int(rng.integers(100, 300))}"]
        with run.tracer.span("reference", mode="wide"):
            wide = (("prefix", terms, START_WITH), reference(reader, terms, START_WITH))
        run.facts["wide_query"] = terms
        codec_layer(run, idx, reader, _KEYWORDS)
        for key in ("jobs", "tasks", "failed_tasks"):
            run.layer[f"build.{key}"] = float(meta[f"build_{key}"])

    def step(i: int, measured: bool) -> None:
        key = CYCLE[i % len(CYCLE)]
        if key != "rare":
            fixed_query(key, measured=measured)
            return
        terms, check = rare_query(reader)
        query(run, reader, "exact", lambda: reader.search(terms, EXACT_MATCH, k=K),
              check, band_of=(terms, EXACT_MATCH), measured=measured)

    # ---- warm-up: the first query of each kind compiles its code paths
    for i in range(WARMUP):
        step(i, measured=False)

    end = run.deadline()
    i = WARMUP
    while i < WARMUP + MIN_MEASURED or time.perf_counter() < end:
        step(i, measured=True)
        i += 1
    if wide is not None:
        fixed_query("wide", e2e=False)
    run.facts["measured_queries"] = i - WARMUP


# ----------------------------------------------------------------- ingest


def ingest(run: Run) -> None:
    """Writes beside reads: over a cached base index of a documents table,
    rounds of upsert and delete each read by a fresh (cold) reader, then,
    in traced runs, compact."""
    from spark_search.corpus import load_sf_documents
    from spark_search.maintain import compact, delete_docs, upsert_docs
    from spark_search.oracle.bm25 import OracleEngine
    from spark_search.pipeline import (
        AND_MATCH, CONTAINS_MATCH, EXACT_MATCH, START_WITH, WITH_SUGGESTIONS,
    )
    from spark_search.progress import dir_bytes

    rng = run.rng
    spark = run.spark
    docs, vocab = documents(INGEST_CORPUS_SEED, INGEST_DOCS, *INGEST_WORDS)
    ids, texts = docs[0], docs[1]

    def make(index_dir: str) -> Dict:
        """The timed build: the documents table, loaded and indexed."""
        sf_dir = os.path.join(os.path.dirname(index_dir), "sf")
        input_bytes = write_documents(os.path.join(sf_dir, "documents.parquet"), docs)
        with run.tracer.span("corpus.load_sf_documents"):
            corpus = load_sf_documents(spark, sf_dir)
        _manifest, build_s = build(run, corpus, index_dir)
        return {"build_s": build_s, "input_bytes": input_bytes}

    base, meta = cached_build(
        run, "ingest", f"n{INGEST_DOCS}-w{INGEST_WORDS[0]}_{INGEST_WORDS[1]}-s{INGEST_CORPUS_SEED}",
        make)
    run.index_dir = base
    run.input_bytes = int(meta["input_bytes"])
    corpus = None  # the base corpus as a DataFrame, for phrase queries
    oracle = OracleEngine(list(zip(ids.tolist(), texts)))
    bands: Dict[str, List[str]] = {"rare": [], "mid": [], "hot": []}
    for t in sorted(oracle.tf):
        bands[df_band(len(oracle.tf[t]), 1, oracle.n)].append(t)
    run.facts["oracle_bands"] = {b: len(v) for b, v in bands.items()}
    # rare probe words sit in enough docs that the run's deletes cannot
    # remove every one of them
    rare_probes = [t for t in bands["rare"] if len(oracle.tf[t]) >= 10]
    # mid probe words: the PROBE_POOL mid words whose df lies nearest the
    # band's median. The band spans df 100 to over 4,000, and probes drawn
    # from all of it made a run's median depend on its seed's draw.
    center = median([len(oracle.tf[t]) for t in bands["mid"]])
    mid_probes = sorted(bands["mid"], key=lambda t: (abs(len(oracle.tf[t]) - center), t))[:PROBE_POOL]

    hot_q = [str(t) for t in rng.choice(bands["hot"], 2, replace=False)]
    mid_q = [pick(rng, mid_probes)]
    dead: set = set()
    live_tokens: List[str] = []

    def no_dead(rows) -> bool:
        return not any(int(r["doc_id"]) in dead for r in rows)

    def found(rows) -> bool:
        return bool(rows) and no_dead(rows)

    # queries of the other modes; their answers must hold no dead doc
    mid_word = pick(rng, [w for w in bands["mid"] if len(w) >= 5] or bands["mid"])
    words = texts[int(rng.integers(0, len(texts)))].split()
    at = int(rng.integers(0, max(1, len(words) - 1)))
    phrase_q = words[at:at + 2]
    other_modes = {
        "and": lambda r: r.search([mid_q[0], hot_q[0]], AND_MATCH, k=K),
        "prefix": lambda r: r.search([mid_word[:3]], START_WITH, k=K),
        "contains": lambda r: r.search([mid_word[1:4]], CONTAINS_MATCH, k=K),
        "exclude": lambda r: r.search(hot_q, WITH_SUGGESTIONS, k=K, exclude_terms=mid_q),
        "filter": lambda r: r.search(mid_q + hot_q, WITH_SUGGESTIONS, k=K, doc_filter="lang = 'de'"),
        "phrase": lambda r: r.search_phrase(phrase_q, corpus=base_corpus(), k=K),
        "suggest": lambda r: r.search_suggest([typo(rng, mid_word)], k=K),
        "many": lambda r: r.search_many(
            {f"b{i:02d}": [pick(rng, bands["mid"]), pick(rng, bands["rare"])] for i in range(16)},
            WITH_SUGGESTIONS, k=K),
    }
    other_terms = {
        "and": ([mid_q[0], hot_q[0]], EXACT_MATCH),
        "prefix": ([mid_word[:3]], START_WITH),
        "contains": ([mid_word[1:4]], CONTAINS_MATCH),
        "exclude": (hot_q, WITH_SUGGESTIONS),
        "filter": (mid_q + hot_q, WITH_SUGGESTIONS),
        "phrase": (phrase_q, EXACT_MATCH),
        "suggest": ([mid_word], EXACT_MATCH),
        "many": (mid_q, EXACT_MATCH),
    }
    order = list(other_modes)
    turn = run.seed % len(order)  # each run starts the rotation elsewhere

    def base_corpus():
        nonlocal corpus
        if corpus is None:
            with run.tracer.span("corpus.load_sf_documents"):
                corpus = load_sf_documents(spark, os.path.join(os.path.dirname(base), "sf"))
        return corpus

    def snapshot_queries(reader, n_other: int) -> List[int]:
        """Cold queries on a fresh reader; returns the doc ids the hot and
        mid queries showed, which the next write targets."""
        nonlocal turn
        shown: List[int] = []
        plan = [("or", hot_q, WITH_SUGGESTIONS, found)]
        for band in POINT_PROBES:
            word = pick(rng, rare_probes if band == "rare" else mid_probes)
            plan.append(("exact", [word], EXACT_MATCH, found))
        for tok in live_tokens[-1:]:
            plan.append(("exact", [tok], EXACT_MATCH,
                         lambda rows: len(rows) == 1 and no_dead(rows)))
        for i, (mode, terms, mm, check) in enumerate(plan):
            ms, rows = query(run, reader, mode, lambda: reader.search(terms, mm, k=K),
                             check, band_of=(terms, mm))
            if i == 0:
                run.first_query_ms.append(ms)
            if rows and i < 2:
                shown.extend(int(r["doc_id"]) for r in rows)
        # the other modes feed per-layer metrics only, so only traced runs
        # send them
        for _ in range(n_other if run.tracer.enabled else 0):
            mode = order[turn % len(order)]
            turn += 1
            query(run, reader, mode, lambda: other_modes[mode](reader), no_dead,
                  band_of=other_terms[mode], e2e=False)
        return shown

    # ---- setup: open a cold reader on the base index and answer a first
    # query, several times
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        reader = open_reader(run, base)
        ms, rows = query(run, reader, "exact",
                         lambda: reader.search(mid_q, EXACT_MATCH, k=K),
                         found, measured=False)
        run.first_query_ms.append(ms)
        run.setup_s.append(time.perf_counter() - t0)
    shown = [int(r["doc_id"]) for r in rows or []]
    record_index_facts(run, reader)
    if run.tracer.enabled:
        codec_layer(run, base, reader, HOT_WORDS)

    end = run.deadline()
    # the fresh index against the oracle, for the modes it implements
    r_, m_, h_ = (pick(rng, bands[b]) for b in ("rare", "mid", "hot"))
    for mode, terms, mm in [
        ("or", [r_, m_, h_], WITH_SUGGESTIONS), ("and", [m_, h_], AND_MATCH),
        ("prefix", [mid_word[:3]], START_WITH),
    ]:
        want = oracle.search(sorted(set(terms)), mm, k=REF_DEPTH)
        query(run, reader, mode, lambda: reader.search(terms, mm, k=K),
              lambda rows: same_topk(ranked(rows), want, K), band_of=(terms, mm))

    current, gen, rounds = base, 0, 0
    next_id = INGEST_DOCS

    def publish(name: str, write, samples: List[float]) -> bool:
        nonlocal current, gen
        gen += 1
        out = run.dirs.path(f"gen-{gen}")
        ok = False
        t0 = time.perf_counter()
        with run.tracer.op(f"maintain.{name}"):
            try:
                write(current, out)
                ok = True
            except Exception as exc:  # counted, and the loop goes on
                print(f"{name} failed: {exc!r}", flush=True)
        samples.append((time.perf_counter() - t0) * 1e3)
        run.tally.record(ok, name)
        if ok:
            current = out
        return ok

    def targets(shown: List[int], n: int) -> List[int]:
        """Live original docs: the ones just shown first, then random."""
        out = [d for d in dict.fromkeys(shown) if d not in dead and d < INGEST_DOCS][:n]
        while len(out) < n:
            d = int(rng.integers(0, INGEST_DOCS))
            if d not in dead and d not in out:
                out.append(d)
        return out

    # whole rounds, as many as fit in the window, at least one: a round cut
    # short, or a second one on a fast host only, would change the mix
    round_s = 0.0
    while rounds == 0 or time.perf_counter() + round_s < end:
        round_t0 = time.perf_counter()
        rounds += 1
        # ---- upsert: half replace live docs, half are new
        replaced = targets(shown, UPSERT_BATCH // 2)
        new_ids = list(range(next_id, next_id + UPSERT_BATCH - len(replaced)))
        next_id += len(new_ids)
        batch_ids = np.array(replaced + new_ids, dtype=np.int64)
        tokens = [f"{'upd' if j < len(replaced) else 'new'}{rounds}x{j}" for j in range(len(batch_ids))]
        batch_texts = [
            " ".join(str(w) for w in rng.choice(HOT_WORDS + vocab[:200], 8)) + " " + tok
            for tok in tokens
        ]
        batch_dir = run.dirs.path(f"batch-{rounds}")
        write_documents(os.path.join(batch_dir, "documents.parquet"), (
            batch_ids, batch_texts, [pick(rng, ["en", "de"]) for _ in tokens],
            [f"src{int(d) % 20}" for d in batch_ids]))
        with run.tracer.span("corpus.load_sf_documents"):
            batch = load_sf_documents(spark, batch_dir).drop("doc_id")
        if publish("upsert_docs", lambda src, out: upsert_docs(spark, src, out, batch),
                   run.upsert_ms):
            from spark_search.checkpoint import BuildManifest

            with open(os.path.join(current, "manifest.json")) as f:
                seg = json.load(f)["config"]["segments"][-1]
            run.upsert_build_s.append(stage_span_s(BuildManifest.load(seg)))
            dead.update(replaced)
            live_tokens.append(pick(rng, tokens))
        reader = open_reader(run, current)
        shown = snapshot_queries(reader, 1)

        # ---- delete: the docs the last queries showed, topped up at random
        victims = targets(shown, DELETE_BATCH)
        if publish("delete_docs", lambda src, out: delete_docs(spark, src, out, victims),
                   run.delete_ms):
            dead.update(victims)
        reader = open_reader(run, current)
        shown = snapshot_queries(reader, 1)
        round_s = time.perf_counter() - round_t0

    run.layer["maintain.segments"] = float(len(reader.segments))
    run.layer["maintain.tombstones"] = float(reader.n_tombstones or 0)

    if run.tracer.enabled:
        # ---- compact, then the probes once more on the merged snapshot.
        # With its reads it takes a sixth of a run, more than the time
        # budget of all runs carries in each; compact_s is per-layer.
        compact_ms: List[float] = []
        if publish("compact", lambda src, out: compact(spark, src, out), compact_ms):
            run.layer["maintain.compact_bytes_rewritten"] = float(dir_bytes(current))
        run.compact_s = compact_ms[0] / 1e3
        reader = open_reader(run, current)
        snapshot_queries(reader, 1)
        # the base build is cached, so the build layer gets a span of its
        # own from one standalone build: the last upsert batch
        with run.tracer.span("corpus.load_sf_documents"):
            last_batch = load_sf_documents(spark, batch_dir)
        _manifest, run.facts["batch_build_s"] = build(run, last_batch, run.dirs.path("batch-index"))
        build_jobs_layer(run, run.dirs.root)
    run.facts.update(rounds=rounds, dead_docs=len(dead), generations=gen)


WORKLOADS = {"serve_scale": serve_scale, "ingest": ingest}
