"""Similarity search over an embedding column (vec_id, embedding:
array<float>, label).

Two operators, both declarative and oracle-checked:

  * ``cosine_topk``  — brute-force exact cosine top-k for a set of
    query vectors: the baseline. The query set is broadcast (it is tiny
    by definition); the corpus side streams — one scan, no shuffle
    except the final per-query top-k (TakeOrdered via window over ≤ a
    few thousand candidate rows per query after local pruning).
  * ``ivf_topk``     — IVF-style approximate search: vectors are
    assigned to deterministic centroid cells; a query probes only the
    ``nprobe`` nearest cells, cutting scored candidates by ~C/nprobe.
    Cell assignment is itself a broadcast-join argmax (centroids are
    small), so building the "index" is one map-side pass — at 100 TB
    the assignments would be written once (partitioned by cell) and
    reused across queries, turning every query into a partition-pruned
    scan of nprobe cells.

Centroids are chosen deterministically (the ``n_centroids`` smallest
vec_ids) instead of k-means — the partitioning mechanics, not the
clustering quality, are what the engine contributes; swap in trained
centroids without changing any plan.

All float arithmetic is float64 with sequential reduction order so the
DuckDB oracle (list_dot_product-based) matches to ~1e-15.
"""

from __future__ import annotations

import hashlib
import weakref
from collections import OrderedDict
from typing import List

from pyspark.sql import DataFrame, Window, functions as F

DEFAULT_K = 10
DEFAULT_CENTROIDS = 8
DEFAULT_NPROBE = 2


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))



def _cos_sim(v1, v2, n1, n2, d: "int | None" = None):
    """dot/(n1*n2) via try_divide: a zero-norm or empty vector yields a
    NULL similarity (ordered last, dropped by thresholds) instead of an
    ANSI-mode DIVIDE_BY_ZERO that kills the whole job at scale —
    bit-identical to the plain division whenever the divisor is
    nonzero."""
    return F.try_divide(_dot(v1, v2, d), n1 * n2)


def _probe_dim(emb: DataFrame) -> "int | None":
    """Embedding dimensionality from ONE row (a tiny probe job). Lets
    every dot product unroll onto the whole-stage-codegen path (the
    zip_with/aggregate HOF form runs interpreted — measured 4.2x slower
    at 20k vectors); None (empty input) falls back to the HOF form."""
    r = emb.select(F.size("embedding").alias("d")).first()
    return int(r["d"]) if r is not None and r["d"] is not None else None


def _with_norm(emb: DataFrame, d: "int | None" = None) -> DataFrame:
    # parallelism floor: a small corpus arrives as one parquet split
    # and would run the whole (map-only) norm+dot pipeline single-core;
    # no-op at scale where the scan carries >= cores splits
    parts = emb.sparkSession.sparkContext.defaultParallelism
    if emb.rdd.getNumPartitions() < parts:
        emb = emb.repartition(parts)
    v = _as_double(F.col("embedding"))
    return emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        v.alias("v"),
        F.sqrt(_dot(v, v, d)).alias("norm"),
    )


# Normalized-frame cache (round 5, VERDICT.md r4 #7): every similarity
# / hybrid entry point needs (vec_id, v:double[], norm) — recomputing
# the cast + norm per query re-scans the embeddings table each time
# (clustering already persists its unit frame, clustering.py). Keyed by
# (session id, DataFrame semanticHash, input-file fingerprint) so
# textually different reads of the same logical plan share one
# persisted frame, while a re-read of a parquet dir whose files were
# replaced (same plan, new files) misses and evicts the stale frame.
# Bounded LRU: a hit moves to the end, and the least recently used
# entry is unpersisted when a 5th distinct embeddings frame appears. Entries of a stopped or collected session
# are dropped (a new session may reuse the old one's id). The cache
# holds the FLOORED layout (persist bakes the parallelism floor in,
# the bench-corpus pattern).
_NORM_CACHE: "OrderedDict[tuple, tuple]" = OrderedDict()
_NORM_CACHE_MAX = 4


def invalidate_norm_cache() -> None:
    """Unpersist and forget every cached normalized embeddings frame —
    for callers that rewrite embeddings in place in a way the
    input-file fingerprint cannot see."""
    while _NORM_CACHE:
        _unpersist(_NORM_CACHE.popitem()[1])


def _unpersist(entry) -> None:
    frame, _d, session_ref = entry
    if _session_alive(session_ref()):
        frame.unpersist()


def _session_alive(session) -> bool:
    return session is not None and session.sparkContext._jsc is not None


def _drop_dead_sessions() -> None:
    for key in [k for k, v in _NORM_CACHE.items() if not _session_alive(v[2]())]:
        del _NORM_CACHE[key]


def _norm_cached(emb: DataFrame) -> "tuple[DataFrame, int | None]":
    _drop_dead_sessions()
    session = emb.sparkSession
    try:
        files = hashlib.sha256(
            "\n".join(sorted(emb.inputFiles())).encode()
        ).hexdigest()
        key = (id(session), emb.semanticHash(), files)
    except Exception:
        # local-relation / unsupported plans: no caching, same semantics
        d = _probe_dim(emb)
        return _with_norm(emb, d), d
    hit = _NORM_CACHE.get(key)
    if hit is not None:
        _NORM_CACHE.move_to_end(key)
        return hit[0], hit[1]
    # the same plan over other files: those files were replaced, and
    # Spark's cache manager would answer the new plan from the stale
    # persisted frame until it is unpersisted
    for stale in [k for k in _NORM_CACHE if k[:2] == key[:2]]:
        _unpersist(_NORM_CACHE.pop(stale))
    d = _probe_dim(emb)
    e = _with_norm(emb, d).persist()
    if len(_NORM_CACHE) >= _NORM_CACHE_MAX:
        _unpersist(_NORM_CACHE.popitem(last=False)[1])
    _NORM_CACHE[key] = (e, d, weakref.ref(session))
    return e, d


def _dot(a, b, d: "int | None" = None):
    """Sequential-order dot product; with ``d`` known it unrolls to d
    codegen multiplies (left-to-right fold, bit-identical to the HOF
    form and DuckDB's list_dot_product). Element access is null-safe
    ``F.get`` (not ``[]``): a ragged/dirty vector shorter than d yields
    a NULL dot — dropped downstream like the HOF form's zip_with-null —
    instead of an ANSI INVALID_ARRAY_INDEX that kills the job."""
    if d:
        return sum(
            (F.get(a, i) * F.get(b, i) for i in range(1, d)),
            F.get(a, 0) * F.get(b, 0),
        )
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_topk(
    emb: DataFrame, query_ids: List[int], k: int = DEFAULT_K
) -> DataFrame:
    """(qid, vec_id, score, rank) — exact top-k by cosine for each query
    vector (queries are corpus members identified by vec_id; the query
    side is broadcast). Ranks on the 6-dp ROUNDED score (ties break
    vec_id ASC): the two engines' fold orders agree only to ~1e-15, so
    ranking raw floats could rank-flip near-ties between Spark and the
    oracle; the rounded key is cross-engine exact. Scale: the per-query
    cut is pipeline.topk_per_query's two-phase tournament — no task
    ever sorts one query's full corpus of scores."""
    from .pipeline import topk_per_query

    e, d = _norm_cached(emb)
    q = e.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .select(
            F.col("qid").alias("query_id"),
            F.col("vec_id").alias("doc_id"),
            F.round(
                _cos_sim(
                    F.col("v"), F.col("qv"), F.col("norm"), F.col("qnorm"), d
                ),
                6,
            ).alias("score"),
        )
        # zero-norm vectors have no defined cosine (try_divide -> null)
        .where(F.col("score").isNotNull())
    )
    return topk_per_query(scored, k).select(
        F.col("query_id").alias("qid"),
        F.col("doc_id").alias("vec_id"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


def cosine_topk_sql(query_ids: List[int], k: int = DEFAULT_K) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
           FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv, norm AS qnorm FROM e WHERE vec_id IN ({ids})),
scored AS (SELECT qid, vec_id,
                  round(list_dot_product(v, qv) / (norm * qnorm), 6) AS score
           FROM e CROSS JOIN q),
ranked AS (SELECT qid, vec_id, score,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY score DESC, vec_id ASC) AS rank
           FROM scored)
SELECT qid::BIGINT AS qid, vec_id::BIGINT AS vec_id,
       score, rank::BIGINT AS rank
FROM ranked WHERE rank <= {k}
"""


# ------------------------------------------------------------ IVF ANN


def _centroid_frame(e: DataFrame, n_centroids: int) -> DataFrame:
    """(cell, cv, cnorm) — the ``n_centroids`` SMALLEST vec_ids, made
    explicit with one tiny driver collect so the selection holds in ANY
    id space (``vec_id < n`` silently yielded fewer or zero centroids —
    and therefore empty ANN results with no error — on tables whose
    ids don't start at 0)."""
    ids = [
        int(r["vec_id"])
        for r in e.select("vec_id")
        .orderBy("vec_id")
        .limit(n_centroids)
        .collect()
    ]
    return e.where(F.col("vec_id").isin(ids)).select(
        F.col("vec_id").alias("cell"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
    )


def ann_assignments(
    emb: DataFrame,
    n_centroids: int = DEFAULT_CENTROIDS,
    _e: DataFrame | None = None,
    _cent: DataFrame | None = None,
    _d: "int | None" = None,
) -> DataFrame:
    """(vec_id, cell) — assign every vector to its nearest centroid by
    cosine rounded to 6 dp (ties → smallest centroid id; the rounded
    key keeps assignments identical across engines whose float fold
    orders agree only to ~1e-15). Broadcast-join argmax: the centroid
    table is tiny, the corpus side never shuffles; at scale the result
    is written partitioned by cell (the IVF index). ``_e``/``_cent``
    let callers that already built the normalized frame / centroid
    table (ivf_topk) share them instead of re-scanning the corpus."""
    d = _d if _d is not None else _probe_dim(emb)
    e = _e if _e is not None else _with_norm(emb, d)
    cent = _cent if _cent is not None else _centroid_frame(e, n_centroids)
    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "cell",
        F.round(
            _cos_sim(F.col("v"), F.col("cv"), F.col("norm"), F.col("cnorm"), d),
            6,
        ).alias("sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("sim").desc(), F.col("cell").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "cell")
    )


def ivf_topk(
    emb: DataFrame,
    query_ids: List[int],
    k: int = DEFAULT_K,
    n_centroids: int = DEFAULT_CENTROIDS,
    nprobe: int = DEFAULT_NPROBE,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """(qid, vec_id, score, rank) — IVF approximate top-k: score only
    vectors whose cell is among the query's ``nprobe`` closest
    centroids. Deterministic (and therefore oracle-checkable) because
    centroids and tie-breaks are.

    ``centroids`` (a (cell, cv, cnorm) frame, e.g.
    `clustering.kmeans_centroids`) replaces the deterministic seed
    centroids with a TRAINED coarse quantizer — tighter cells, better
    recall at the same nprobe; ``n_centroids`` is ignored then."""
    from .pipeline import topk_per_query

    e, d = _norm_cached(emb)
    cent = (
        centroids
        if centroids is not None
        else _centroid_frame(e, n_centroids)
    )
    # share the normalized frame + centroid table: the previous form
    # re-built _with_norm inside ann_assignments, scanning and norming
    # the corpus twice per query
    assign = ann_assignments(emb, n_centroids, _e=e, _cent=cent, _d=d)
    q = e.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    # which cells does each query probe? (6-dp rounded sim: the probe
    # choice must be identical across engines, like every rank here)
    qc = q.crossJoin(F.broadcast(cent)).select(
        "qid",
        "cell",
        F.round(
            _cos_sim(F.col("qv"), F.col("cv"), F.col("qnorm"), F.col("cnorm"), d),
            6,
        ).alias("sim"),
    )
    wq = Window.partitionBy("qid").orderBy(
        F.col("sim").desc(), F.col("cell").asc()
    )
    probes = (
        qc.withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= nprobe)
        .select("qid", "cell")
    )
    # candidates = vectors living in probed cells (cell-pruned scan at
    # scale: assignments are partitioned by cell on disk)
    cand = assign.join(F.broadcast(probes), "cell").select("qid", "vec_id")
    scored = (
        cand.join(e, "vec_id")
        .join(
            F.broadcast(q.select("qid", "qv", "qnorm")), "qid"
        )
        .select(
            F.col("qid").alias("query_id"),
            F.col("vec_id").alias("doc_id"),
            F.round(
                _cos_sim(
                    F.col("v"), F.col("qv"), F.col("norm"), F.col("qnorm"), d
                ),
                6,
            ).alias("score"),
        )
        .where(F.col("score").isNotNull())
    )
    # two-phase tournament: no task sorts one query's full probe set
    return topk_per_query(scored, k).select(
        F.col("query_id").alias("qid"),
        F.col("doc_id").alias("vec_id"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


def ivf_topk_sql(
    query_ids: List[int],
    k: int = DEFAULT_K,
    n_centroids: int = DEFAULT_CENTROIDS,
    nprobe: int = DEFAULT_NPROBE,
    centroid_cte: "tuple[str, str] | None" = None,
) -> str:
    """``centroid_cte`` = (cte_chain, final_name) of a (cell, c) table
    (e.g. `clustering.kmeans_centroid_cte`) — splices a trained
    quantizer in place of the seed-centroid CTE, mirroring
    ``ivf_topk(centroids=...)``."""
    ids = ", ".join(str(i) for i in query_ids)
    if centroid_cte is not None:
        chain, fin = centroid_cte
        cent_src = f"""{chain},
cent AS (SELECT cell, c AS cv,
                sqrt(list_dot_product(c, c)) AS cnorm FROM {fin}),"""
    else:
        cent_src = f"""cent AS (SELECT vec_id AS cell, v AS cv, norm AS cnorm FROM e
         ORDER BY vec_id LIMIT {n_centroids}),"""
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
           FROM embeddings),
{cent_src}
assign AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, cent.cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_dot_product(e.v, cent.cv)
                            / (e.norm * cent.cnorm), 6) DESC,
                      cent.cell ASC) AS rn
    FROM e CROSS JOIN cent)
  WHERE rn = 1),
q AS (SELECT vec_id AS qid, v AS qv, norm AS qnorm FROM e WHERE vec_id IN ({ids})),
probes AS (
  SELECT qid, cell FROM (
    SELECT q.qid, cent.cell,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY round(list_dot_product(q.qv, cent.cv)
                            / (q.qnorm * cent.cnorm), 6) DESC,
                      cent.cell ASC) AS rn
    FROM q CROSS JOIN cent)
  WHERE rn <= {nprobe}),
cand AS (SELECT probes.qid, assign.vec_id
         FROM assign JOIN probes ON assign.cell = probes.cell),
scored AS (SELECT cand.qid, cand.vec_id,
                  round(list_dot_product(e.v, q.qv)
                        / (e.norm * q.qnorm), 6) AS score
           FROM cand JOIN e ON e.vec_id = cand.vec_id
                     JOIN q ON q.qid = cand.qid),
ranked AS (SELECT qid, vec_id, score,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY score DESC, vec_id ASC) AS rank
           FROM scored)
SELECT qid::BIGINT AS qid, vec_id::BIGINT AS vec_id,
       score, rank::BIGINT AS rank
FROM ranked WHERE rank <= {k}
"""


# ------------------------------------------------------ hybrid re-rank


def hybrid_rerank(
    candidates: DataFrame,
    emb: DataFrame,
    query_vec_id: int,
    k: int = DEFAULT_K,
    alpha: float = 0.5,
) -> DataFrame:
    """Hybrid retrieval: re-rank a BM25 candidate set by embedding
    cosine to a query vector — the lexical-recall + semantic-precision
    two-stage serving shape. ``candidates`` is any (doc_id, score)
    frame (``pipeline.bm25_topk`` or ``IndexReader.search`` with a
    generous k); the final score is
    ``alpha * bm25/max(bm25) + (1-alpha) * cosine``.

    Cross-engine determinism protocol (frozen): every intermediate is
    rounded to 6 dp BEFORE entering the next operation — raw BM25,
    then the max-normalized ratio, then the cosine, then the blend —
    so Spark and the DuckDB oracle compute identical doubles at every
    step. Candidates without an embedding row (or a zero-norm vector)
    drop out, mirroring try_divide-NULL semantics.

    Scale: the candidate set is O(candidate-k) rows — it BROADCASTS
    into one embeddings scan (semi-join; the corpus-sized side never
    shuffles); the query vector and the 1-row max ride the same
    broadcast. The final rank is a window over ≤ |candidates| rows."""
    e, d = _norm_cached(emb)
    q = e.where(F.col("vec_id") == int(query_vec_id)).select(
        F.col("v").alias("qv"), F.col("norm").alias("qnorm")
    )
    cand = candidates.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 6).alias("_b"),
    )
    mx = cand.agg(F.max("_b").alias("_mx"))
    scored = (
        e.join(F.broadcast(cand), e["vec_id"] == cand["doc_id"])
        .crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(mx))
        .select(
            "doc_id",
            F.round(F.try_divide(F.col("_b"), F.col("_mx")), 6).alias(
                "bm25_norm"
            ),
            F.round(
                _cos_sim(
                    F.col("v"), F.col("qv"), F.col("norm"), F.col("qnorm"), d
                ),
                6,
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim").isNotNull() & F.col("bm25_norm").isNotNull())
        .withColumn(
            "score",
            F.round(
                F.lit(float(alpha)) * F.col("bm25_norm")
                + F.lit(1.0 - float(alpha)) * F.col("cos_sim"),
                6,
            ),
        )
    )
    top = scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return top.select(
        "doc_id", "bm25_norm", "cos_sim", "score",
        F.row_number().over(w).cast("long").alias("rank"),
    )


def hybrid_rrf(
    candidates: DataFrame,
    emb: DataFrame,
    query_vec_id: int,
    k: int = DEFAULT_K,
    rrf_k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) over the same
    two-stage shape as ``hybrid_rerank``: score =
    ``1/(rrf_k + rank_bm25) + 1/(rrf_k + rank_cosine)``. Rank-based, so
    it needs no score normalization and no alpha tuning — the standard
    fusion when the two score distributions are incomparable.

    Protocol (frozen): both ranks are computed over the EMBEDDED
    candidate subset (candidates without an embedding row or with a
    zero-norm vector drop first, as in ``hybrid_rerank``), each by
    (its score DESC, doc_id ASC); the fused score is rounded to 6 dp;
    final order (score DESC, doc_id ASC). Integer ranks make the
    fusion cross-engine exact by construction.

    Scale: identical to ``hybrid_rerank`` — candidate broadcast into
    one embeddings scan; both rank windows see ≤ |candidates| rows."""
    e, d = _norm_cached(emb)
    q = e.where(F.col("vec_id") == int(query_vec_id)).select(
        F.col("v").alias("qv"), F.col("norm").alias("qnorm")
    )
    cand = candidates.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("score").alias("_b"),
    )
    joined = (
        e.join(F.broadcast(cand), e["vec_id"] == cand["doc_id"])
        .crossJoin(F.broadcast(q))
        .select(
            "doc_id",
            "_b",
            F.round(
                _cos_sim(
                    F.col("v"), F.col("qv"), F.col("norm"), F.col("qnorm"), d
                ),
                6,
            ).alias("_c"),
        )
        .where(F.col("_c").isNotNull())
    )
    w_b = Window.orderBy(F.col("_b").desc(), F.col("doc_id").asc())
    w_c = Window.orderBy(F.col("_c").desc(), F.col("doc_id").asc())
    fused = joined.select(
        "doc_id",
        F.row_number().over(w_b).cast("long").alias("bm25_rank"),
        F.row_number().over(w_c).cast("long").alias("cos_rank"),
    ).withColumn(
        "score",
        F.round(
            F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("bm25_rank"))
            + F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("cos_rank")),
            6,
        ),
    )
    top = fused.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return top.select(
        "doc_id", "bm25_rank", "cos_rank", "score",
        F.row_number().over(w).cast("long").alias("rank"),
    )
