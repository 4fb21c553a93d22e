"""The relational core: tokens -> tf -> df/dl/stats -> BM25 top-k.

This module is the declarative (pure DataFrame, zero-Python) expression
of the engine's semantics. The disk-backed index (build.py / query.py)
is an optimization of exactly this plan; tests assert both paths agree
with the pure-Python oracle.

Reference mapping (SURVEY.md §2):
  * ``tokens``        = S3+T1 (tokenize every file's content)
  * ``term_doc_tf``   = O1's set-merge radix insert, generalized to tf
                        counting (the reference stores boolean membership
                        only — reference tree/TreeNode.java:18)
  * ``doc_freq``      = the df statistic the reference lacks
  * ``bm25_topk``     = Q1/Q2/Q3 match modes + the north-star BM25
                        ranking replacing the reference's unordered
                        limit(100) (reference SimpleSearchManager.java:64-70)

Scoring spec (frozen; SURVEY.md §7.5): k1=1.2, b=0.75,
idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)),
score(q,d) = sum over distinct q-terms of
             idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)).
Tie-break: score DESC, doc_id ASC.
"""

from __future__ import annotations

from typing import Dict, Iterable, List, Mapping, Union

from pyspark.sql import DataFrame, Window, functions as F

from .frames import RESULT_FIELDS, literal_frame
from .tokenizer import tokens_col

K1 = 1.2
B = 0.75

EXACT_MATCH = "EXACT_MATCH"
START_WITH = "START_WITH"
WITH_SUGGESTIONS = "WITH_SUGGESTIONS"  # OR over the explicit query list
AND_MATCH = "AND_MATCH"  # conjunctive extension (north-star intersection)
CONTAINS_MATCH = "CONTAINS_MATCH"  # substring-of-term expansion (wildcard *q*)


def _floor(df: DataFrame) -> DataFrame:
    """Parallelism floor for scan+tokenize stages: a small corpus read
    from one parquet file arrives as ONE split (parquet splits at row
    groups) and serializes the whole map stage on a single core.

    Applied ONCE per query entry (``bm25_topk``), never inside the leaf
    transforms — a per-transform floor re-shuffles full document
    content up to twice per query (measured 2.2x latency on the
    declarative path at sf0.1). Cached inputs are returned untouched:
    the cache's partition layout is authoritative, and repartitioning
    would shuffle the hot data on every query — callers who cache
    should floor BEFORE caching (``df.repartition(parallelism).cache()``)
    so every downstream query inherits the parallelism for free.
    No-op at scale (scans carry >= cores splits)."""
    if df.is_cached:
        return df
    parts = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parts:
        return df.repartition(parts)
    return df


def tokens(corpus: DataFrame, tokenizer: str = "standard") -> DataFrame:
    """(doc_id, term) — one row per token occurrence. Pure JVM
    split+explode; Catalyst prunes ``content`` right after. Pure
    projection: no repartition here (see ``_floor``)."""
    return corpus.select(
        "doc_id", F.explode(tokens_col(F.col("content"), tokenizer)).alias("term")
    )


def term_doc_tf(tok: DataFrame) -> DataFrame:
    """(term, doc_id, tf). Spark's partial+final hash aggregation gives
    map-side combining for free — the distributed replacement for the
    reference's single apply thread (IndexationSchedulerTask.java:34-63).
    Keys are (term, doc_id), so hot terms spread across reducers by
    doc_id: this stage is skew-immune by construction."""
    return tok.groupBy("term", "doc_id").agg(F.count("*").cast("int").alias("tf"))


def doc_lengths(corpus: DataFrame, tokenizer: str = "standard") -> DataFrame:
    """(doc_id, dl). Computed as size(tokenize(content)) without an
    explode — no shuffle, reads each row once. Pure projection: no
    repartition here (see ``_floor``)."""
    return corpus.select(
        "doc_id", F.size(tokens_col(F.col("content"), tokenizer)).alias("dl")
    )


def doc_freq(tf: DataFrame) -> DataFrame:
    """(term, df). Partial+final agg; one output row per term."""
    return tf.groupBy("term").agg(F.count("*").alias("df"))


def corpus_stats_df(dl: DataFrame) -> DataFrame:
    """Single-row (n_docs, avgdl). Kept as a DataFrame (broadcast-joined
    downstream) so the whole query stays one lazy plan."""
    return dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )


def _match_filter(col, terms: List[str], mode: str):
    if mode in (START_WITH, CONTAINS_MATCH):
        cond = None
        for t in terms:
            c = col.startswith(t) if mode == START_WITH else col.contains(t)
            cond = c if cond is None else (cond | c)
        return cond
    # EXACT_MATCH, WITH_SUGGESTIONS and AND_MATCH are exact-term IN-lists;
    # WITH_SUGGESTIONS just carries a longer list (the app expands the
    # query with Hunspell suggestions — reference
    # app/src/main/java/org/search/app/listener/SearchActionListener.java:44-48).
    return col.isin(terms)


def bm25_score_col(tf_col, dl_col, df_col, n_col, avgdl_col):
    """BM25 contribution of one (term, doc) pair as a Column expression
    (float64, same operation order as the oracle)."""
    idf = F.log(F.lit(1.0) + (n_col - df_col + F.lit(0.5)) / (df_col + F.lit(0.5)))
    tf_d = tf_col.cast("double")
    denom = tf_d + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * dl_col / avgdl_col)
    return idf * tf_d * F.lit(K1 + 1.0) / denom


def _empty_result(corpus: DataFrame) -> DataFrame:
    """Zero-row (doc_id, score, rank) — the degenerate-query guard
    (reference SimpleSearchManager.java:58)."""
    return (
        corpus.select("doc_id")
        .where(F.lit(False))
        .withColumn("score", F.lit(0.0))
        .withColumn("rank", F.lit(0))
    )


def _matched_tf(corpus, qterms, mode, tokenizer):
    """Shared query preamble: parallelism floor ONCE, tokenize, match
    filter BEFORE any shuffle, tf aggregation, AND-mode arity. Every
    entry point (global, grouped, cursored) builds on this so their
    scores stay bit-identical by construction."""
    corpus = _floor(corpus)
    tok = tokens(corpus, tokenizer)
    matched = tok.where(_match_filter(F.col("term"), qterms, mode))
    tf = term_doc_tf(matched)
    require_n = len(qterms) if mode == AND_MATCH else None
    return corpus, tok, tf, require_n


def bm25_topk(
    corpus: DataFrame,
    terms: Iterable[str],
    mode: str = EXACT_MATCH,
    k: int = 10,
    tokenizer: str = "standard",
    doc_filter=None,
    exclude_terms: Iterable[str] = None,
) -> DataFrame:
    """End-to-end declarative BM25 top-k over a corpus DataFrame that
    already has ``doc_id``. Returns (doc_id, score, rank).

    ``exclude_terms`` (Lucene NOT / prohibited clauses): documents
    containing ANY excluded term are dropped from the result set with
    filter semantics — df/N/avgdl stay corpus-global, surviving docs
    keep their scores. One extra token-filter pass bounded by the
    excluded terms' df, anti-joined before scoring.

    Plan shape (what Catalyst produces, verified via .explain in tests):
    scan -> split/explode -> partial+final agg (tf) -> broadcast joins of
    the tiny per-term df and single-row stats -> TakeOrderedAndProject.
    The only wide exchanges are the two aggregations; the match filter is
    applied *before* the df join so only matching terms shuffle.

    ``doc_filter`` (Column or SQL-expression string over the corpus
    columns, e.g. ``"repo = 'src3' AND lang = 'en'"``) scopes the RESULT
    SET without changing scoring — Lucene filter-query semantics: idf,
    df, N and avgdl stay corpus-global; the filter only decides which
    docs may appear in the top-k. Scoped queries by repo / lang / path
    are the everyday query shape on a source-code corpus.
    """
    qterms = list(dict.fromkeys(terms))  # dedup, preserve order
    if not qterms:
        return _empty_result(corpus)

    corpus, tok, tf, require_n = _matched_tf(corpus, qterms, mode, tokenizer)
    excl = [t for t in dict.fromkeys(exclude_terms or []) if t]
    exclude_docs = (
        tok.where(F.col("term").isin(excl)).select("doc_id").distinct()
        if excl
        else None
    )
    return _bm25_rank(
        tf, corpus, k, tokenizer, require_n, doc_filter, exclude_docs
    )


def _bm25_scored(
    tf: DataFrame,
    corpus: DataFrame,
    tokenizer: str,
    require_n: int | None = None,
    doc_filter=None,
    exclude_docs: DataFrame | None = None,
    dl: DataFrame | None = None,
    require_docs: DataFrame | None = None,
) -> DataFrame:
    """Shared scoring body: (term, doc_id, tf) rows of MATCHED terms ->
    un-truncated (doc_id, score) over the whole match set. df comes
    from the tf rows themselves (the match filter keeps every doc
    containing a matched term, so doc_freq(tf) IS the global df);
    dl/avgdl/N from the corpus. ``require_n`` enforces AND semantics
    (doc must hold that many distinct matched terms). ``doc_filter``
    drops disallowed docs AFTER df is taken (global-stats filter
    semantics, see bm25_topk)."""
    # Global document frequency of each matched term: the term filter
    # keeps every doc containing the term, so doc_freq(tf) IS the global
    # df — no second pass over the corpus needed.
    dfreq = doc_freq(tf)
    if exclude_docs is not None:
        # NOT clause: membership-only anti-join AFTER df is taken
        # (global stats), before dl/scoring so excluded docs never
        # shuffle further
        tf = tf.join(exclude_docs, "doc_id", "left_anti")
    if doc_filter is not None:
        flt = F.expr(doc_filter) if isinstance(doc_filter, str) else doc_filter
        # semi join, not a row-filter on tf: the filter predicate lives
        # on corpus columns (repo/lang/...) that tf rows don't carry.
        # Placed after doc_freq so df stays global, before the dl join
        # and scoring agg so disallowed docs never shuffle further.
        tf = tf.join(corpus.where(flt).select("doc_id"), "doc_id", "semi")

    if require_docs is not None:
        # boolean-query membership (AND of OR-groups): semi join the
        # allowed doc set at the same global-stats point as doc_filter
        tf = tf.join(require_docs, "doc_id", "semi")
    # ``dl`` lets a caller that already materialized the doc-length
    # frame (more_like_this's fused plan) share it; the expression is
    # identical either way, so scores are bit-identical.
    if dl is None:
        dl = doc_lengths(corpus, tokenizer)
    stats = corpus_stats_df(dl)

    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib",
            bm25_score_col(
                F.col("tf"), F.col("dl").cast("double"), F.col("df").cast("double"),
                F.col("n_docs"), F.col("avgdl"),
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("score"), F.count("*").alias("_nt"))
    )
    if require_n is not None:
        # intersection semantics: doc must contain every query term.
        # tf rows are unique per (term, doc), so _nt == matched-term count.
        scored = scored.where(F.col("_nt") == require_n)
    return scored.drop("_nt")


def _bm25_rank(
    tf: DataFrame,
    corpus: DataFrame,
    k: int,
    tokenizer: str,
    require_n: int | None = None,
    doc_filter=None,
    exclude_docs: DataFrame | None = None,
    dl: DataFrame | None = None,
    require_docs: DataFrame | None = None,
) -> DataFrame:
    """Shared scoring tail: ``_bm25_scored`` + global top-k ->
    (doc_id, score, rank)."""
    scored = _bm25_scored(
        tf, corpus, tokenizer, require_n, doc_filter, exclude_docs, dl,
        require_docs,
    ).orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    # rank over ≤k rows — the window after the limit is trivially small.
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return scored.select("doc_id", "score", F.row_number().over(w).alias("rank"))


# ------------------------------------------------- suggestion expansion


def suggest_terms(
    corpus: DataFrame,
    terms: Iterable[str],
    max_dist: int = 1,
    tokenizer: str = "standard",
) -> DataFrame:
    """(term) — every vocabulary term of the SAME LENGTH as a query term
    within ``max_dist`` LEVENSHTEIN edits of it (equal lengths do NOT
    reduce Levenshtein to Hamming past d=1 — 'part'/'arts' is
    Levenshtein 2, Hamming 4; all four suggest paths use Levenshtein:
    here, IndexReader.suggest_terms cached+distributed, and the DuckDB
    oracle). The deterministic, in-engine
    analog of the reference's Hunspell expansion, which filters
    suggestions to the query's length before searching each as EXACT
    (reference app/.../listener/SearchActionListener.java:44-48); the
    reference generates candidates app-side, we scan the dictionary.

    Plan: distinct-term aggregation (the dictionary), then a
    length-bucketed levenshtein filter — length(term) = len(q) prunes
    before the edit-distance expression runs. One vocab-sized shuffle;
    at scale the dictionary is the index's term dict (see
    IndexReader.suggest_terms for the zero-scan path)."""
    qterms = [t for t in dict.fromkeys(terms) if t]
    vocab = tokens(_floor(corpus), tokenizer).select("term").distinct()
    if not qterms:
        # same degenerate-query convention as bm25_topk / phrase_topk:
        # empty in, empty out (where(None) would raise)
        return vocab.where(F.lit(False))
    cond = None
    for q in qterms:
        c = (F.length("term") == len(q)) & (
            F.levenshtein(F.col("term"), F.lit(q)) <= max_dist
        )
        cond = c if cond is None else (cond | c)
    return vocab.where(cond)


def bm25_suggest_topk(
    corpus: DataFrame,
    terms: Iterable[str],
    max_dist: int = 1,
    k: int = 10,
    tokenizer: str = "standard",
) -> DataFrame:
    """WITH_SUGGESTIONS end-to-end: expand each query term against the
    corpus vocabulary (same length, ≤ ``max_dist`` edits), then BM25
    OR-union over the expanded set — the reference's suggestion search
    with the Hunspell lookup replaced by the deterministic dictionary
    scan. Expansion terms score like any OR term (df from the matched
    rows, no extra corpus pass); the expansion frame is broadcast into
    the token-filter join, so the corpus-side plan is identical to
    bm25_topk's."""
    qterms = list(dict.fromkeys(terms))
    if not qterms:
        return bm25_topk(corpus, [], WITH_SUGGESTIONS, k, tokenizer)
    corpus = _floor(corpus)
    sugg = suggest_terms(corpus, qterms, max_dist, tokenizer)
    matched = tokens(corpus, tokenizer).join(F.broadcast(sugg), "term")
    return _bm25_rank(term_doc_tf(matched), corpus, k, tokenizer)


def mlt_term_weights(
    corpus: DataFrame,
    src_doc_id: int,
    tokenizer: str = "standard",
    min_df: int = 2,
) -> DataFrame:
    """(term, wt) — the source document's terms weighted by
    tf(t, src) · idf(t), idf over the FULL corpus (same formula as
    scoring), wt rounded to 6dp for engine-stable ordering. The
    more-like-this expansion table (Lucene MoreLikeThis's
    interestingTerms, re-expressed relationally).

    ``min_df`` drops terms appearing in fewer than that many documents
    (Lucene MoreLikeThis minDocFreq): without it, idf dominance selects
    the source doc's hapaxes — terms NO other document contains — and
    the expansion query matches nothing. The default 2 merely requires
    one other occurrence.

    Plan: the source doc's tokens come from a doc_id-pruned scan; its
    term set broadcasts into the corpus token stream, so the df pass
    aggregates ONLY source-term rows (volume Σ df over the doc's
    terms, never corpus size)."""
    corpus = _floor(corpus)
    tok = tokens(corpus, tokenizer)
    src_tf = term_doc_tf(
        tok.where(F.col("doc_id") == F.lit(int(src_doc_id)))
    ).select("term", "tf")
    matched = tok.join(F.broadcast(src_tf.select("term")), "term")
    dfreq = doc_freq(term_doc_tf(matched)).where(
        F.col("df") >= int(min_df)
    )
    dl = doc_lengths(corpus, tokenizer)
    stats = corpus_stats_df(dl)
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    return (
        src_tf.join(dfreq, "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            F.round(F.col("tf").cast("double") * idf, 6).alias("wt"),
        )
    )


def more_like_this(
    corpus: DataFrame,
    src_doc_id: int,
    m_terms: int = 10,
    k: int = 10,
    tokenizer: str = "standard",
    min_df: int = 2,
) -> DataFrame:
    """(doc_id, score, rank) — documents most similar to ``src_doc_id``
    under BM25: the source doc's ``m_terms`` highest tf·idf terms
    become an OR query, scored over the corpus with GLOBAL df/stats,
    the source doc itself excluded from the result set (filter
    semantics — its presence still counts in df/N/avgdl, so scores are
    independent of the exclusion). The Lucene MoreLikeThis analog; the
    reference engine has no similar-document surface (its index is
    boolean membership only, SURVEY.md §0 fact 1) — this composes the
    north-star BM25 layer.

    Term selection orders by (wt DESC, term ASC) on the 6dp-rounded
    weight among terms with df ≥ ``min_df`` (same weights as
    :func:`mlt_term_weights`), so engine and oracle pick the identical
    set.

    Plan (round 5, revised after 600k-doc stress): the weights pass is
    ONE job — the corpus token stream joins the source doc's broadcast
    term set, and df, the source tfs, the corpus stats and the tf·idf
    ordering all evaluate inside that single plan (the round-4 form
    ran a separate dl/stats pass per stage). The scoring pass then
    aggregates ONLY the selected ≤ ``m_terms`` terms' rows — a far
    smaller aggregate than the full source vocabulary. The matched
    (term, doc_id, tf) frame is deliberately NOT persisted: for a
    source doc holding hot keywords it is tens of millions of rows,
    and materializing it measured 2.5x slower at 600k docs than the
    second tokenize it avoids. Only the narrow (doc_id, dl) frame
    persists (shared by stats and the scoring join). The final ≤ ``k``
    ranked rows are collected (parameter-bounded) so the dl frame
    releases before returning; the result is a local-relation frame
    with the standard (doc_id, score, rank) schema.

    Runs eagerly: both passes execute when this function is called,
    not when the returned frame is consumed."""
    src = int(src_doc_id)
    corpus = _floor(corpus)
    tok = tokens(corpus, tokenizer)
    src_terms = (
        tok.where(F.col("doc_id") == F.lit(src)).select("term").distinct()
    )
    matched_tf = term_doc_tf(tok.join(F.broadcast(src_terms), "term"))
    dl = doc_lengths(corpus, tokenizer).persist()
    try:
        stats = corpus_stats_df(dl)
        # the match join keeps every doc holding a source term, so
        # doc_freq over the matched frame IS the global df of each term
        dfreq = doc_freq(matched_tf).where(F.col("df") >= int(min_df))
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df").cast("double") + F.lit(0.5))
            / (F.col("df").cast("double") + F.lit(0.5))
        )
        wts = (
            matched_tf.where(F.col("doc_id") == F.lit(src))
            .join(dfreq, "term")
            .crossJoin(F.broadcast(stats))
            .select(
                "term",
                F.round(F.col("tf").cast("double") * idf, 6).alias("wt"),
            )
            .orderBy(F.col("wt").desc(), F.col("term").asc())
            .limit(int(m_terms))
            .collect()
        )
        sel = [r["term"] for r in wts]
        if not sel:
            return bm25_topk(corpus, [], WITH_SUGGESTIONS, k, tokenizer)
        ranked = _bm25_rank(
            term_doc_tf(tok.where(F.col("term").isin(sel))),
            corpus,
            k,
            tokenizer,
            doc_filter=(F.col("doc_id") != F.lit(src)),
            dl=dl,
        )
        rows = ranked.collect()
        return literal_frame(corpus.sparkSession, rows, RESULT_FIELDS)
    finally:
        dl.unpersist()


def bm25_prf_topk(
    corpus: DataFrame,
    terms: Iterable[str],
    k: int = 10,
    fb_docs: int = 5,
    fb_terms: int = 5,
    min_df: int = 2,
    tokenizer: str = "standard",
) -> DataFrame:
    """Pseudo-relevance feedback (Rocchio/RM3-style query expansion):
    run the OR query, take the top ``fb_docs`` results as implicit
    relevance feedback, add their ``fb_terms`` strongest terms to the
    query, re-score. The classic recall lever when queries are short —
    the reference engine's WITH_SUGGESTIONS mode expands by SPELLING
    (Hunspell, app/.../SearchActionListener.java:44-48); PRF expands by
    CONTENT, composing the same OR-union machinery.

    Frozen deterministic protocol (oracle-checkable):
      1. feedback set = BM25 top ``fb_docs`` (score DESC, doc_id ASC);
      2. candidate terms = feedback docs' terms minus the query terms;
         weight = round(Σ_fb tf(t,d) · idf(t), 6) with GLOBAL df and
         the standard idf formula, df ≥ ``min_df`` (hapax guard, as in
         more_like_this); selection orders (wt DESC, term ASC), top
         ``fb_terms``;
      3. final = standard BM25 OR over (query ∪ expansion) terms,
         global stats, top ``k``.

    Plan: the query-term tf frame (bounded by the explicit query's
    Σ df — what any OR query shuffles) and the narrow (doc_id, dl)
    frame persist across the passes; the candidate frame over the
    feedback docs' full vocabulary is deliberately LAZY (hot keywords
    make it corpus-scale — materializing it measured 2.5x slower than
    recomputation at 600k docs), evaluated once inside the single
    weights job, and the final pass re-aggregates only the ≤ fb_terms
    selected terms. The feedback-doc token scan is doc_id-pruned (the
    predicate sits on a corpus column, under the explode). Driver
    traffic is parameter-bounded: fb_docs ids + fb_terms weights + the
    final ≤ k rows (returned as a local-relation frame so the persisted
    frames release before return)."""
    qterms = list(dict.fromkeys(terms))
    if not qterms:
        return _empty_result(corpus)
    corpus = _floor(corpus)
    tok = tokens(corpus, tokenizer)
    tf0 = term_doc_tf(tok.where(F.col("term").isin(qterms))).persist()
    dl = doc_lengths(corpus, tokenizer).persist()
    try:
        fb_rows = _bm25_rank(tf0, corpus, int(fb_docs), tokenizer, dl=dl).collect()
        fb_ids = [int(r["doc_id"]) for r in fb_rows]
        if not fb_ids:
            return literal_frame(corpus.sparkSession, [], RESULT_FIELDS)
        cand_terms = (
            tok.where(F.col("doc_id").isin(fb_ids))
            .where(~F.col("term").isin(qterms))
            .select("term")
            .distinct()
        )
        # NOT persisted: feedback docs carry hot keywords, so this
        # frame is Σ df over their whole vocabulary — materializing it
        # measured 2.5x slower than recomputation in the more_like_this
        # 600k stress; the weights evaluate it in ONE job below and the
        # final pass re-aggregates only the ≤ fb_terms selected terms
        cand_tf = term_doc_tf(tok.join(F.broadcast(cand_terms), "term"))
        stats = corpus_stats_df(dl)
        dfreq = doc_freq(cand_tf).where(F.col("df") >= int(min_df))
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df").cast("double") + F.lit(0.5))
            / (F.col("df").cast("double") + F.lit(0.5))
        )
        wts = (
            cand_tf.where(F.col("doc_id").isin(fb_ids))
            .groupBy("term")
            .agg(F.sum(F.col("tf").cast("double")).alias("_s"))
            .join(dfreq, "term")
            .crossJoin(F.broadcast(stats))
            .select("term", F.round(F.col("_s") * idf, 6).alias("wt"))
            .orderBy(F.col("wt").desc(), F.col("term").asc())
            .limit(int(fb_terms))
            .collect()
        )
        sel = [r["term"] for r in wts]
        tf_final = tf0
        if sel:
            # re-aggregate ONLY the selected expansion terms' rows —
            # a ≤ fb_terms-term aggregate, far smaller than cand_tf
            tf_final = tf0.unionByName(
                term_doc_tf(tok.where(F.col("term").isin(sel)))
            )
        ranked = _bm25_rank(tf_final, corpus, k, tokenizer, dl=dl)
        rows = ranked.collect()
        return literal_frame(corpus.sparkSession, rows, RESULT_FIELDS)
    finally:
        tf0.unpersist()
        dl.unpersist()


def bm25_bool_topk(
    corpus: DataFrame,
    must: Iterable[Iterable[str]],
    must_not: Iterable[str] = None,
    k: int = 10,
    tokenizer: str = "standard",
    doc_filter=None,
) -> DataFrame:
    """Compound boolean query — the Lucene BooleanQuery shape
    ``(a OR b) AND (c OR d) AND NOT e`` the reference's three flat
    modes cannot express. ``must`` is a list of OR-groups: a document
    qualifies iff it contains ≥ 1 term of EVERY group (and none of
    ``must_not``); its score is the standard BM25 sum over ALL matched
    query terms (Lucene: every matching SHOULD clause contributes),
    with corpus-global df/N/avgdl — membership filters never change
    scoring, the repo-wide filter-semantics rule.

    Plan: ONE tokenize + match filter over the union of all group
    terms (the standard ``_matched_tf`` preamble — scores stay
    bit-identical to ``bm25_topk`` over the same union by
    construction); group coverage is decided from those SAME tf rows
    via a broadcast (term, gid) map → distinct (doc, gid) →
    count-distinct-gids == n_groups, so the constraint costs one
    Σ df-bounded aggregation, never a corpus pass. NOT and
    ``doc_filter`` compose exactly as in ``bm25_topk``."""
    groups = [
        [t for t in dict.fromkeys(g) if t] for g in (must or [])
    ]
    groups = [g for g in groups if g]
    if not groups:
        return _empty_result(corpus)
    all_terms = list(dict.fromkeys(t for g in groups for t in g))
    corpus, tok, tf, _ = _matched_tf(
        corpus, all_terms, WITH_SUGGESTIONS, tokenizer
    )
    require = None
    if len(groups) > 1:
        gmap = literal_frame(
            corpus.sparkSession,
            [(t, gi) for gi, g in enumerate(groups) for t in g],
            [("term", "string"), ("_gid", "int")],
        )
        require = (
            tf.join(F.broadcast(gmap), "term")
            .select("doc_id", "_gid")
            .distinct()
            .groupBy("doc_id")
            .agg(F.countDistinct("_gid").alias("_ng"))
            .where(F.col("_ng") == len(groups))
            .select("doc_id")
        )
    excl = [t for t in dict.fromkeys(must_not or []) if t]
    exclude_docs = (
        tok.where(F.col("term").isin(excl)).select("doc_id").distinct()
        if excl
        else None
    )
    return _bm25_rank(
        tf, corpus, k, tokenizer, None, doc_filter, exclude_docs,
        require_docs=require,
    )


DEFAULT_FIELD_WEIGHTS = {"content": 1.0, "path": 2.0}


def combine_field_scores(parts, k: int) -> DataFrame:
    """Weighted full-outer combine of per-field (doc_id, score) frames
    → (doc_id, score, rank) top-k. ``parts`` = [(frame, weight), ...];
    each frame's score must already be 6-dp rounded (the cross-engine
    protocol: round per field, then round the weighted sum). Shared by
    the declarative and indexed multifield paths so their arithmetic is
    identical by construction."""
    acc = None
    cols = []
    for i, (frame, w) in enumerate(parts):
        f = frame.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("score").alias(f"_s{i}"),
        )
        acc = f if acc is None else acc.join(f, "doc_id", "full_outer")
        cols.append((f"_s{i}", float(w)))
    total = None
    for name, w in cols:
        term = F.lit(w) * F.coalesce(F.col(name), F.lit(0.0))
        total = term if total is None else (total + term)
    scored = acc.select("doc_id", F.round(total, 6).alias("score"))
    top = scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    w_ = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return top.select(
        "doc_id", "score", F.row_number().over(w_).alias("rank")
    )


def bm25_multifield_topk(
    corpus: DataFrame,
    terms: Iterable[str],
    fields: "Mapping[str, float]" = None,
    k: int = 10,
    tokenizer: str = "standard",
) -> DataFrame:
    """Multi-field weighted search — the Lucene MultiFieldQueryParser /
    per-field-boost shape (e.g. a path hit outranks a body hit in code
    search). Each field is scored as an INDEPENDENT BM25 corpus (its
    own tokenize, df, dl, avgdl — the per-field-BM25-plus-boosts
    variant, not tf-pooling BM25F) over the same OR query; the final
    score is round(Σ weight_f · round(score_f, 6), 6) with docs absent
    from a field contributing 0 there (full-outer combine).

    ``fields`` maps corpus column → weight (default content=1.0,
    path=2.0). Plan: one tokenize + match + score pipeline per field —
    the path/metadata fields are narrow projections, so their passes
    are cheap next to content's; the combine joins k-bounded… rather,
    match-set-bounded per-field score frames on doc_id."""
    qterms = list(dict.fromkeys(terms))
    if not qterms:
        return _empty_result(corpus)
    fmap = dict(fields) if fields else dict(DEFAULT_FIELD_WEIGHTS)
    parts = []
    for fld in sorted(fmap):
        fc = corpus.select("doc_id", F.col(fld).alias("content"))
        fc2, _, tf, _ = _matched_tf(fc, qterms, WITH_SUGGESTIONS, tokenizer)
        scored = _bm25_scored(tf, fc2, tokenizer).select(
            "doc_id", F.round("score", 6).alias("score")
        )
        parts.append((scored, float(fmap[fld])))
    return combine_field_scores(parts, k)


# ------------------------------------------------------- phrase queries


def tokens_pos(corpus: DataFrame, tokenizer: str = "standard") -> DataFrame:
    """(doc_id, pos, term) — one row per token occurrence with its
    0-based position in the document's token sequence. The positional
    form of ``tokens`` (reference Token {content, positionInRow},
    model/Token.java:3-11 — the engine's index stores no positions,
    faithful to the reference; positions exist only in query-time
    streams like this one)."""
    return corpus.select(
        "doc_id",
        F.posexplode(tokens_col(F.col("content"), tokenizer)).alias(
            "pos", "term"
        ),
    )


def _phrase_occurrences(tp: DataFrame, phrase: List[str]) -> DataFrame:
    """(doc_id, pos) of each full-phrase occurrence start — ONE pass.

    The token stream is filtered once to the phrase's term SET (one
    scan/tokenize of the input; shuffled volume Σ cf(term_i), never the
    token stream), then a single (doc_id)-keyed window checks adjacency
    with ``lead``: a start at ``pos`` requires the j-th following
    SURVIVING row to sit at ``pos + j`` holding ``phrase[j]`` — valid
    because any intervening non-phrase token would break the pos
    contiguity, and any intervening phrase token is itself in the
    filtered stream. This replaces the previous chain of p-1
    (doc_id, pos) equi-joins, each of which re-scanned and re-tokenized
    the input for its one term (measured on the indexed path: the
    candidate decode + tokenize ran once per phrase term)."""
    uniq = list(dict.fromkeys(phrase))
    stream = tp.where(F.col("term").isin(uniq))
    if len(phrase) == 1:
        return stream.where(F.col("term") == phrase[0]).select(
            "doc_id", "pos"
        )
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = []
    for j in range(1, len(phrase)):
        leads.append(F.lead("pos", j).over(w).alias(f"_p{j}"))
        leads.append(F.lead("term", j).over(w).alias(f"_t{j}"))
    dfw = stream.select("doc_id", "pos", "term", *leads)
    cond = F.col("term") == phrase[0]
    for j, t in enumerate(phrase[1:], 1):
        cond = (
            cond
            & (F.col(f"_p{j}") == F.col("pos") + j)
            & (F.col(f"_t{j}") == t)
        )
    return dfw.where(cond).select("doc_id", "pos")


def phrase_topk(
    corpus: DataFrame,
    phrase: List[str],
    k: int = 10,
    tokenizer: str = "standard",
) -> DataFrame:
    """BM25 top-k for an EXACT PHRASE (terms adjacent, in order).
    The phrase scores as one pseudo-term: tf = occurrence count,
    df = |docs with ≥1 occurrence|, same k1/b arithmetic and
    (score DESC, doc_id ASC) tie-break as every other mode. A 1-term
    phrase is exactly EXACT_MATCH bm25_topk.

    The index stores no positions (faithful to the reference, whose
    tree is doc-level only — SURVEY.md §0 fact 3); adjacency is
    verified from content at query time, the reference's own Q5
    re-scan architecture (SimpleSearchManager.java:187-214). For the
    index-accelerated form over candidates, see
    IndexReader.search_phrase."""
    phrase = [t for t in phrase if t]
    if not phrase:
        return bm25_topk(corpus, [], EXACT_MATCH, k, tokenizer)
    corpus = _floor(corpus)
    occ = _phrase_occurrences(tokens_pos(corpus, tokenizer), phrase)
    tf = occ.groupBy("doc_id").agg(F.count("*").cast("int").alias("tf"))
    dfreq = tf.agg(F.count("*").cast("double").alias("df"))
    dl = doc_lengths(corpus, tokenizer)
    stats = corpus_stats_df(dl)
    scored = (
        tf.join(dl, "doc_id")
        .crossJoin(F.broadcast(dfreq))
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "score",
            bm25_score_col(
                F.col("tf"), F.col("dl").cast("double"), F.col("df"),
                F.col("n_docs"), F.col("avgdl"),
            ),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return scored.select("doc_id", "score", F.row_number().over(w).alias("rank"))

# ------------------------------------------------- batched query sets

QuerySet = Union[Mapping[str, Iterable[str]], Iterable[Iterable[str]]]


def normalize_queries(queries: QuerySet) -> Dict[str, List[str]]:
    """Canonical query-set form: ordered {query_id: [terms...]} with
    per-query term dedup (empty terms KEPT — the single-query paths
    count them toward AND_MATCH's required-term total, so dropping
    them here would silently flip an empty AND result into matches).
    A bare sequence of term lists gets stable zero-padded ids
    (q00, q01, ...) so result ordering is lexical.

    A plain string is REJECTED wherever a term list belongs: iterating
    it would silently turn 'data' into per-character queries
    ['d','a','t'] — the natural mistake ``search_many(["data",
    "join"])`` must raise, not return wrong results."""
    if isinstance(queries, (str, bytes)):
        raise TypeError(
            "queries must be a mapping or a sequence of term lists, "
            f"not a string: {queries!r}"
        )
    if isinstance(queries, Mapping):
        items = list(queries.items())
    else:
        qlists = list(queries)
        width = max(2, len(str(max(len(qlists) - 1, 0))))
        items = [(f"q{i:0{width}d}", ts) for i, ts in enumerate(qlists)]
    out: Dict[str, List[str]] = {}
    for qid, terms in items:
        if isinstance(terms, (str, bytes)):
            raise TypeError(
                f"query {qid!r}: terms must be a list of terms, not the "
                f"string {terms!r} (did you mean [{terms!r}]?)"
            )
        # results carry query_id as STRING (it round-trips through the
        # plan-literal map); coerce up front so an int-keyed mapping
        # can't diverge from the ids coming back in the kernel
        qid = str(qid)
        if qid in out:
            raise ValueError(f"duplicate query_id {qid!r}")
        out[qid] = list(dict.fromkeys(terms))
    return out


def topk_per_query(scored: DataFrame, k: int, n_salt: int = 0) -> DataFrame:
    """(query_id, doc_id, score) -> per-query top-k with rank, exact
    (score DESC, doc_id ASC — the engine's tie-break) and scale-safe:
    a Window.partitionBy(query_id) alone routes a hot query's ENTIRE
    match set through one task's sort, so the cut runs as a two-phase
    tournament — phase 1 ranks within (query_id, doc_id%S) groups and
    keeps k per group (each group ~1/S of the query's matches), phase 2
    ranks the survivors (<= S*k rows per query). Phase 1 can never drop
    a global top-k row: a row top-k in its query is top-k in any
    subset containing it."""
    n_salt = n_salt or scored.sparkSession.sparkContext.defaultParallelism
    order = [F.col("score").desc(), F.col("doc_id").asc()]
    w1 = Window.partitionBy(
        "query_id", F.pmod(F.col("doc_id"), F.lit(n_salt))
    ).orderBy(*order)
    cut = (
        scored.withColumn("_r", F.row_number().over(w1))
        .where(F.col("_r") <= k)
        .drop("_r")
    )
    w2 = Window.partitionBy("query_id").orderBy(*order)
    return (
        cut.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def bm25_topk_many(
    corpus: DataFrame,
    queries: QuerySet,
    mode: str = WITH_SUGGESTIONS,
    k: int = 10,
    tokenizer: str = "standard",
    doc_filter=None,
) -> DataFrame:
    """Batched BM25: the whole query SET in one job ->
    (query_id, doc_id, score, rank), per-query top-k.

    The serving pattern at corpus scale is many queries against the
    same data, and the declarative path's cost is dominated by the
    scan+tokenize+tf aggregation — which is identical for every query.
    This runs that stage ONCE for the union of all query terms, then
    fans out per-query scoring through a broadcast (query_id, term)
    map: batch cost ~= one bm25_topk plus a per-matched-row multiply,
    not |queries| full passes. Scores are bit-identical to running
    bm25_topk per query (same df/dl/stats arithmetic on the same rows;
    pinned by test).

    Modes: EXACT_MATCH / WITH_SUGGESTIONS (OR), AND_MATCH (doc must
    hold every query term), START_WITH (per-query prefix expansion —
    a term matched by several of one query's prefixes contributes
    once, exactly as in bm25_topk's matched-set dedup). ``doc_filter``
    applies the same global-stats membership filter as bm25_topk, to
    every query in the batch. Queries whose terms never match produce
    zero rows, the batched analog of the single-query empty result."""
    qmap = normalize_queries(queries)
    empty = (
        corpus.sparkSession.range(0)
        .select(
            F.lit("").alias("query_id"),
            F.col("id").alias("doc_id"),
            F.lit(0.0).alias("score"),
            F.lit(0).alias("rank"),
        )
    )
    # Empty terms can never match as exact terms — they stay out of the
    # term map but still count toward AND_MATCH's required total below
    # (exactly how bm25_topk's require_n treats them). Under START_WITH
    # an empty PREFIX matches every term (startswith(''), the same
    # predicate _match_filter builds for bm25_topk), so it stays in.
    keep_empty = mode == START_WITH
    pairs = [
        (qid, t) for qid, ts in qmap.items() for t in ts if t or keep_empty
    ]
    if not pairs:
        return empty
    union_terms = sorted({t for _, t in pairs})

    corpus = _floor(corpus)
    tok = tokens(corpus, tokenizer)
    matched = tok.where(_match_filter(F.col("term"), union_terms, mode))
    tf = term_doc_tf(matched)
    # global df of every matched term — computed once for the batch;
    # per-query df of a shared term is the same number by definition
    dfreq = doc_freq(tf)

    qlit = literal_frame(
        corpus.sparkSession, pairs,
        [("query_id", "string"), ("qterm", "string")],
    )
    if mode == START_WITH:
        # expand each query's prefixes against the MATCHED vocabulary
        # (dfreq is small: one row per matched term), then dedup so a
        # term hit by two prefixes of the same query scores once
        qt = (
            dfreq.select("term")
            .join(F.broadcast(qlit), F.col("term").startswith(F.col("qterm")))
            .select("query_id", "term")
            .distinct()
        )
    else:
        qt = qlit.withColumnRenamed("qterm", "term")

    if doc_filter is not None:
        flt = F.expr(doc_filter) if isinstance(doc_filter, str) else doc_filter
        # after doc_freq (df stays corpus-global), before scoring
        tf = tf.join(corpus.where(flt).select("doc_id"), "doc_id", "semi")

    dl = doc_lengths(corpus, tokenizer)
    stats = corpus_stats_df(dl)
    scored = (
        tf.join(F.broadcast(qt), "term")
        .join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib",
            bm25_score_col(
                F.col("tf"), F.col("dl").cast("double"),
                F.col("df").cast("double"), F.col("n_docs"), F.col("avgdl"),
            ),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("score"), F.count("*").alias("_nt"))
    )
    if mode == AND_MATCH:
        need = literal_frame(
            corpus.sparkSession,
            [(qid, len(ts)) for qid, ts in qmap.items()],
            [("query_id", "string"), ("_need", "int")],
        )
        scored = scored.join(F.broadcast(need), "query_id").where(
            F.col("_nt") == F.col("_need")
        )
    return topk_per_query(scored.select("query_id", "doc_id", "score"), k)


# ------------------------------------------------------------- faceting


def facet_counts(
    corpus: DataFrame,
    terms: Iterable[str],
    mode: str = EXACT_MATCH,
    facet: str = "lang",
    tokenizer: str = "standard",
    top_n: int = None,
    doc_filter=None,
) -> DataFrame:
    """Search-result facet counts — the Lucene faceting analog the
    reference's Swing app approximates by eyeballing the path column
    (reference app/.../SearchResultTableModel.java renders rows only;
    no aggregation exists there). For the UN-truncated match set of
    ``terms``/``mode`` (the reference's ``getValue`` doc-set semantics,
    tree/SearchEngineConcurrentTree.java:163-195), count matching
    documents per value of one corpus metadata column
    (repo / lang / commit / ...). Returns (``facet``, doc_count),
    doc_count DESC, facet ASC.

    Plan: tokenize -> match filter (BEFORE any shuffle, so only
    matching term rows move) -> distinct doc_id (partial+final agg) ->
    equi-join back to the corpus registry columns -> partial+final
    count per facet value. Volume after the filter is sum(df) over the
    expansion, never corpus size; the facet agg output is |distinct
    values|, driver-safe. AND mode keeps docs holding every query term
    (countDistinct over the exact IN-list, same as bm25_topk)."""
    qterms = list(dict.fromkeys(terms))
    if not qterms:
        # degenerate-query guard (mirrors bm25_topk's): empty term list
        # -> empty typed (facet, doc_count) frame, not a planner error
        return (
            corpus.select(facet)
            .where(F.lit(False))
            .withColumn("doc_count", F.lit(0).cast("long"))
        )
    # floor the CORPUS, then tokenize (the _matched_tf pattern): the
    # match filter then sits under the repartition exchange by
    # construction instead of relying on filter-through-exchange
    # pushdown over the exploded token stream
    m = tokens(_floor(corpus), tokenizer).where(
        _match_filter(F.col("term"), qterms, mode)
    )
    if mode == AND_MATCH:
        hit = (
            m.groupBy("doc_id")
            .agg(F.countDistinct("term").alias("_m"))
            .where(F.col("_m") == len(qterms))
            .select("doc_id")
        )
    else:
        hit = m.select("doc_id").distinct()
    side = corpus
    if doc_filter is not None:
        # drill-down: counts scoped to an already-selected slice —
        # membership-only (facets carry no scores), same semantics as
        # IndexReader.search_facets(doc_filter=...)
        flt = F.expr(doc_filter) if isinstance(doc_filter, str) else doc_filter
        side = corpus.where(flt)
    out = (
        side.select("doc_id", facet)
        .join(hit, "doc_id")
        .groupBy(facet)
        .agg(F.count("*").alias("doc_count"))
        .orderBy(F.col("doc_count").desc(), F.col(facet).asc())
    )
    return out.limit(top_n) if top_n else out


# ------------------------------------------------------------- snippets


def snippets(
    corpus: DataFrame,
    terms: Iterable[str],
    mode: str = EXACT_MATCH,
    k: int = 10,
    width: int = 3,
    tokenizer: str = "standard",
) -> DataFrame:
    """Hit highlighting: BM25 top-k plus, per result, the first matching
    token's position and a ±``width``-token snippet around it — the
    result-presentation step the reference leaves to its Swing table
    (which shows the whole row text, app/.../SearchRowRenderer.java).
    Token-faithful: "first match" means the first TOKEN matched by the
    query mode, not a substring hit inside a larger token.

    Returns (doc_id, score, rank, first_pos, snippet); ``first_pos`` is
    the 1-based token index, ``snippet`` the matched window joined by
    single spaces (tokenizers strip whitespace runs, so the snippet is
    a canonical rendering, not a byte slice of the source).

    Plan (round 5): the bm25_topk result is collected (k-bounded, the
    repo's parameter-bounded-collect policy) so the highlight pass
    reads the corpus through a LITERAL ``doc_id IN (...)`` predicate —
    pushed to the parquet scan (row-group min/max pruning on the
    doc_id-sorted layout), where the previous broadcast-join form
    still streamed every content row through the join probe. Tokenize
    + posexplode run over only those k rows, the min(pos) agg sees at
    most k groups, and the window slice is a per-row codegen
    expression. Cost = bm25_topk + a k-row-group scan.

    Runs eagerly: the bm25_topk pass executes (and is collected) when
    this function is called; the returned frame's highlight pass is
    still lazy."""
    qterms = list(dict.fromkeys(terms))
    top_rows = bm25_topk(
        corpus, qterms, mode=mode, k=k, tokenizer=tokenizer
    ).collect()
    if not top_rows:
        return (
            corpus.select("doc_id")
            .where(F.lit(False))
            .withColumn("score", F.lit(0.0))
            .withColumn("rank", F.lit(0))
            .withColumn("first_pos", F.lit(0))
            .withColumn("snippet", F.lit(""))
        )
    lit = literal_frame(
        corpus.sparkSession,
        [(int(r["doc_id"]), float(r["score"]), int(r["rank"]))
         for r in top_rows],
        RESULT_FIELDS,
    )
    ids = [int(r["doc_id"]) for r in top_rows]
    rows = (
        corpus.where(F.col("doc_id").isin(ids))
        .join(F.broadcast(lit), "doc_id")
        .select(
            "doc_id", "score", "rank",
            tokens_col(F.col("content"), tokenizer).alias("_arr"),
        )
    )
    first = (
        rows.select("doc_id", F.posexplode("_arr").alias("_p", "term"))
        .where(_match_filter(F.col("term"), qterms, mode))
        .groupBy("doc_id")
        .agg((F.min("_p") + F.lit(1)).alias("first_pos"))
    )
    start = F.greatest(F.lit(1), F.col("first_pos") - width)
    end = F.col("first_pos") + width
    return (
        rows.join(first, "doc_id")
        .select(
            "doc_id", "score", "rank", "first_pos",
            F.concat_ws(
                " ", F.slice(F.col("_arr"), start, end - start + F.lit(1))
            ).alias("snippet"),
        )
        .orderBy(F.col("rank").asc())
    )


# ------------------------------------------------------ grouped top-k


def bm25_topk_grouped(
    corpus: DataFrame,
    terms: Iterable[str],
    mode: str = EXACT_MATCH,
    k: int = 5,
    group: str = "lang",
    tokenizer: str = "standard",
) -> DataFrame:
    """Diversified results: the top-``k`` BM25 hits WITHIN EVERY value
    of one metadata column (top results per lang / repo / ...), in ONE
    query — the result-diversification step a plain global top-k
    cannot express (a hot group otherwise crowds out every other).
    Returns (``group``, doc_id, score, rank), rank 1..k per group;
    scores are bit-identical to ``bm25_topk`` over the same corpus
    (same scoring body, same df/dl/stats arithmetic).

    Plan: the un-truncated scored match set (volume Σ df) equi-joins
    the corpus registry for the group column, then the per-group cut
    runs through ``topk_per_query``'s salted two-phase tournament — a
    hot group's match set is ranked in ~1/S-sized slices first, so no
    task ever sorts a whole group."""
    qterms = list(dict.fromkeys(terms))
    if not qterms:
        return (
            corpus.select(group, "doc_id")
            .where(F.lit(False))
            .withColumn("score", F.lit(0.0))
            .withColumn("rank", F.lit(0))
        )
    corpus, _, tf, require_n = _matched_tf(corpus, qterms, mode, tokenizer)
    scored = _bm25_scored(tf, corpus, tokenizer, require_n)
    joined = scored.join(corpus.select("doc_id", group), "doc_id")
    cut = topk_per_query(
        joined.select(
            F.col(group).alias("query_id"), "doc_id", "score"
        ),
        k,
    )
    return cut.select(
        F.col("query_id").alias(group), "doc_id", "score", "rank"
    )


# ------------------------------------------------------ doc keywords


def keywords_per_doc(
    corpus: DataFrame,
    m: int = 5,
    min_df: int = 2,
    tokenizer: str = "standard",
) -> DataFrame:
    """(doc_id, term, wt, pos) — every document's top-``m`` terms by
    tf(t,d) · idf(t): the corpus-wide generalization of
    ``mlt_term_weights`` (Lucene MoreLikeThis interestingTerms run for
    ALL docs at once) — the keyword table behind related-document
    precomputation and corpus exploration. ``min_df`` drops hapax
    terms exactly as in MLT; ``pos`` is 1..m by (wt DESC, term ASC).

    Plan: one tokenize -> tf aggregation, the tiny (term, df) table
    broadcast back, then a per-DOC window rank. Unlike a per-stratum
    window (a scale-killer), partitions here are one document's
    distinct terms — bounded by document length — so the window
    exchange is corpus-volume but never concentrates."""
    corpus = _floor(corpus)
    tf = term_doc_tf(tokens(corpus, tokenizer))
    dfreq = doc_freq(tf).where(F.col("df") >= int(min_df))
    # idf needs ONLY n_docs — count the corpus without a second
    # tokenize pass (review finding: doc_lengths re-tokenized every
    # document to produce lengths nothing here consumes)
    stats = corpus.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    wt = tf.join(F.broadcast(dfreq), "term").crossJoin(
        F.broadcast(stats)
    ).select(
        "doc_id",
        "term",
        F.round(F.col("tf").cast("double") * idf, 6).alias("wt"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("wt").desc(), F.col("term").asc()
    )
    return (
        wt.withColumn("pos", F.row_number().over(w).cast("long"))
        .where(F.col("pos") <= m)
        .select("doc_id", "term", "wt", "pos")
    )


def keywords_per_doc_sql(
    toks: str, m: int = 5, min_df: int = 2
) -> str:
    return f"""
WITH corpus AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
toks AS (SELECT doc_id, unnest({toks}) AS term FROM corpus),
tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1
          HAVING count(*) >= {min_df}),
dl AS (SELECT doc_id, len({toks})::DOUBLE AS dl FROM corpus),
stats AS (SELECT count(*)::DOUBLE AS n_docs FROM dl),
wt AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln(1.0 + (stats.n_docs - dfreq.df + 0.5)
                          / (dfreq.df + 0.5)), 6) AS wt
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats
)
SELECT doc_id::BIGINT AS doc_id, term, wt, pos::BIGINT AS pos
FROM (SELECT doc_id, term, wt,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY wt DESC, term ASC
             ) AS pos
      FROM wt)
WHERE pos <= {m}
"""


# -------------------------------------------------------- search-after


def bm25_topk_after(
    corpus: DataFrame,
    terms: Iterable[str],
    mode: str = EXACT_MATCH,
    k: int = 10,
    after_score: float = None,
    after_doc: int = None,
    tokenizer: str = "standard",
) -> DataFrame:
    """Deep pagination (the Lucene ``searchAfter`` cursor): the next
    ``k`` results strictly after the (score, doc_id) cursor in the
    engine's total order (score DESC, doc_id ASC). Cursor-based, not
    OFFSET-based: page N costs the same as page 1 — no engine
    materializes offset+k rows — and pages are stable under concurrent
    corpus growth wherever the cursor's order position is unaffected.

    Cursor-exactness caveat (declarative path): the cursor compares
    with float equality against a score RECOMPUTED by this job's sum
    aggregation. Spark does not guarantee cross-job reduce order for a
    group sum, so a multi-term score could in principle differ in the
    last ulp between the page-1 job and this one, repeating or
    skipping one boundary doc (observed stable in practice on a fixed
    corpus layout; the page-tiling test pins it). Strict-cursor
    workloads should page the INDEX path — ``IndexReader.search_after``
    accumulates per-term contributions in sorted-term order, making
    its scores bit-reproducible across jobs by construction.

    Returns (doc_id, score, rank) with rank 1..k WITHIN the page."""
    qterms = list(dict.fromkeys(terms))
    if not qterms:
        return _empty_result(corpus)
    corpus, _, tf, require_n = _matched_tf(corpus, qterms, mode, tokenizer)
    scored = _bm25_scored(tf, corpus, tokenizer, require_n)
    if after_score is not None:
        # runtime steer for strict-cursor callers (ADVICE r4): the
        # docstring caveat alone is invisible to CLI-level users
        import warnings

        warnings.warn(
            "bm25_topk_after (declarative) compares the cursor against a "
            "recomputed float sum; a boundary doc can repeat or skip in "
            "the last ulp across jobs. Strict-cursor pagination should "
            "use IndexReader.search_after (bit-reproducible scores).",
            UserWarning,
            stacklevel=2,
        )
        s_a = float(after_score)
        d_a = int(after_doc if after_doc is not None else -1)
        scored = scored.where(
            (F.col("score") < s_a)
            | ((F.col("score") == s_a) & (F.col("doc_id") > d_a))
        )
    top = scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return top.select(
        "doc_id", "score", F.row_number().over(w).alias("rank")
    )
