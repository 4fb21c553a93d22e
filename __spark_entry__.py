"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship BM25 query on sf0.001.
``queries()`` / ``oracle_sql()`` — per-operator DataFrame callables and
their DuckDB-SQL oracles, compared by the driver at sf=0.01
(row-count + schema + order-insensitive value-hash).

Float columns are rounded to 6 decimals on BOTH sides; ranks/counts are
BIGINT on both sides. The BM25 arithmetic in the SQL oracles mirrors the
engine's operation order exactly (spark_search/pipeline.py bm25_score_col).
"""

from __future__ import annotations

import os
import sys
import tempfile
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, functions as F

from spark_search import bpe as BP
from spark_search import clustering as CL
from spark_search import curate as CU
from spark_search import decontam as DX
from spark_search import dedup as DD
from spark_search import evals as EVL
from spark_search import events as EV
from spark_search import graph as GR
from spark_search import lm as LM
from spark_search import mixing as MX
from spark_search import multimodal as MM
from spark_search import pipeline as P
from spark_search import sampling as SA
from spark_search import similarity as SIM
from spark_search import textops as TX
from spark_search.build import build_index
from spark_search.corpus import load_sf_documents
from spark_search.query import IndexReader
from spark_search.tokenizer import tokens_sql

K1_PLUS_1 = "2.2"
K1 = "1.2"
ONE_MINUS_B = "0.25"
B = "0.75"

# anchor query terms present in the driver corpus vocabulary
TERMS_EXACT = ["spark"]
TERMS_OR = ["data", "join", "merge"]
TERMS_AND = ["spark", "query"]
TERMS_PREFIX = ["sca"]  # matches 'scan'
TERMS_CONTAINS = ["abl"]  # wildcard *abl*: 'table', ...
TERMS_NOT = ["table"]     # NOT clause for the exclusion query
TERMS_STATS = ["spark", "join", "data", "vector", "hash"]


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_sf_documents(spark, sf_dir)


# One disk index per sf corpus per process, built lazily into a temp
# dir and shared by every *_indexed query (the driver runs the whole
# queries() dict in one process). The reader is re-opened if the driver
# hands us a different SparkSession than the one that built the index.
_INDEX_DIRS: dict[str, str] = {}
_READERS: dict[str, tuple[int, IndexReader]] = {}


def _indexed_reader(spark: SparkSession, sf_dir: str) -> IndexReader:
    key = os.path.abspath(sf_dir)
    d = _INDEX_DIRS.get(key)
    if d is None:
        d = tempfile.mkdtemp(prefix="sgraft-idx-")
        build_index(spark, _corpus(spark, sf_dir), d)
        _INDEX_DIRS[key] = d
    ent = _READERS.get(key)
    if ent is None or ent[0] != id(spark):
        ent = (id(spark), IndexReader(spark, d))
        _READERS[key] = ent
    return ent[1]


# Separate cache for the positions=True index variant (phrase queries
# answered WITHOUT reading document content — build.py PLISTS_SCHEMA).
_POS_INDEX_DIRS: dict[str, str] = {}
_POS_READERS: dict[str, tuple[int, IndexReader]] = {}


def _positional_reader(spark: SparkSession, sf_dir: str) -> IndexReader:
    key = os.path.abspath(sf_dir)
    d = _POS_INDEX_DIRS.get(key)
    if d is None:
        d = tempfile.mkdtemp(prefix="sgraft-posidx-")
        build_index(spark, _corpus(spark, sf_dir), d, positions=True)
        _POS_INDEX_DIRS[key] = d
    ent = _POS_READERS.get(key)
    if ent is None or ent[0] != id(spark):
        ent = (id(spark), IndexReader(spark, d))
        _POS_READERS[key] = ent
    return ent[1]


# Merged-index cache: two shard indexes built over an interleaved
# doc_id split (every chunk collides — the hard merge case), folded by
# merge_indexes into one canonical index. Queried under the SAME BM25
# oracle as the monolithic index: the merge must be invisible.
_MERGED_INDEX_DIRS: dict[str, str] = {}
_MERGED_READERS: dict[str, tuple[int, IndexReader]] = {}


def _merged_reader(spark: SparkSession, sf_dir: str) -> IndexReader:
    from spark_search.merge import merge_indexes

    key = os.path.abspath(sf_dir)
    d = _MERGED_INDEX_DIRS.get(key)
    if d is None:
        root = tempfile.mkdtemp(prefix="sgraft-mergeidx-")
        corpus = _corpus(spark, sf_dir)
        da, db = os.path.join(root, "a"), os.path.join(root, "b")
        build_index(spark, corpus.where(F.col("doc_id") % 2 == 0), da)
        build_index(spark, corpus.where(F.col("doc_id") % 2 == 1), db)
        d = os.path.join(root, "merged")
        merge_indexes(spark, [da, db], d)
        _MERGED_INDEX_DIRS[key] = d
    ent = _MERGED_READERS.get(key)
    if ent is None or ent[0] != id(spark):
        ent = (id(spark), IndexReader(spark, d))
        _MERGED_READERS[key] = ent
    return ent[1]


# ---- code-tokenized index (the code-payload axis) ----
# Derived code-shaped corpus: the driver's word-soup text re-joined as
# identifiers — even doc_ids become ONE snake_case identifier, odd ones
# ONE CamelCase identifier. Deterministic and expressed identically in
# Spark SQL and DuckDB; the built-in "code" tokenizer (camel/snake
# subtoken splitting + lowercase, spark_search/tokenizer.py
# CODE_PRE_RULES) must recover the words on BOTH engines for the
# oracle to agree. The reference has no code analyzer — this is the
# engine's Lucene-WordDelimiter-style extension for source corpora.
_CODE_TEXT_SPARK = (
    "CASE WHEN doc_id % 2 = 0"
    " THEN array_join(split(coalesce(content, ''), ' '), '_')"
    " ELSE array_join(transform(split(coalesce(content, ''), ' '),"
    " w -> concat(upper(substring(w, 1, 1)), substring(w, 2))), '')"
    " END"
)
_CODE_TEXT_DUCK = (
    "CASE WHEN doc_id % 2 = 0"
    " THEN array_to_string(string_split(coalesce(text, ''), ' '), '_')"
    " ELSE array_to_string(list_transform(string_split(coalesce(text, ''), ' '),"
    " w -> upper(w[1]) || w[2:]), '')"
    " END"
)
TERMS_CODE = ["table", "hash", "merge"]


def _code_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _corpus(spark, sf_dir).withColumn("content", F.expr(_CODE_TEXT_SPARK))


_CODE_INDEX_DIRS: dict[str, str] = {}
_CODE_READERS: dict[str, tuple[int, IndexReader]] = {}


def _code_reader(spark: SparkSession, sf_dir: str) -> IndexReader:
    key = os.path.abspath(sf_dir)
    d = _CODE_INDEX_DIRS.get(key)
    if d is None:
        d = tempfile.mkdtemp(prefix="sgraft-codeidx-")
        build_index(spark, _code_corpus(spark, sf_dir), d, tokenizer="code")
        _CODE_INDEX_DIRS[key] = d
    ent = _CODE_READERS.get(key)
    if ent is None or ent[0] != id(spark):
        ent = (id(spark), IndexReader(spark, d))
        _CODE_READERS[key] = ent
    return ent[1]


def _indexed_topk(spark, sf_dir, terms, mode, k=10) -> DataFrame:
    """BM25 top-k answered by the disk index (build_index →
    IndexReader.search): bucket-pruned postings scan, codec decode,
    bounded top-k — the flagship engine path, under the same
    oracle as the declarative pipeline (they are rank- and
    score-identical by construction)."""
    res = _indexed_reader(spark, sf_dir).search(terms, mode, k=k)
    return res.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def _topk(spark, sf_dir, terms, mode, k=10) -> DataFrame:
    res = P.bm25_topk(_corpus(spark, sf_dir), terms, mode, k=k)
    return res.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


# ---------------------------------------------------------------- oracles

_TOKS_DUCK = tokens_sql("text", dialect="duckdb")
_CODE_TOKS_DUCK = tokens_sql("text", tokenizer="code", dialect="duckdb")


def _bm25_oracle(terms, mode, k=10, doc_where=None, toks=None,
                 text_expr="coalesce(text, '')", exclude_terms=None,
                 page_offset=0) -> str:
    toks = toks or _TOKS_DUCK
    uniq = list(dict.fromkeys(terms))
    if mode == P.START_WITH:
        pred = " OR ".join(f"term LIKE '{t}%'" for t in uniq)
    elif mode == P.CONTAINS_MATCH:
        pred = " OR ".join(f"term LIKE '%{t}%'" for t in uniq)
    else:
        inlist = ", ".join(f"'{t}'" for t in uniq)
        pred = f"term IN ({inlist})"
    having = (
        f"HAVING count(*) = {len(uniq)}" if mode == P.AND_MATCH else ""
    )
    # metadata filter: restricts MEMBERSHIP only — df/stats above stay
    # corpus-global (the engine's Lucene filter-query semantics)
    allow = (
        "JOIN (SELECT doc_id FROM documents WHERE "
        f"{doc_where}) allowed ON allowed.doc_id = tf.doc_id"
        if doc_where
        else ""
    )
    if exclude_terms:
        xlist = ", ".join(f"'{t}'" for t in exclude_terms)
        allow += (
            " JOIN (SELECT doc_id FROM corpus WHERE doc_id NOT IN "
            f"(SELECT doc_id FROM toks WHERE term IN ({xlist}))) nx "
            "ON nx.doc_id = tf.doc_id"
        )
    return f"""
WITH corpus AS (SELECT doc_id, {text_expr} AS text FROM documents),
toks AS (SELECT doc_id, unnest({toks}) AS term FROM corpus),
mtoks AS (SELECT * FROM toks WHERE {pred}),
tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM mtoks GROUP BY 1, 2),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
dl AS (SELECT doc_id, len({toks})::DOUBLE AS dl FROM corpus),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * tf.tf * {K1_PLUS_1}
              / (tf.tf + {K1} * ({ONE_MINUS_B} + {B} * dl.dl / stats.avgdl)) )
           AS score
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  {allow}
  CROSS JOIN stats
  GROUP BY tf.doc_id {having}
)
SELECT doc_id::BIGINT AS doc_id, round(score, 6) AS score,
       (row_number() OVER (ORDER BY score DESC, doc_id ASC)
        - {int(page_offset)})::BIGINT AS rank
FROM scored ORDER BY score DESC, doc_id ASC
LIMIT {k} OFFSET {int(page_offset)}
"""


# Suggestion expansion (Q3 WITH_SUGGESTIONS in-engine): same-length
# dictionary terms within MAX_DIST substitutions of the query term —
# the deterministic analog of the reference's Hunspell expansion
# (app/.../listener/SearchActionListener.java:44-48). max_dist=2 so
# the driver corpus expands non-trivially ('part' -> {part, fast, sort}).
TERMS_SUGGEST = ["part"]
SUGGEST_MAX_DIST = 2


def _bm25_suggest_oracle(terms, max_dist, k=10) -> str:
    uniq = list(dict.fromkeys(terms))
    conds = " OR ".join(
        f"(length(term) = {len(q)} AND levenshtein(term, '{q}') <= {max_dist})"
        for q in uniq
    )
    return f"""
WITH corpus AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
toks AS (SELECT doc_id, unnest({_TOKS_DUCK}) AS term FROM corpus),
vocab AS (SELECT DISTINCT term FROM toks),
sugg AS (SELECT term FROM vocab WHERE {conds}),
mtoks AS (SELECT * FROM toks WHERE term IN (SELECT term FROM sugg)),
tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM mtoks GROUP BY 1, 2),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
dl AS (SELECT doc_id, len({_TOKS_DUCK})::DOUBLE AS dl FROM corpus),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * tf.tf * {K1_PLUS_1}
              / (tf.tf + {K1} * ({ONE_MINUS_B} + {B} * dl.dl / stats.avgdl)) )
           AS score
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id::BIGINT AS doc_id, round(score, 6) AS score,
       row_number() OVER (ORDER BY score DESC, doc_id ASC)::BIGINT AS rank
FROM scored ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


# Pseudo-relevance feedback (Rocchio/RM3 query expansion): the content
# analog of the reference's spelling-based WITH_SUGGESTIONS expansion.
# Protocol frozen in pipeline.bm25_prf_topk / IndexReader.search_prf.
PRF_FB_DOCS = 5
PRF_FB_TERMS = 5
PRF_MIN_DF = 2


def _bm25_prf_oracle(terms, k=10, fb_docs=PRF_FB_DOCS,
                     fb_terms=PRF_FB_TERMS, min_df=PRF_MIN_DF) -> str:
    uniq = list(dict.fromkeys(terms))
    inlist = ", ".join(f"'{t}'" for t in uniq)
    return f"""
WITH corpus AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
toks AS (SELECT doc_id, unnest({_TOKS_DUCK}) AS term FROM corpus),
dl AS (SELECT doc_id, len({_TOKS_DUCK})::DOUBLE AS dl FROM corpus),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
tf0 AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks
        WHERE term IN ({inlist}) GROUP BY 1, 2),
df0 AS (SELECT term, count(*)::DOUBLE AS df FROM tf0 GROUP BY 1),
scored0 AS (
  SELECT tf0.doc_id,
         sum( ln(1.0 + (stats.n_docs - df0.df + 0.5) / (df0.df + 0.5))
              * tf0.tf * {K1_PLUS_1}
              / (tf0.tf + {K1} * ({ONE_MINUS_B} + {B} * dl.dl / stats.avgdl)) )
           AS score
  FROM tf0 JOIN df0 USING (term)
  JOIN dl ON dl.doc_id = tf0.doc_id CROSS JOIN stats
  GROUP BY tf0.doc_id
),
fb AS (SELECT doc_id FROM scored0
       ORDER BY score DESC, doc_id ASC LIMIT {int(fb_docs)}),
cand AS (SELECT DISTINCT term FROM toks JOIN fb USING (doc_id)
         WHERE term NOT IN ({inlist})),
tfc AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks
        WHERE term IN (SELECT term FROM cand) GROUP BY 1, 2),
dfc AS (SELECT term, count(*)::DOUBLE AS df FROM tfc GROUP BY 1),
wts AS (
  SELECT t.term,
         round(sum(t.tf)::DOUBLE
               * ln(1.0 + (stats.n_docs - dfc.df + 0.5) / (dfc.df + 0.5)),
               6) AS wt
  FROM tfc t JOIN fb USING (doc_id)
  JOIN dfc ON dfc.term = t.term CROSS JOIN stats
  WHERE dfc.df >= {int(min_df)}
  GROUP BY t.term, dfc.df, stats.n_docs
),
sel AS (SELECT term FROM wts ORDER BY wt DESC, term ASC LIMIT {int(fb_terms)}),
tff AS (SELECT term, doc_id, tf FROM tf0
        UNION ALL
        SELECT term, doc_id, tf FROM tfc WHERE term IN (SELECT term FROM sel)),
dff AS (SELECT term, count(*)::DOUBLE AS df FROM tff GROUP BY 1),
scoredf AS (
  SELECT tff.doc_id,
         sum( ln(1.0 + (stats.n_docs - dff.df + 0.5) / (dff.df + 0.5))
              * tff.tf * {K1_PLUS_1}
              / (tff.tf + {K1} * ({ONE_MINUS_B} + {B} * dl.dl / stats.avgdl)) )
           AS score
  FROM tff JOIN dff USING (term)
  JOIN dl ON dl.doc_id = tff.doc_id CROSS JOIN stats
  GROUP BY tff.doc_id
)
SELECT doc_id::BIGINT AS doc_id, round(score, 6) AS score,
       row_number() OVER (ORDER BY score DESC, doc_id ASC)::BIGINT AS rank
FROM scoredf ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


def _q_bm25_prf(spark, sf_dir):
    return _round_result(
        P.bm25_prf_topk(
            _corpus(spark, sf_dir), TERMS_OR, k=10,
            fb_docs=PRF_FB_DOCS, fb_terms=PRF_FB_TERMS, min_df=PRF_MIN_DF,
        )
    )


def _q_bm25_prf_indexed(spark, sf_dir):
    rd = _indexed_reader(spark, sf_dir)
    return _round_result(
        rd.search_prf(
            TERMS_OR, k=10,
            fb_docs=PRF_FB_DOCS, fb_terms=PRF_FB_TERMS, min_df=PRF_MIN_DF,
        )
    )


# Compound boolean query (Lucene BooleanQuery): (data OR join) AND
# (merge OR table) AND NOT hash — AND-of-OR-groups with a prohibited
# clause, the shape the reference's three flat modes cannot express.
BOOL_MUST = [["data", "join"], ["merge", "table"]]
BOOL_NOT = ["hash"]


def _bm25_bool_oracle(must, must_not, k=10) -> str:
    groups = [list(dict.fromkeys(g)) for g in must]
    all_terms = list(dict.fromkeys(t for g in groups for t in g))
    inlist = ", ".join(f"'{t}'" for t in all_terms)
    gvals = ", ".join(
        f"('{t}', {gi})" for gi, g in enumerate(groups) for t in g
    )
    xlist = ", ".join(f"'{t}'" for t in dict.fromkeys(must_not))
    return f"""
WITH corpus AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
toks AS (SELECT doc_id, unnest({_TOKS_DUCK}) AS term FROM corpus),
mtoks AS (SELECT * FROM toks WHERE term IN ({inlist})),
tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM mtoks GROUP BY 1, 2),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
dl AS (SELECT doc_id, len({_TOKS_DUCK})::DOUBLE AS dl FROM corpus),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
gmap AS (SELECT * FROM (VALUES {gvals}) AS v(term, gid)),
allowed AS (
  SELECT doc_id FROM (SELECT DISTINCT m.doc_id, g.gid
                      FROM mtoks m JOIN gmap g ON g.term = m.term)
  GROUP BY doc_id HAVING count(DISTINCT gid) = {len(groups)}
),
excluded AS (SELECT DISTINCT doc_id FROM toks WHERE term IN ({xlist})),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * tf.tf * {K1_PLUS_1}
              / (tf.tf + {K1} * ({ONE_MINUS_B} + {B} * dl.dl / stats.avgdl)) )
           AS score
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN allowed ON allowed.doc_id = tf.doc_id
  CROSS JOIN stats
  WHERE tf.doc_id NOT IN (SELECT doc_id FROM excluded)
  GROUP BY tf.doc_id
)
SELECT doc_id::BIGINT AS doc_id, round(score, 6) AS score,
       row_number() OVER (ORDER BY score DESC, doc_id ASC)::BIGINT AS rank
FROM scored ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


def _q_bm25_bool(spark, sf_dir):
    return _round_result(
        P.bm25_bool_topk(_corpus(spark, sf_dir), BOOL_MUST, BOOL_NOT, k=10)
    )


def _q_bm25_bool_indexed(spark, sf_dir):
    rd = _indexed_reader(spark, sf_dir)
    return _round_result(rd.search_bool(BOOL_MUST, BOOL_NOT, k=10))


# Multi-field weighted search (Lucene MultiFieldQueryParser / field
# boosts): content at weight 1, path at weight 3 — the code-search
# shape where a filename hit outranks a body hit. The sf corpus's path
# is the deterministic source/doc_id.txt projection, so the oracle
# reconstructs it in SQL.
MF_TERMS = ["data", "src3", "txt"]
MF_WEIGHTS = {"content": 1.0, "path": 3.0}
_MF_PATH_DUCK = "source || '/' || doc_id::VARCHAR || '.txt'"


def _bm25_multifield_oracle(terms, weights, k=10) -> str:
    uniq = list(dict.fromkeys(terms))
    inlist = ", ".join(f"'{t}'" for t in uniq)
    field_text = {
        "content": "coalesce(text, '')",
        "path": _MF_PATH_DUCK,
    }
    chains, combines = [], []
    names = sorted(weights)
    for i, fld in enumerate(names):
        te = field_text[fld]
        chains.append(f"""
corpus_{i} AS (SELECT doc_id, {te} AS text FROM documents),
toks_{i} AS (SELECT doc_id, unnest({_TOKS_DUCK}) AS term FROM corpus_{i}),
mtoks_{i} AS (SELECT * FROM toks_{i} WHERE term IN ({inlist})),
tf_{i} AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM mtoks_{i} GROUP BY 1, 2),
df_{i} AS (SELECT term, count(*)::DOUBLE AS df FROM tf_{i} GROUP BY 1),
dl_{i} AS (SELECT doc_id, len({_TOKS_DUCK})::DOUBLE AS dl FROM corpus_{i}),
stats_{i} AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl_{i}),
scored_{i} AS (
  SELECT tf_{i}.doc_id,
         round(sum( ln(1.0 + (stats_{i}.n_docs - df_{i}.df + 0.5) / (df_{i}.df + 0.5))
              * tf_{i}.tf * {K1_PLUS_1}
              / (tf_{i}.tf + {K1} * ({ONE_MINUS_B} + {B} * dl_{i}.dl / stats_{i}.avgdl)) ), 6)
           AS score
  FROM tf_{i}
  JOIN df_{i} USING (term)
  JOIN dl_{i} ON dl_{i}.doc_id = tf_{i}.doc_id
  CROSS JOIN stats_{i}
  GROUP BY tf_{i}.doc_id
)""")
        combines.append((i, float(weights[fld])))
    # full-outer weighted combine (DuckDB: chain FULL JOIN USING)
    join_expr = f"scored_{combines[0][0]} s0"
    for j in range(1, len(combines)):
        join_expr += (
            f" FULL OUTER JOIN scored_{combines[j][0]} s{j} USING (doc_id)"
        )
    total = " + ".join(
        f"{w} * coalesce(s{j}.score, 0.0)"
        for j, (_, w) in enumerate(combines)
    )
    chain_sql = ",".join(c.strip() for c in chains)
    return f"""
WITH {chain_sql},
comb AS (SELECT doc_id, round({total}, 6) AS score FROM {join_expr})
SELECT doc_id::BIGINT AS doc_id, score,
       row_number() OVER (ORDER BY score DESC, doc_id ASC)::BIGINT AS rank
FROM comb ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


def _q_bm25_multifield(spark, sf_dir):
    return _round_result(
        P.bm25_multifield_topk(
            _corpus(spark, sf_dir), MF_TERMS, MF_WEIGHTS, k=10
        )
    )


_MF_PATH_DIRS: dict[str, str] = {}
_MF_PATH_READERS: dict[str, tuple[int, IndexReader]] = {}


def _path_reader(spark: SparkSession, sf_dir: str) -> IndexReader:
    """Index over the corpus with the PATH field projected as content —
    the per-field inverted-index layout the indexed multifield search
    composes."""
    key = os.path.abspath(sf_dir)
    d = _MF_PATH_DIRS.get(key)
    if d is None:
        d = tempfile.mkdtemp(prefix="sgraft-pathidx-")
        c = _corpus(spark, sf_dir)
        build_index(
            spark,
            c.select(
                "doc_id", "repo", "path", "commit", "lang",
                F.col("path").alias("content"),
            ),
            d,
        )
        _MF_PATH_DIRS[key] = d
    ent = _MF_PATH_READERS.get(key)
    if ent is None or ent[0] != id(spark):
        ent = (id(spark), IndexReader(spark, d))
        _MF_PATH_READERS[key] = ent
    return ent[1]


def _q_bm25_multifield_indexed(spark, sf_dir):
    from spark_search.query import search_multifield

    readers = {
        "content": (_indexed_reader(spark, sf_dir), MF_WEIGHTS["content"]),
        "path": (_path_reader(spark, sf_dir), MF_WEIGHTS["path"]),
    }
    return _round_result(search_multifield(readers, MF_TERMS, k=10))


# Exact-phrase query: adjacency verified from content at query time
# (the index stores no positions — faithful to the reference, whose
# tree is doc-level only; reference SimpleSearchManager.java:187-214
# re-scans matched files). 'table hash' occurs 48 times in 46 docs at
# sf0.01.
PHRASE = ["table", "hash"]


def _bm25_phrase_oracle(phrase, k=10) -> str:
    joins = "\n        ".join(
        f"JOIN tp t{i} ON t{i}.doc_id = p0.doc_id "
        f"AND t{i}.pos = p0.pos + {i} AND t{i}.term = '{t}'"
        for i, t in enumerate(phrase[1:], 1)
    )
    return f"""
WITH corpus AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
tp AS (SELECT doc_id, unnest(arr) AS term, generate_subscripts(arr, 1) AS pos
       FROM (SELECT doc_id, {_TOKS_DUCK} AS arr FROM corpus)),
occ AS (SELECT p0.doc_id, p0.pos
        FROM (SELECT doc_id, pos FROM tp WHERE term = '{phrase[0]}') p0
        {joins}),
tf AS (SELECT doc_id, count(*)::BIGINT AS tf FROM occ GROUP BY doc_id),
dfreq AS (SELECT count(*)::DOUBLE AS df FROM tf),
dl AS (SELECT doc_id, len({_TOKS_DUCK})::DOUBLE AS dl FROM corpus),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
scored AS (
  SELECT tf.doc_id,
         ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * tf.tf * {K1_PLUS_1}
           / (tf.tf + {K1} * ({ONE_MINUS_B} + {B} * dl.dl / stats.avgdl))
           AS score
  FROM tf
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN dfreq
  CROSS JOIN stats
)
SELECT doc_id::BIGINT AS doc_id, round(score, 6) AS score,
       row_number() OVER (ORDER BY score DESC, doc_id ASC)::BIGINT AS rank
FROM scored ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


# ---------------------------------------------------------------- queries


def _q_bm25_exact(spark, sf_dir):
    return _topk(spark, sf_dir, TERMS_EXACT, P.EXACT_MATCH)


def _q_bm25_exact_indexed(spark, sf_dir):
    return _indexed_topk(spark, sf_dir, TERMS_EXACT, P.EXACT_MATCH)


def _q_bm25_or_indexed(spark, sf_dir):
    return _indexed_topk(spark, sf_dir, TERMS_OR, P.WITH_SUGGESTIONS)


def _q_bm25_and_indexed(spark, sf_dir):
    return _indexed_topk(spark, sf_dir, TERMS_AND, P.AND_MATCH)


def _q_bm25_prefix_indexed(spark, sf_dir):
    return _indexed_topk(spark, sf_dir, TERMS_PREFIX, P.START_WITH)


def _q_bm25_not(spark, sf_dir):
    # Lucene prohibited clause: OR query minus docs containing 'table'
    # (filter semantics — df/N/avgdl stay global)
    res = P.bm25_topk(
        _corpus(spark, sf_dir), TERMS_OR, P.WITH_SUGGESTIONS,
        exclude_terms=TERMS_NOT,
    )
    return res.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def _q_bm25_not_indexed(spark, sf_dir):
    rd = _indexed_reader(spark, sf_dir)
    res = rd.search(
        TERMS_OR, P.WITH_SUGGESTIONS, k=10, exclude_terms=TERMS_NOT
    )
    return res.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def _q_bm25_contains(spark, sf_dir):
    # wildcard substring mode (the engine's CONTAINS_MATCH extension):
    # dictionary expansion by substring, then the standard OR union
    return _topk(spark, sf_dir, TERMS_CONTAINS, P.CONTAINS_MATCH)


def _q_bm25_contains_indexed(spark, sf_dir):
    return _indexed_topk(spark, sf_dir, TERMS_CONTAINS, P.CONTAINS_MATCH)


def _q_bm25_code(spark, sf_dir):
    """Declarative BM25 over the code-shaped corpus with the built-in
    "code" tokenizer (camel/snake subtoken recovery)."""
    res = P.bm25_topk(
        _code_corpus(spark, sf_dir), TERMS_CODE, P.WITH_SUGGESTIONS,
        k=10, tokenizer="code",
    )
    return res.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def _q_bm25_code_indexed(spark, sf_dir):
    """Same query answered by a disk index BUILT with tokenizer='code'
    (the tokenizer name rides the manifest; IndexReader re-tokenizes
    and scores with it end-to-end)."""
    res = _code_reader(spark, sf_dir).search(
        TERMS_CODE, P.WITH_SUGGESTIONS, k=10
    )
    return res.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def _q_code_subtoken_counts(spark, sf_dir):
    """Per-doc identifier-subtoken stats over the code-shaped corpus —
    the code-payload analog of text_token_counts."""
    from spark_search.tokenizer import tokens_col

    arr = tokens_col(F.col("content"), "code")
    return _code_corpus(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(arr).cast("long").alias("n_subtokens"),
        F.size(F.array_distinct(arr)).cast("long").alias("n_distinct"),
    )


def _q_bm25_or_merged(spark, sf_dir):
    """BM25 OR top-k over an index produced by merge_indexes from two
    interleaved shard builds (spark_search/merge.py) — the segment
    merge must be rank/score-invisible vs the monolithic oracle."""
    res = _merged_reader(spark, sf_dir).search(
        TERMS_OR, P.WITH_SUGGESTIONS, k=10
    )
    return res.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def _round_result(res):
    return res.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def _q_bm25_suggest(spark, sf_dir):
    return _round_result(
        P.bm25_suggest_topk(
            _corpus(spark, sf_dir), TERMS_SUGGEST, max_dist=SUGGEST_MAX_DIST
        )
    )


def _q_bm25_suggest_indexed(spark, sf_dir):
    rd = _indexed_reader(spark, sf_dir)
    return _round_result(
        rd.search_suggest(TERMS_SUGGEST, max_dist=SUGGEST_MAX_DIST, k=10)
    )


# More-like-this: the Lucene MoreLikeThis analog composed from the
# engine's BM25 layer — source doc MLT_SRC's top tf·idf terms become an
# OR query, the source excluded with filter semantics (df stays global).
MLT_SRC = 7
MLT_M_TERMS = 10


def _q_bm25_mlt(spark, sf_dir):
    return _round_result(
        P.more_like_this(_corpus(spark, sf_dir), MLT_SRC, m_terms=MLT_M_TERMS)
    )


def _q_bm25_mlt_indexed(spark, sf_dir):
    rd = _indexed_reader(spark, sf_dir)
    return _round_result(rd.more_like_this(MLT_SRC, m_terms=MLT_M_TERMS, k=10))


def _mlt_oracle(src, m, k=10, min_df=2) -> str:
    return f"""
WITH corpus AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
toks AS (SELECT doc_id, unnest({_TOKS_DUCK}) AS term FROM corpus),
tf_all AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len({_TOKS_DUCK})::DOUBLE AS dl FROM corpus),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
src AS (SELECT term, tf FROM tf_all WHERE doc_id = {src}),
dfe AS (SELECT term, count(*)::DOUBLE AS df FROM tf_all
        WHERE term IN (SELECT term FROM src) GROUP BY 1
        HAVING count(*) >= {min_df}),
wts AS (SELECT src.term,
               round(src.tf::DOUBLE
                     * ln(1.0 + (stats.n_docs - dfe.df + 0.5) / (dfe.df + 0.5)),
                     6) AS wt
        FROM src JOIN dfe USING (term) CROSS JOIN stats
        ORDER BY wt DESC, term ASC LIMIT {m}),
mtf AS (SELECT * FROM tf_all WHERE term IN (SELECT term FROM wts)),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM mtf GROUP BY 1),
scored AS (
  SELECT mtf.doc_id,
         sum( ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * mtf.tf * {K1_PLUS_1}
              / (mtf.tf + {K1} * ({ONE_MINUS_B} + {B} * dl.dl / stats.avgdl)) )
           AS score
  FROM mtf
  JOIN dfreq USING (term)
  JOIN dl ON dl.doc_id = mtf.doc_id
  CROSS JOIN stats
  WHERE mtf.doc_id <> {src}
  GROUP BY mtf.doc_id
)
SELECT doc_id::BIGINT AS doc_id, round(score, 6) AS score,
       row_number() OVER (ORDER BY score DESC, doc_id ASC)::BIGINT AS rank
FROM scored ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


def _q_bm25_phrase(spark, sf_dir):
    return _round_result(P.phrase_topk(_corpus(spark, sf_dir), PHRASE))


def _q_bm25_phrase_indexed(spark, sf_dir):
    rd = _indexed_reader(spark, sf_dir)
    return _round_result(rd.search_phrase(PHRASE, _corpus(spark, sf_dir), k=10))


def _q_bm25_phrase_positional(spark, sf_dir):
    """Exact-phrase BM25 answered ENTIRELY from a positional index
    (build positions=True): occurrence starts decode from the stored
    per-(term, doc) position lists — no document content is read at
    query time. Same oracle as the content-rescan phrase paths: all
    three are score-identical by construction."""
    rd = _positional_reader(spark, sf_dir)
    return _round_result(rd.search_phrase(PHRASE, k=10))


def _q_match_set_indexed(spark, sf_dir):
    """Full un-truncated match set decoded from the disk index
    (IndexReader.match_docs — the reference's actual getValue
    semantics, before any cap)."""
    rd = _indexed_reader(spark, sf_dir)
    return rd.match_docs(["vector"], P.EXACT_MATCH).select(
        F.col("doc_id").cast("long").alias("doc_id")
    )


# Maintained-index oracle entry: delete one doc, upsert (replace) one
# doc, compact — compaction restores exact df, so the result must be
# score-identical to BM25 over the edited corpus, which the DuckDB
# oracle expresses directly. Exercises delete_docs + upsert_docs +
# compact (O5/O6/O7 and the segment-merge stage) under the driver gate.
MAINT_DELETED_DOC = 7
MAINT_REPLACED_DOC = 11
MAINT_NEW_TEXT = "spark query engine spark merge data"
_MAINT_READERS: dict[str, tuple[int, IndexReader]] = {}
_MAINT_DIRS: dict[str, str] = {}


def _maint_new_doc_id() -> int:
    """The deterministic id upsert assigns the replacement doc: fresh
    chunk boundary past the base index's single chunk (ids 0..n-1 <
    span), with_doc_ids mints base+1."""
    from spark_search.build import DEFAULT_CHUNK_SPAN

    return DEFAULT_CHUNK_SPAN + 1


def _maintained_reader(spark: SparkSession, sf_dir: str) -> IndexReader:
    key = os.path.abspath(sf_dir)
    ent = _MAINT_READERS.get(key)
    if ent is not None and ent[0] == id(spark):
        return ent[1]
    base_dir = _INDEX_DIRS.get(key)
    if base_dir is None:
        _indexed_reader(spark, sf_dir)  # builds + caches the base index
        base_dir = _INDEX_DIRS[key]
    from spark_search.maintain import compact, delete_docs, upsert_docs

    root = tempfile.mkdtemp(prefix="sgraft-maint-")
    d1 = os.path.join(root, "del")
    d2 = os.path.join(root, "ups")
    d3 = os.path.join(root, "cmp")
    delete_docs(spark, base_dir, d1, [MAINT_DELETED_DOC])
    corpus = _corpus(spark, sf_dir)
    replacement = corpus.where(
        F.col("doc_id") == MAINT_REPLACED_DOC
    ).select("repo", "path", "commit", "lang").withColumn(
        "content", F.lit(MAINT_NEW_TEXT)
    )
    upsert_docs(spark, d1, d2, replacement)
    compact(spark, d2, d3)
    rd = IndexReader(spark, d3)
    _MAINT_READERS[key] = (id(spark), rd)
    _MAINT_DIRS[key] = d3
    return rd


def _q_bm25_maintained(spark, sf_dir):
    rd = _maintained_reader(spark, sf_dir)
    res = rd.search(TERMS_OR, P.WITH_SUGGESTIONS, k=10)
    return res.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def _bm25_maintained_oracle() -> str:
    """Same BM25 arithmetic as _bm25_oracle, over the edited corpus:
    the deleted doc removed, the replaced doc's text swapped and its id
    moved to the deterministic upsert id."""
    base = _bm25_oracle(TERMS_OR, P.WITH_SUGGESTIONS)
    edited = (
        "SELECT doc_id, coalesce(text, '') AS text FROM documents "
        f"WHERE doc_id NOT IN ({MAINT_DELETED_DOC}, {MAINT_REPLACED_DOC}) "
        f"UNION ALL SELECT {_maint_new_doc_id()} AS doc_id, "
        f"'{MAINT_NEW_TEXT}' AS text"
    )
    return base.replace(
        "SELECT doc_id, coalesce(text, '') AS text FROM documents", edited
    )


# Maintained POSITIONAL index under the oracle gate (round 5,
# VERDICT.md r4 #6): upsert/delete/compact inherit positions=True
# (SURVEY §7.9), but until now only positions-free maintained indexes
# had a driver row. This entry deletes a doc that RANKS for the phrase
# (so compaction must purge its postings+plists or it would still
# appear), upserts a replacement whose text contains the phrase twice
# (so plists written by upsert_docs must survive compact and decode),
# then answers the phrase query ENTIRELY from the maintained index —
# search_phrase without a corpus argument reads no document content,
# which is only possible if the plists column survived the whole
# O4-O7 lifecycle. (Reference analog: DocumentUpdateTaskTest.java:58-74
# asserts index deltas after update; this is the positional version.)
PMAINT_DELETED_DOC = 83  # rank-2 phrase hit at the gated sf
PMAINT_REPLACED_DOC = 7
PMAINT_NEW_TEXT = "table hash join the table hash merge data"
_PMAINT_READERS: dict[str, tuple[int, IndexReader]] = {}


def _pmaint_reader(spark: SparkSession, sf_dir: str) -> IndexReader:
    key = os.path.abspath(sf_dir)
    ent = _PMAINT_READERS.get(key)
    if ent is not None and ent[0] == id(spark):
        return ent[1]
    base_dir = _POS_INDEX_DIRS.get(key)
    if base_dir is None:
        _positional_reader(spark, sf_dir)  # builds + caches the pos index
        base_dir = _POS_INDEX_DIRS[key]
    from spark_search.maintain import compact, delete_docs, upsert_docs

    root = tempfile.mkdtemp(prefix="sgraft-pmaint-")
    d1 = os.path.join(root, "del")
    d2 = os.path.join(root, "ups")
    d3 = os.path.join(root, "cmp")
    delete_docs(spark, base_dir, d1, [PMAINT_DELETED_DOC])
    corpus = _corpus(spark, sf_dir)
    replacement = corpus.where(
        F.col("doc_id") == PMAINT_REPLACED_DOC
    ).select("repo", "path", "commit", "lang").withColumn(
        "content", F.lit(PMAINT_NEW_TEXT)
    )
    upsert_docs(spark, d1, d2, replacement)
    compact(spark, d2, d3)
    rd = IndexReader(spark, d3)
    _PMAINT_READERS[key] = (id(spark), rd)
    return rd


def _q_bm25_phrase_maintained(spark, sf_dir):
    rd = _pmaint_reader(spark, sf_dir)
    return _round_result(rd.search_phrase(PHRASE, k=10))


def _bm25_phrase_maintained_oracle() -> str:
    """The phrase oracle over the edited corpus: deleted doc removed,
    replaced doc's text swapped onto the deterministic upsert id."""
    base = _bm25_phrase_oracle(PHRASE)
    edited = (
        "SELECT doc_id, coalesce(text, '') AS text FROM documents "
        f"WHERE doc_id NOT IN ({PMAINT_DELETED_DOC}, {PMAINT_REPLACED_DOC}) "
        f"UNION ALL SELECT {_maint_new_doc_id()} AS doc_id, "
        f"'{PMAINT_NEW_TEXT}' AS text"
    )
    return base.replace(
        "SELECT doc_id, coalesce(text, '') AS text FROM documents", edited
    )


# O4 per-(term, doc) posting delete under the oracle gate: surgically
# remove specific term occurrences (reference removeByValue,
# tree/SearchEngineConcurrentTree.java:239-264), then BM25 — the result
# must be score-identical to an index built over a corpus in which
# those occurrences never existed, which the oracle expresses by
# filtering the token stream (and recomputing dl from the filtered
# stream) before the standard BM25 arithmetic.
TDEL_PAIRS = [("data", 3), ("data", 5), ("merge", 7), ("join", 11)]
_TDEL_READERS: dict[str, tuple[int, IndexReader]] = {}


def _tdel_reader(spark: SparkSession, sf_dir: str) -> IndexReader:
    key = os.path.abspath(sf_dir)
    ent = _TDEL_READERS.get(key)
    if ent is not None and ent[0] == id(spark):
        return ent[1]
    base_dir = _INDEX_DIRS.get(key)
    if base_dir is None:
        _indexed_reader(spark, sf_dir)
        base_dir = _INDEX_DIRS[key]
    from spark_search.maintain import delete_term_postings

    out = os.path.join(tempfile.mkdtemp(prefix="sgraft-tdel-"), "idx")
    delete_term_postings(spark, base_dir, out, TDEL_PAIRS)
    rd = IndexReader(spark, out)
    _TDEL_READERS[key] = (id(spark), rd)
    return rd


def _q_bm25_term_deleted(spark, sf_dir):
    rd = _tdel_reader(spark, sf_dir)
    res = rd.search(TERMS_OR, P.WITH_SUGGESTIONS, k=10)
    return res.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def _bm25_term_deleted_oracle(k: int = 10) -> str:
    uniq = list(dict.fromkeys(TERMS_OR))
    inlist = ", ".join(f"'{t}'" for t in uniq)
    removed = " OR ".join(
        f"(term = '{t}' AND doc_id = {d})" for t, d in TDEL_PAIRS
    )
    return f"""
WITH corpus AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
toks AS (SELECT doc_id, unnest({_TOKS_DUCK}) AS term FROM corpus),
ftoks AS (SELECT * FROM toks WHERE NOT ({removed})),
mtoks AS (SELECT * FROM ftoks WHERE term IN ({inlist})),
tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM mtoks GROUP BY 1, 2),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
-- dl from the FILTERED stream, every corpus doc kept (dl may reach 0)
dl AS (SELECT c.doc_id, coalesce(t.n, 0)::DOUBLE AS dl
       FROM corpus c
       LEFT JOIN (SELECT doc_id, count(*) AS n FROM ftoks GROUP BY 1) t
         USING (doc_id)),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * tf.tf * {K1_PLUS_1}
              / (tf.tf + {K1} * ({ONE_MINUS_B} + {B} * dl.dl / stats.avgdl)) )
           AS score
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id::BIGINT AS doc_id, round(score, 6) AS score,
       row_number() OVER (ORDER BY score DESC, doc_id ASC)::BIGINT AS rank
FROM scored ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


def _q_live_result_diffs(spark, sf_dir):
    """Q9 live result maintenance under the oracle gate: register the
    OR query over the base index generation, advance the index through
    the maintenance lifecycle (delete + upsert + compact — the same
    generation _q_bm25_maintained queries), refresh, and return the
    ADD/UPDATE/REMOVE diff between the two top-k snapshots (reference
    SimpleSearchManager.java:106-185 re-expressed per commit point)."""
    from spark_search.live import LiveResults

    key = os.path.abspath(sf_dir)
    _indexed_reader(spark, sf_dir)
    base_dir = _INDEX_DIRS[key]
    _maintained_reader(spark, sf_dir)
    maint_dir = _MAINT_DIRS[key]
    live = LiveResults(spark, tempfile.mkdtemp(prefix="sgraft-live-"))
    live.register(
        "orq", TERMS_OR, P.WITH_SUGGESTIONS, k=10, index_dir=base_dir
    )
    diff = live.refresh(index_dir=maint_dir, log=False)
    out = diff.select(
        "event",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
        F.round("old_score", 6).alias("old_score"),
        F.col("old_rank").cast("long").alias("old_rank"),
    )
    # the engine classifies UPDATE at 9-decimal score precision; the
    # oracle compares its own 6-decimal columns — drop any UPDATE row
    # invisible at the oracle's precision so the boundary is identical
    return out.where(
        (F.col("event") != "UPDATE")
        | (F.col("score") != F.col("old_score"))
        | (F.col("rank") != F.col("old_rank"))
    )


def _live_diff_oracle() -> str:
    """Full-outer-join of the base and maintained BM25 top-k oracles,
    classified into ADD/REMOVE/UPDATE exactly as live._diff_rows."""
    before = _bm25_oracle(TERMS_OR, P.WITH_SUGGESTIONS)
    after = _bm25_maintained_oracle()
    return f"""
SELECT
  CASE WHEN b.doc_id IS NULL THEN 'ADD'
       WHEN a.doc_id IS NULL THEN 'REMOVE'
       ELSE 'UPDATE' END AS event,
  coalesce(a.doc_id, b.doc_id)::BIGINT AS doc_id,
  a.score AS score, a.rank::BIGINT AS rank,
  b.score AS old_score, b.rank::BIGINT AS old_rank
FROM ({before}) b
FULL OUTER JOIN ({after}) a ON a.doc_id = b.doc_id
WHERE b.doc_id IS NULL OR a.doc_id IS NULL
   OR a.score <> b.score OR a.rank <> b.rank
"""


def _q_reverse_doc_terms_indexed(spark, sf_dir):
    """O3 reverse lookup answered by the disk index (chunk-pruned scan
    + block-range skip, IndexReader.doc_terms)."""
    rd = _indexed_reader(spark, sf_dir)
    return rd.doc_terms(REVERSE_DOC_ID).select(
        "term", F.col("tf").cast("long").alias("tf")
    )


def _q_term_stats_indexed(spark, sf_dir):
    """O1 posting statistics read from the on-disk term dictionary."""
    rd = _indexed_reader(spark, sf_dir)
    return rd.terms_df().where(F.col("term").isin(TERMS_STATS)).select(
        "term",
        F.col("df").cast("long").alias("df"),
        F.col("cf").cast("long").alias("cf"),
    )


def _q_term_prefix_expansion_indexed(spark, sf_dir):
    """Q2 dictionary range scan on the on-disk term dictionary."""
    rd = _indexed_reader(spark, sf_dir)
    return rd.terms_df().where(F.col("term").startswith("sc")).select(
        "term",
        F.col("df").cast("long").alias("df"),
        F.col("cf").cast("long").alias("cf"),
    )


def _q_bm25_or(spark, sf_dir):
    return _topk(spark, sf_dir, TERMS_OR, P.WITH_SUGGESTIONS)


def _q_bm25_and(spark, sf_dir):
    return _topk(spark, sf_dir, TERMS_AND, P.AND_MATCH)


def _q_bm25_prefix(spark, sf_dir):
    return _topk(spark, sf_dir, TERMS_PREFIX, P.START_WITH)


# Metadata-filtered search (Lucene filter-query semantics): the filter
# scopes the RESULT SET over registry columns; idf/df/N/avgdl stay
# corpus-global, so a doc's score is bit-identical with or without the
# filter. The driver corpus maps documents.lang -> corpus.lang 1:1
# (corpus.load_sf_documents), so the DuckDB oracle filters the same rows.
FILTER_SPARK = "lang IN ('de', 'fr')"
FILTER_DUCK = "lang IN ('de', 'fr')"


def _q_bm25_filtered(spark, sf_dir):
    res = P.bm25_topk(
        _corpus(spark, sf_dir),
        TERMS_OR,
        P.WITH_SUGGESTIONS,
        k=10,
        doc_filter=FILTER_SPARK,
    )
    return res.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def _q_bm25_filtered_indexed(spark, sf_dir):
    res = _indexed_reader(spark, sf_dir).search(
        TERMS_OR, P.WITH_SUGGESTIONS, k=10, doc_filter=FILTER_SPARK
    )
    return res.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


# Batched query set (the at-scale serving shape: many queries, one
# shared scan). Three OR queries sharing a term ('data') so the oracle
# exercises the shared-df path; per-query top-10.
MULTI_QUERIES = {
    "m1": ["data", "join", "merge"],
    "m2": ["spark"],
    "m3": ["the", "data"],
}


def _round_multi(res):
    return res.select(
        F.col("query_id"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def _q_bm25_multi(spark, sf_dir):
    """Declarative batch: ONE tokenize+tf pass scores the whole query
    set (pipeline.bm25_topk_many)."""
    return _round_multi(
        P.bm25_topk_many(
            _corpus(spark, sf_dir), MULTI_QUERIES, P.WITH_SUGGESTIONS, k=10
        )
    )


def _q_bm25_multi_indexed(spark, sf_dir):
    """Index batch: ONE bucket-pruned postings scan answers the whole
    query set (IndexReader.search_many)."""
    return _round_multi(
        _indexed_reader(spark, sf_dir).search_many(
            MULTI_QUERIES, P.WITH_SUGGESTIONS, k=10
        )
    )


def _bm25_multi_oracle(queries, k=10) -> str:
    """Per-query BM25 rankings in one DuckDB statement: union term
    filter -> tf -> global df -> fan out through the (query_id, term)
    VALUES map -> per-query window rank."""
    pairs = [
        (qid, t) for qid, ts in queries.items() for t in dict.fromkeys(ts)
    ]
    union = sorted({t for _, t in pairs})
    vals = ", ".join(f"('{q}', '{t}')" for q, t in pairs)
    inlist = ", ".join(f"'{t}'" for t in union)
    return f"""
WITH corpus AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
toks AS (SELECT doc_id, unnest({_TOKS_DUCK}) AS term FROM corpus),
mtoks AS (SELECT * FROM toks WHERE term IN ({inlist})),
tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM mtoks GROUP BY 1, 2),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
qmap AS (SELECT * FROM (VALUES {vals}) AS v(query_id, term)),
dl AS (SELECT doc_id, len({_TOKS_DUCK})::DOUBLE AS dl FROM corpus),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
scored AS (
  SELECT qmap.query_id, tf.doc_id,
         sum( ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * tf.tf * {K1_PLUS_1}
              / (tf.tf + {K1} * ({ONE_MINUS_B} + {B} * dl.dl / stats.avgdl)) )
           AS score
  FROM tf
  JOIN qmap USING (term)
  JOIN dfreq USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id::BIGINT AS doc_id, round(score, 6) AS score,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id ASC
         )::BIGINT AS rank
  FROM scored
)
SELECT * FROM ranked WHERE rank <= {k} ORDER BY query_id, rank
"""


def _q_term_stats(spark, sf_dir):
    """Posting-list statistics: df (document frequency) and cf
    (collection frequency) per term — the O1 aggregation output."""
    corpus = _corpus(spark, sf_dir)
    tf = P.term_doc_tf(P.tokens(corpus).where(F.col("term").isin(TERMS_STATS)))
    return tf.groupBy("term").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
    )


def _q_corpus_stats(spark, sf_dir):
    """N, avgdl, vocabulary size, total token count."""
    corpus = _corpus(spark, sf_dir)
    tok = P.tokens(corpus)
    dl = P.doc_lengths(corpus)
    agg = dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("dl"), 6).alias("avgdl"),
        F.sum("dl").cast("long").alias("total_tokens"),
    )
    vocab = tok.agg(F.countDistinct("term").cast("long").alias("vocab_size"))
    return agg.crossJoin(vocab)


def _q_match_set(spark, sf_dir):
    """Reference-semantics doc-level match set (unordered set of doc ids
    containing the term — reference SimpleSearchManager.java:61-66)."""
    corpus = _corpus(spark, sf_dir)
    return (
        P.tokens(corpus)
        .where(F.col("term") == "vector")
        .select(F.col("doc_id").cast("long").alias("doc_id"))
        .distinct()
    )


REVERSE_DOC_ID = 5


def _q_reverse_doc_terms(spark, sf_dir):
    """O3 reverse lookup (doc_id -> its terms + tf), declarative form.
    The disk-index path (IndexReader.doc_terms, chunk-pruned) is
    exercised in tests/test_build_query.py; semantics are identical."""
    corpus = _corpus(spark, sf_dir)
    return (
        P.tokens(corpus)
        .where(F.col("doc_id") == REVERSE_DOC_ID)
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("tf"))
    )


def _q_term_prefix_expansion(spark, sf_dir):
    """Q2 dictionary range scan: every indexed term with the prefix,
    with df/cf — the expansion feeding START_WITH retrieval."""
    corpus = _corpus(spark, sf_dir)
    tf = P.term_doc_tf(P.tokens(corpus))
    return (
        tf.where(F.col("term").startswith("sc"))
        .groupBy("term")
        .agg(
            F.count("*").cast("long").alias("df"),
            F.sum("tf").cast("long").alias("cf"),
        )
    )


def _q_doc_lengths_top(spark, sf_dir):
    corpus = _corpus(spark, sf_dir)
    return (
        P.doc_lengths(corpus)
        .select("doc_id", F.col("dl").cast("long").alias("dl"))
        .orderBy(F.col("dl").desc(), F.col("doc_id").asc())
        .limit(20)
    )


# -------------------------------------------- training-data pipeline ops

SIM_QUERY_IDS = [0, 1, 2]


def _docs_raw(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# Secret-scan fixture text: deterministic credential/PII plants over
# the driver corpus (the raw word-soup text contains none), expressed
# identically in Spark SQL and DuckDB. md5 yields the same lowercase
# hex on both engines, so the planted AWS key / 32-hex token agree
# byte-for-byte.
_SECRET_TEXT_SPARK = (
    "concat(coalesce(text, ''),"
    " CASE WHEN doc_id % 7 = 0 THEN concat(' contact user',"
    "   cast(doc_id AS string), '@example.com') ELSE '' END,"
    " CASE WHEN doc_id % 11 = 0 THEN concat(' host 10.0.',"
    "   cast(doc_id % 256 AS string), '.5') ELSE '' END,"
    " CASE WHEN doc_id % 13 = 0 THEN concat(' key AKIA',"
    "   upper(substring(md5(cast(doc_id AS string)), 1, 16))) ELSE '' END,"
    " CASE WHEN doc_id % 17 = 0 THEN concat(' token ',"
    "   md5(cast(doc_id AS string))) ELSE '' END,"
    " CASE WHEN doc_id % 19 = 0 THEN ' password = hunter2' ELSE '' END)"
)
_SECRET_TEXT_DUCK = (
    "coalesce(text, '')"
    " || CASE WHEN doc_id % 7 = 0 THEN ' contact user'"
    "   || doc_id::VARCHAR || '@example.com' ELSE '' END"
    " || CASE WHEN doc_id % 11 = 0 THEN ' host 10.0.'"
    "   || (doc_id % 256)::VARCHAR || '.5' ELSE '' END"
    " || CASE WHEN doc_id % 13 = 0 THEN ' key AKIA'"
    "   || upper(substring(md5(doc_id::VARCHAR), 1, 16)) ELSE '' END"
    " || CASE WHEN doc_id % 17 = 0 THEN ' token '"
    "   || md5(doc_id::VARCHAR) ELSE '' END"
    " || CASE WHEN doc_id % 19 = 0 THEN ' password = hunter2' ELSE '' END"
)


def _q_text_dup_spans(spark, sf_dir):
    return TX.duplicated_ngram_shares(_docs_raw(spark, sf_dir))


def _q_decontaminate(spark, sf_dir):
    # benchmark-decontamination: the eval set is carved from the same
    # documents table by a deterministic predicate (doc_id % 37 == 0),
    # so the pair needs no external benchmark input; n=3 gives a
    # discriminative overlap distribution at sf<=0.01 (312/486 docs
    # nonzero) while the library default stays at the GPT-3-style
    # longer gram
    docs = _docs_raw(spark, sf_dir)
    return DX.decontaminate(
        docs.where(F.col("doc_id") % 37 != 0),
        docs.where(F.col("doc_id") % 37 == 0),
        n=3,
    )


def _q_mix_plan(spark, sf_dir):
    # uniform-target domain mix over the observed languages (the
    # deterministic no-external-input default)
    return MX.mix_plan(_docs_raw(spark, sf_dir))


def _q_text_secret_scan(spark, sf_dir):
    docs = _docs_raw(spark, sf_dir).withColumn(
        "text", F.expr(_SECRET_TEXT_SPARK)
    )
    return TX.secret_scan(docs)


def _emb_raw(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _q_text_token_counts(spark, sf_dir):
    return TX.token_counts(_docs_raw(spark, sf_dir))


def _q_vocab_coverage(spark, sf_dir):
    return TX.vocab_coverage(_docs_raw(spark, sf_dir))


def _q_curation_decisions(spark, sf_dir):
    # The library API keeps ``reasons`` as ARRAY<STRING>; the driver's
    # canonicalizer (pandas sort_values) can't hash list cells, so the
    # ENTRY pair projects the deterministic-order array to a '|'-joined
    # string on BOTH sides (oracle uses array_to_string).
    return CU.curation_decisions(_docs_raw(spark, sf_dir)).select(
        "doc_id",
        "keep",
        F.array_join("reasons", "|").alias("reasons"),
    )


def _q_curation_near(spark, sf_dir):
    # the full production decision: near-duplicate CLUSTER members
    # (transitive MinHash closure) dropped alongside exact dups;
    # same string projection as curation_decisions (driver
    # canonicalizer can't hash array cells)
    return CU.curation_decisions(
        _docs_raw(spark, sf_dir), near_dup=True
    ).select(
        "doc_id",
        "keep",
        F.array_join("reasons", "|").alias("reasons"),
    )


def _q_curation_boiler(spark, sf_dir):
    # boilerplate + secret rules composed into the decision table
    # (max_dup_share drops cross-doc duplicated-span-heavy docs;
    # drop_secrets drops credential hits — zero on the raw corpus, the
    # rule's plumbing still under the oracle)
    return CU.curation_decisions(
        _docs_raw(spark, sf_dir), max_dup_share=0.35, drop_secrets=True
    ).select(
        "doc_id",
        "keep",
        F.array_join("reasons", "|").alias("reasons"),
    )


def _q_text_quality(spark, sf_dir):
    return TX.quality_scores(_docs_raw(spark, sf_dir))


def _q_text_repetition(spark, sf_dir):
    return TX.repetition_scores(_docs_raw(spark, sf_dir))


def _q_pack_sequences(spark, sf_dir):
    # shard count pinned EXPLICITLY: the library default is adaptive
    # (cluster-sized), and the oracle below is parameterized identically
    return SA.pack_sequences(_docs_raw(spark, sf_dir), n_shards=SA.DEFAULT_N_SHARDS)


def _q_pack_manifest(spark, sf_dir):
    # per-sequence shard manifest (same explicit shard pin as
    # pack_sequences so the oracle parameterizes identically)
    return SA.pack_manifest(
        _docs_raw(spark, sf_dir), n_shards=SA.DEFAULT_N_SHARDS
    )


def _q_length_histogram(spark, sf_dir):
    return TX.length_histogram(_docs_raw(spark, sf_dir))


def _q_corpus_rollup(spark, sf_dir):
    # ROLLUP(lang, source) composition report with the SQL-standard
    # grouping bitmask (the engine's grouping-sets surface)
    return TX.corpus_rollup(_docs_raw(spark, sf_dir))


def _q_sample_stratified(spark, sf_dir):
    return SA.sample_stratified(_docs_raw(spark, sf_dir))


def _q_text_lm_scores(spark, sf_dir):
    # unigram-LM cross-entropy / perplexity quality scores (CCNet-style
    # LM filtering, self-trained on the corpus — no external artifact)
    return LM.lm_scores(_docs_raw(spark, sf_dir))


def _q_text_pmi_bigrams(spark, sf_dir):
    # PMI collocation table (Church-Hanks) — top adjacent-pair
    # associations with a min-count support floor
    return LM.pmi_bigrams(_docs_raw(spark, sf_dir))


def _q_text_lang_confusion(spark, sf_dir):
    return TX.lang_confusion(_docs_raw(spark, sf_dir))


def _q_text_fingerprints(spark, sf_dir):
    return TX.fingerprints(_docs_raw(spark, sf_dir))


def _q_dedup_exact(spark, sf_dir):
    return DD.exact_dup_groups(_docs_raw(spark, sf_dir))


def _q_dedup_minhash_lsh(spark, sf_dir):
    return DD.minhash_near_dup(_docs_raw(spark, sf_dir))


def _q_dedup_incremental(spark, sf_dir):
    # batch-vs-ingested-state dedup: docs with doc_id % 5 == 0 play the
    # "new crawl batch", the rest the persisted corpus state; only the
    # batch is signed (dedup.minhash_near_dup_incremental)
    docs = _docs_raw(spark, sf_dir)
    new = docs.where(F.col("doc_id") % 5 == 0)
    buckets, arrays = DD.minhash_state(docs.where(F.col("doc_id") % 5 != 0))
    return DD.minhash_near_dup_incremental(new, buckets, arrays)


def _q_dedup_ngram_jaccard(spark, sf_dir):
    # the recommended scale cap, passed EXPLICITLY (the API default is
    # exact/uncapped); the oracle below is parameterized identically
    return DD.ngram_jaccard_pairs(
        _docs_raw(spark, sf_dir), max_shingle_df=DD.MAX_SHINGLE_DF
    )


def _q_dedup_simhash(spark, sf_dir):
    return DD.simhash(_docs_raw(spark, sf_dir))


def _q_dedup_simhash_pairs(spark, sf_dir):
    return DD.simhash_near_dup(_docs_raw(spark, sf_dir))


def _q_dedup_clusters(spark, sf_dir):
    return DD.dup_clusters(_docs_raw(spark, sf_dir))


def _q_graph_pagerank(spark, sf_dir):
    # PageRank centrality over the MinHash near-dup graph (symmetric):
    # the connectivity-based canonical-keeper / quality prior; 3 power
    # iterations, protocol frozen in graph.pagerank
    docs = _docs_raw(spark, sf_dir)
    pairs = DD.minhash_near_dup(docs).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    nodes = docs.select(F.col("doc_id").cast("long").alias("id"))
    return GR.pagerank(pairs, nodes, symmetric=True)


def _q_dedup_embedding(spark, sf_dir):
    return DD.embedding_near_dup(_emb_raw(spark, sf_dir))


def _q_dedup_embedding_ann(spark, sf_dir):
    return DD.embedding_near_dup_ann(_emb_raw(spark, sf_dir))


def _q_sim_cosine_topk(spark, sf_dir):
    return SIM.cosine_topk(_emb_raw(spark, sf_dir), SIM_QUERY_IDS)


def _q_sim_ivf_topk(spark, sf_dir):
    return SIM.ivf_topk(_emb_raw(spark, sf_dir), SIM_QUERY_IDS)


def _q_cluster_kmeans(spark, sf_dir):
    # spherical k-means corpus map: 2 unrolled Lloyd iterations, seed
    # centroids = k smallest vec_ids (the module's frozen protocol)
    return CL.kmeans_assignments(_emb_raw(spark, sf_dir))


def _q_sim_ivf_trained(spark, sf_dir):
    # IVF ANN with the TRAINED coarse quantizer: kmeans centroids
    # replace the seed cells — the production IVF topology
    emb = _emb_raw(spark, sf_dir)
    return SIM.ivf_topk(
        emb, SIM_QUERY_IDS, centroids=CL.kmeans_centroids(emb)
    )


def _events_raw(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _q_events_windowed(spark, sf_dir):
    # tumbling event-time windows (date_trunc bucketing — plain
    # timestamp group key, partition-prunable on a dated event log)
    return EV.windowed_counts(_events_raw(spark, sf_dir))


def _q_events_sessions(spark, sf_dir):
    # inactivity-gap sessionization (30 min), per-user window
    return EV.sessionize(_events_raw(spark, sf_dir))


def _q_events_json_stats(spark, sf_dir):
    # JSON property extraction parity (get_json_object vs
    # json_extract_string)
    return EV.json_prop_stats(_events_raw(spark, sf_dir))


def _q_media_stats(spark, sf_dir):
    return MM.media_stats(_docs_raw(spark, sf_dir))


def _q_media_features(spark, sf_dir):
    return MM.media_features_summary(_docs_raw(spark, sf_dir))


# ------------------------------------------------- facets + snippets



def _scored_cte(pred, having="", extra_corpus_cols=""):
    """The frozen BM25 scored-CTE chain every single-query oracle
    shares (corpus -> toks -> matched tf -> df -> dl -> stats ->
    per-doc score). ONE source of truth: a change to the oracle
    arithmetic lands here or nowhere (review finding — previously
    five builders embedded byte-copies of this block)."""
    return f"""corpus AS (SELECT doc_id, coalesce(text, '') AS text{extra_corpus_cols} FROM documents),
toks AS (SELECT doc_id, unnest({_TOKS_DUCK}) AS term FROM corpus),
mtoks AS (SELECT * FROM toks WHERE {pred}),
tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM mtoks GROUP BY 1, 2),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
dl AS (SELECT doc_id, len({_TOKS_DUCK})::DOUBLE AS dl FROM corpus),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * tf.tf * {K1_PLUS_1}
              / (tf.tf + {K1} * ({ONE_MINUS_B} + {B} * dl.dl / stats.avgdl)) )
           AS score
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id {having}
)"""


def _facet_pred(terms, mode) -> str:
    uniq = list(dict.fromkeys(terms))
    if mode == P.START_WITH:
        return " OR ".join(f"term LIKE '{t}%'" for t in uniq)
    if mode == P.CONTAINS_MATCH:
        return " OR ".join(f"term LIKE '%{t}%'" for t in uniq)
    inlist = ", ".join(f"'{t}'" for t in uniq)
    return f"term IN ({inlist})"


def _facet_oracle(terms, mode, facet="lang", facet_select=None,
                  doc_where=None) -> str:
    """``facet_select`` renames a documents column to the registry's
    name (e.g. ``source AS repo``); ``doc_where`` is the drill-down
    filter — it scopes ONLY the counting side, never the match set
    (the engine's membership-only filter semantics)."""
    uniq = list(dict.fromkeys(terms))
    pred = _facet_pred(uniq, mode)
    having = (
        f" HAVING count(DISTINCT term) = {len(uniq)}"
        if mode == P.AND_MATCH
        else ""
    )
    sel = facet_select or facet
    where = f" WHERE {doc_where}" if doc_where else ""
    return f"""
WITH corpus AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
toks AS (SELECT doc_id, unnest({_TOKS_DUCK}) AS term FROM corpus),
hit AS (SELECT doc_id FROM toks WHERE {pred} GROUP BY doc_id{having}),
cnt AS (SELECT doc_id, {sel} FROM documents{where})
SELECT {facet}, count(*)::BIGINT AS doc_count
FROM cnt JOIN hit USING (doc_id)
GROUP BY {facet}
ORDER BY doc_count DESC, {facet} ASC
"""


def _snippet_oracle(terms, mode, k=10, width=3) -> str:
    uniq = list(dict.fromkeys(terms))
    pred = _facet_pred(uniq, mode)
    having = (
        f"HAVING count(*) = {len(uniq)}" if mode == P.AND_MATCH else ""
    )
    return f"""
WITH {_scored_cte(pred, having)},
topk AS (
  SELECT doc_id::BIGINT AS doc_id, round(score, 6) AS score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC)::BIGINT AS rank
  FROM scored ORDER BY score DESC, doc_id ASC LIMIT {k}
),
arrs AS (SELECT c.doc_id, {_TOKS_DUCK} AS arr
         FROM corpus c JOIN topk t ON t.doc_id = c.doc_id),
tp AS (SELECT doc_id, unnest(arr) AS term, generate_subscripts(arr, 1) AS pos
       FROM arrs),
fp AS (SELECT doc_id, min(pos)::BIGINT AS first_pos
       FROM tp WHERE {pred} GROUP BY doc_id)
SELECT t.doc_id, t.score, t.rank, fp.first_pos,
       array_to_string(
         a.arr[greatest(1, fp.first_pos - {width}):fp.first_pos + {width}],
         ' ') AS snippet
FROM topk t
JOIN fp ON fp.doc_id = t.doc_id
JOIN arrs a ON a.doc_id = t.doc_id
ORDER BY t.rank
"""


def _grouped_oracle(terms, mode, k=3, group="lang") -> str:
    uniq = list(dict.fromkeys(terms))
    pred = _facet_pred(uniq, mode)
    having = (
        f"HAVING count(*) = {len(uniq)}" if mode == P.AND_MATCH else ""
    )
    return f"""
WITH {_scored_cte(pred, having, extra_corpus_cols=", " + group)}
SELECT {group}, doc_id, score, rank FROM (
  SELECT c.{group}, s.doc_id::BIGINT AS doc_id, round(s.score, 6) AS score,
         row_number() OVER (
             PARTITION BY c.{group}
             ORDER BY s.score DESC, s.doc_id ASC
         )::BIGINT AS rank
  FROM scored s JOIN corpus c ON c.doc_id = s.doc_id
)
WHERE rank <= {k}
"""


def _q_bm25_grouped(spark, sf_dir):
    out = P.bm25_topk_grouped(
        _corpus(spark, sf_dir), TERMS_OR, mode=P.WITH_SUGGESTIONS, k=3,
        group="lang",
    )
    return out.select(
        "lang",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


# hybrid retrieval: BM25 candidate recall (top-C) re-ranked by
# embedding cosine to a query vector; vec_id aligns with doc_id in the
# driver tables
HYBRID_C = 50
HYBRID_QVEC = 7
HYBRID_ALPHA = 0.5


def _hybrid_oracle(terms, mode, qid, k=10, c=50, alpha=0.5) -> str:
    uniq = list(dict.fromkeys(terms))
    pred = _facet_pred(uniq, mode)
    return f"""
WITH {_scored_cte(pred)},
topc AS (SELECT doc_id::BIGINT AS doc_id, round(score, 6) AS b
         FROM scored ORDER BY score DESC, doc_id ASC LIMIT {c}),
mx AS (SELECT max(b) AS mx FROM topc),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
      FROM embeddings),
q AS (SELECT v AS qv, norm AS qnorm FROM e WHERE vec_id = {qid}),
h AS (SELECT t.doc_id,
             round(t.b / mx.mx, 6) AS bm25_norm,
             round(list_dot_product(e.v, q.qv) / (e.norm * q.qnorm), 6)
               AS cos_sim
      FROM topc t
      JOIN e ON e.vec_id = t.doc_id
      CROSS JOIN q CROSS JOIN mx),
f AS (SELECT doc_id, bm25_norm, cos_sim,
             round({float(alpha)} * bm25_norm
                   + {1.0 - float(alpha)} * cos_sim, 6) AS score
      FROM h
      WHERE bm25_norm IS NOT NULL AND cos_sim IS NOT NULL)
SELECT doc_id, bm25_norm, cos_sim, score,
       row_number() OVER (ORDER BY score DESC, doc_id ASC)::BIGINT AS rank
FROM f ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


def _hybrid_rrf_oracle(terms, mode, qid, k=10, c=50, rrf_k=60) -> str:
    uniq = list(dict.fromkeys(terms))
    pred = _facet_pred(uniq, mode)
    return f"""
WITH {_scored_cte(pred)},
topc AS (SELECT doc_id::BIGINT AS doc_id, score AS b
         FROM scored ORDER BY score DESC, doc_id ASC LIMIT {c}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
      FROM embeddings),
q AS (SELECT v AS qv, norm AS qnorm FROM e WHERE vec_id = {qid}),
j AS (SELECT t.doc_id, t.b,
             round(list_dot_product(e.v, q.qv) / (e.norm * q.qnorm), 6) AS c
      FROM topc t JOIN e ON e.vec_id = t.doc_id CROSS JOIN q),
jc AS (SELECT * FROM j WHERE c IS NOT NULL),
r AS (SELECT doc_id,
             row_number() OVER (ORDER BY b DESC, doc_id ASC)::BIGINT
               AS bm25_rank,
             row_number() OVER (ORDER BY c DESC, doc_id ASC)::BIGINT
               AS cos_rank
      FROM jc),
f AS (SELECT doc_id, bm25_rank, cos_rank,
             round(1.0 / ({float(rrf_k)} + bm25_rank)
                   + 1.0 / ({float(rrf_k)} + cos_rank), 6) AS score
      FROM r)
SELECT doc_id, bm25_rank, cos_rank, score,
       row_number() OVER (ORDER BY score DESC, doc_id ASC)::BIGINT AS rank
FROM f ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


def _q_hybrid_rrf(spark, sf_dir):
    cand = _indexed_reader(spark, sf_dir).search(
        TERMS_OR, P.WITH_SUGGESTIONS, k=HYBRID_C
    )
    return SIM.hybrid_rrf(cand, _emb_raw(spark, sf_dir), HYBRID_QVEC, k=10)


def _q_hybrid_topk(spark, sf_dir):
    cand = P.bm25_topk(
        _corpus(spark, sf_dir), TERMS_OR, P.WITH_SUGGESTIONS, k=HYBRID_C
    )
    return SIM.hybrid_rerank(
        cand, _emb_raw(spark, sf_dir), HYBRID_QVEC, k=10, alpha=HYBRID_ALPHA
    )


def _q_hybrid_topk_indexed(spark, sf_dir):
    cand = _indexed_reader(spark, sf_dir).search(
        TERMS_OR, P.WITH_SUGGESTIONS, k=HYBRID_C
    )
    return SIM.hybrid_rerank(
        cand, _emb_raw(spark, sf_dir), HYBRID_QVEC, k=10, alpha=HYBRID_ALPHA
    )


def _q_bm25_grouped_indexed(spark, sf_dir):
    out = _indexed_reader(spark, sf_dir).search_grouped(
        TERMS_OR, mode=P.WITH_SUGGESTIONS, k=3, group="lang"
    )
    return out.select(
        "lang",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def _q_facet_lang(spark, sf_dir):
    out = P.facet_counts(
        _corpus(spark, sf_dir), TERMS_OR, mode=P.WITH_SUGGESTIONS, facet="lang"
    )
    return out.select("lang", F.col("doc_count").cast("long").alias("doc_count"))


def _q_facet_lang_indexed(spark, sf_dir):
    out = _indexed_reader(spark, sf_dir).search_facets(
        TERMS_OR, mode=P.WITH_SUGGESTIONS, facet="lang"
    )
    return out.select("lang", F.col("doc_count").cast("long").alias("doc_count"))


def _q_facet_drill_indexed(spark, sf_dir):
    """Drill-down: repo facets of the OR query, scoped to two langs."""
    out = _indexed_reader(spark, sf_dir).search_facets(
        TERMS_OR, mode=P.WITH_SUGGESTIONS, facet="repo",
        doc_filter="lang IN ('de', 'fr')",
    )
    return out.select("repo", F.col("doc_count").cast("long").alias("doc_count"))


def _q_bm25_snippets_indexed(spark, sf_dir):
    out = _positional_reader(spark, sf_dir).search_snippets(
        TERMS_OR, _corpus(spark, sf_dir), mode=P.WITH_SUGGESTIONS,
        k=10, width=3,
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
        F.col("first_pos").cast("long").alias("first_pos"),
        "snippet",
    )


def _q_bm25_snippets(spark, sf_dir):
    out = P.snippets(
        _corpus(spark, sf_dir), TERMS_OR, mode=P.WITH_SUGGESTIONS, k=10, width=3
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
        F.col("first_pos").cast("long").alias("first_pos"),
        "snippet",
    )


def _q_shuffle_shards(spark, sf_dir):
    return SA.shuffle_shards(_docs_raw(spark, sf_dir), n_shards=8, seed=7)


# Boilerplate fixture: the driver corpus is single-line word soup with
# every line unique, so (secret-scan precedent) the entry pair plants
# deterministic boilerplate — a header line on every doc and a footer
# on even doc_ids — expressed identically in Spark and the oracle SQL;
# the strip must remove exactly those and return the original text.
_BP_HEADER = "== COMMON LICENSE HEADER =="
_BP_FOOTER = "-- generated footer --"
_BP_TEXT_DUCK = (
    f"'{_BP_HEADER}' || chr(10) || coalesce(text, '') || "
    f"CASE WHEN doc_id % 2 = 0 THEN chr(10) || '{_BP_FOOTER}' ELSE '' END"
)


def _q_bm25_page2(spark, sf_dir):
    """Declarative searchAfter: page 1's last row is the cursor."""
    c = _corpus(spark, sf_dir)
    p1 = P.bm25_topk(c, TERMS_OR, P.WITH_SUGGESTIONS, k=10).collect()
    cur = p1[-1]
    return _round_result(
        P.bm25_topk_after(
            c, TERMS_OR, P.WITH_SUGGESTIONS, k=10,
            after_score=cur["score"], after_doc=cur["doc_id"],
        )
    )


def _q_bm25_page2_indexed(spark, sf_dir):
    rd = _indexed_reader(spark, sf_dir)
    p1 = rd.search(TERMS_OR, P.WITH_SUGGESTIONS, k=10).collect()
    cur = p1[-1]
    return _round_result(
        rd.search_after(
            TERMS_OR, P.WITH_SUGGESTIONS, k=10,
            after_score=cur["score"], after_doc=cur["doc_id"],
        )
    )


def _q_length_quantiles(spark, sf_dir):
    return TX.length_quantiles(_docs_raw(spark, sf_dir))


def _q_doc_keywords(spark, sf_dir):
    return P.keywords_per_doc(_corpus(spark, sf_dir), m=5, min_df=2)


def _q_strip_boilerplate(spark, sf_dir):
    fixt = _docs_raw(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit(_BP_HEADER + "\n"),
            F.coalesce(F.col("text"), F.lit("")),
            F.when(
                F.col("doc_id") % 2 == 0, F.lit("\n" + _BP_FOOTER)
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return TX.strip_boilerplate_lines(fixt, max_line_df=2)


# offline ranking evaluation: search_many rankings scored against a
# deterministic synthetic qrels table (rel = f(doc_id, query number))
EVAL_K = 10


def _eval_qrels(spark, sf_dir):
    ids = spark.createDataFrame(
        [(q, int(q[1:])) for q in MULTI_QUERIES], "query_id string, _qn int"
    )
    e = (F.col("doc_id") * 7 + F.col("_qn")) % 5
    return (
        _docs_raw(spark, sf_dir)
        .select(F.col("doc_id").cast("long").alias("doc_id"))
        .crossJoin(F.broadcast(ids))
        .select(
            "query_id",
            "doc_id",
            F.when(e == 0, 2).when(e == 1, 1).otherwise(0).alias("rel"),
        )
    )


def _q_eval_metrics(spark, sf_dir):
    res = _indexed_reader(spark, sf_dir).search_many(
        MULTI_QUERIES, P.WITH_SUGGESTIONS, k=EVAL_K
    )
    return EVL.ranking_metrics(res, _eval_qrels(spark, sf_dir), k=EVAL_K)


def _eval_oracle(queries, k=10) -> str:
    pairs = [
        (qid, t) for qid, ts in queries.items() for t in dict.fromkeys(ts)
    ]
    union = sorted({t for _, t in pairs})
    vals = ", ".join(f"('{q}', '{t}')" for q, t in pairs)
    qns = ", ".join(f"('{q}', {int(q[1:])})" for q in queries)
    inlist = ", ".join(f"'{t}'" for t in union)
    return f"""
WITH corpus AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
toks AS (SELECT doc_id, unnest({_TOKS_DUCK}) AS term FROM corpus),
mtoks AS (SELECT * FROM toks WHERE term IN ({inlist})),
tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM mtoks GROUP BY 1, 2),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
qmap AS (SELECT * FROM (VALUES {vals}) AS v(query_id, term)),
dl AS (SELECT doc_id, len({_TOKS_DUCK})::DOUBLE AS dl FROM corpus),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
scored AS (
  SELECT qmap.query_id, tf.doc_id,
         sum( ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * tf.tf * {K1_PLUS_1}
              / (tf.tf + {K1} * ({ONE_MINUS_B} + {B} * dl.dl / stats.avgdl)) )
           AS score
  FROM tf
  JOIN qmap USING (term)
  JOIN dfreq USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id::BIGINT AS doc_id,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id ASC
         )::BIGINT AS rank
  FROM scored
),
res AS (SELECT * FROM ranked WHERE rank <= {k}),
qrels AS (
  SELECT q.query_id, d.doc_id::BIGINT AS doc_id,
         CASE ((d.doc_id * 7 + q.qn) % 5)
           WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 0 END AS rel
  FROM documents d
  CROSS JOIN (VALUES {qns}) q(query_id, qn)
),
qr AS (SELECT * FROM qrels WHERE rel > 0),
hits AS (SELECT r.query_id, r.doc_id, r.rank, qr.rel
         FROM res r JOIN qr USING (query_id, doc_id)),
per_hit AS (
  SELECT query_id, max(1.0 / rank) AS _mrr,
         sum((pow(2.0, rel) - 1.0) / log2(1.0 + rank)) AS _dcg,
         count(*)::BIGINT AS _n_hit
  FROM hits GROUP BY 1
),
ideal AS (
  SELECT query_id, sum((pow(2.0, rel) - 1.0) / log2(1.0 + _r)) AS _idcg
  FROM (SELECT query_id, rel, doc_id,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY rel DESC, doc_id ASC
               ) AS _r
        FROM qr)
  WHERE _r <= {k} GROUP BY 1
),
n_rel AS (SELECT query_id, count(*)::BIGINT AS _n_rel FROM qr GROUP BY 1),
n_ret AS (SELECT query_id, count(*)::BIGINT AS _n_ret FROM res GROUP BY 1)
SELECT n_ret.query_id,
       round(coalesce(_mrr, 0.0), 6) AS mrr,
       round(coalesce(_dcg, 0.0) / _idcg, 6) AS ndcg,
       round(coalesce(_n_hit, 0)::DOUBLE / {k}.0, 6) AS precision,
       round(coalesce(_n_hit, 0)::DOUBLE / _n_rel::DOUBLE, 6) AS recall
FROM n_ret
JOIN n_rel USING (query_id)
JOIN ideal USING (query_id)
LEFT JOIN per_hit USING (query_id)
"""


# BPE merge training: enough merges to exercise multi-char symbol
# merges (step 6+ merges 'er </w>' at sf0.001) but cheap under the
# unrolled oracle
BPE_MERGES = 8
_BPE_DICTS: dict[str, tuple[int, object]] = {}


def _bpe_dict(spark, sf_dir):
    """Train once per (sf_dir, session); both BPE queries share it."""
    key = os.path.abspath(sf_dir)
    ent = _BPE_DICTS.get(key)
    if ent is None or ent[0] != id(spark):
        _, dic = BP.bpe_train(
            _docs_raw(spark, sf_dir), n_merges=BPE_MERGES, return_dict=True
        )
        ent = (id(spark), dic)
        _BPE_DICTS[key] = ent
    return ent[1]


def _q_bpe_merges(spark, sf_dir):
    return BP.bpe_train(_docs_raw(spark, sf_dir), n_merges=BPE_MERGES)


def _q_bpe_token_counts(spark, sf_dir):
    return BP.bpe_token_counts(_docs_raw(spark, sf_dir), _bpe_dict(spark, sf_dir))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build the disk index over sf0.001, answer a BM25
    top-10 multi-term OR query via IndexReader.search (codec + pruning
    + bounded top-k), and join doc metadata back (the Q4 registry
    semi-join analog)."""
    sf_dir = "/root/testdata/sf0.001"
    corpus = _corpus(spark, sf_dir)
    res = _indexed_reader(spark, sf_dir).search(
        TERMS_OR, P.WITH_SUGGESTIONS, k=10
    )
    return (
        res.join(corpus.select("doc_id", "repo", "path"), "doc_id")
        .select("doc_id", "repo", "path", F.round("score", 6).alias("score"), "rank")
        .orderBy("rank")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ------------------------------------------------------------------
    # ORDER MATTERS: the driver's correctness gate checks a 50-entry
    # window from the FRONT of this dict. Round 5 rotates the window
    # (VERDICT.md r4 finding #1): first the only historically-red row
    # (curation_decisions) and every query that has never had a driver
    # oracle row, then the rows whose last green gate was r03, then the
    # two whose implementation changed this round (more_like_this
    # fusion). The r04-green serving-surface rows follow after the
    # window; their latest driver status is green in CORRECTNESS_r04.
    # ------------------------------------------------------------------
    return {
        # -- gate window (50) -------------------------------------------
        # red in r03, fix never driver-verified (string projection of
        # the reasons array on both sides)
        "curation_decisions": _q_curation_decisions,
        "curation_near": _q_curation_near,
        "curation_boilerplate": _q_curation_boiler,
        # never driver-gated (landed after the r04 window filled)
        "bpe_merges": _q_bpe_merges,
        "bpe_token_counts": _q_bpe_token_counts,
        "graph_pagerank": _q_graph_pagerank,
        "cluster_kmeans": _q_cluster_kmeans,
        "sim_ivf_topk_trained": _q_sim_ivf_trained,
        "decontaminate": _q_decontaminate,
        "mix_plan": _q_mix_plan,
        "text_lm_scores": _q_text_lm_scores,
        "text_pmi_bigrams": _q_text_pmi_bigrams,
        "dedup_incremental": _q_dedup_incremental,
        "events_windowed": _q_events_windowed,
        "events_sessions": _q_events_sessions,
        "events_json_stats": _q_events_json_stats,
        "shuffle_shards": _q_shuffle_shards,
        "corpus_rollup": _q_corpus_rollup,
        "length_histogram": _q_length_histogram,
        "pack_manifest": _q_pack_manifest,
        "text_dup_spans": _q_text_dup_spans,
        "text_secret_scan": _q_text_secret_scan,
        # re-implemented this round (two-pass fusion) — re-verify
        "bm25_mlt": _q_bm25_mlt,
        "bm25_mlt_indexed": _q_bm25_mlt_indexed,
        # last green gate was r03 (pushed out of the r04 window)
        "dedup_exact": _q_dedup_exact,
        "dedup_minhash_lsh": _q_dedup_minhash_lsh,
        "dedup_ngram_jaccard": _q_dedup_ngram_jaccard,
        "dedup_simhash": _q_dedup_simhash,
        "dedup_simhash_pairs": _q_dedup_simhash_pairs,
        "dedup_clusters": _q_dedup_clusters,
        "dedup_embedding": _q_dedup_embedding,
        "dedup_embedding_ann": _q_dedup_embedding_ann,
        "sim_cosine_topk": _q_sim_cosine_topk,
        "sim_ivf_topk": _q_sim_ivf_topk,
        "text_token_counts": _q_text_token_counts,
        "vocab_coverage": _q_vocab_coverage,
        "text_quality": _q_text_quality,
        "text_repetition": _q_text_repetition,
        "text_lang_confusion": _q_text_lang_confusion,
        "text_fingerprints": _q_text_fingerprints,
        "pack_sequences": _q_pack_sequences,
        "sample_stratified": _q_sample_stratified,
        "reverse_doc_terms": _q_reverse_doc_terms,
        # NEW this round: phrase search answered from a MAINTAINED
        # positional index (delete + upsert + compact preserving plists)
        "bm25_phrase_maintained_positional": _q_bm25_phrase_maintained,
        # NEW this round: pseudo-relevance-feedback query expansion,
        # declarative + indexed under one self-contained oracle
        "bm25_prf_topk": _q_bm25_prf,
        "bm25_prf_topk_indexed": _q_bm25_prf_indexed,
        # NEW this round: compound boolean query (AND of OR-groups +
        # prohibited clause), declarative + indexed, one oracle
        "bm25_bool_topk": _q_bm25_bool,
        "bm25_bool_topk_indexed": _q_bm25_bool_indexed,
        # NEW this round: multi-field weighted search (content + path
        # boosts; indexed form composes one index per field)
        "bm25_multifield_topk": _q_bm25_multifield,
        "bm25_multifield_topk_indexed": _q_bm25_multifield_indexed,
        # -- end gate window --------------------------------------------
        "term_stats": _q_term_stats,
        "corpus_stats": _q_corpus_stats,
        "match_set_exact": _q_match_set,
        "doc_lengths_top": _q_doc_lengths_top,
        "term_prefix_expansion": _q_term_prefix_expansion,
        "media_stats": _q_media_stats,
        "media_features": _q_media_features,
        "bm25_exact_topk": _q_bm25_exact,
        "bm25_or_topk": _q_bm25_or,
        "bm25_and_topk": _q_bm25_and,
        "bm25_prefix_topk": _q_bm25_prefix,
        "bm25_contains_topk": _q_bm25_contains,
        "bm25_contains_topk_indexed": _q_bm25_contains_indexed,
        "bm25_not_topk": _q_bm25_not,
        "bm25_not_topk_indexed": _q_bm25_not_indexed,
        "bm25_filtered_topk": _q_bm25_filtered,
        "bm25_filtered_topk_indexed": _q_bm25_filtered_indexed,
        "bm25_multi_topk": _q_bm25_multi,
        "bm25_multi_topk_indexed": _q_bm25_multi_indexed,
        # disk-index-backed duplicates of the same semantics: these run
        # build_index -> IndexReader (codec, chunk/block pruning, top-k
        # heaps) under the identical oracles
        "bm25_exact_topk_indexed": _q_bm25_exact_indexed,
        "bm25_or_topk_indexed": _q_bm25_or_indexed,
        "bm25_and_topk_indexed": _q_bm25_and_indexed,
        "bm25_prefix_topk_indexed": _q_bm25_prefix_indexed,
        # cross-index segment merge: two shard builds over an
        # interleaved doc_id split, folded by merge_indexes; same
        # oracle as the monolithic OR query (merge must be invisible)
        "bm25_or_topk_merged": _q_bm25_or_merged,
        # code-payload axis: identifier-aware "code" tokenizer
        # (camelCase/snake_case subtokens, lowercased) through the
        # declarative pipeline AND a code-tokenized disk index
        "bm25_code_topk": _q_bm25_code,
        "bm25_code_topk_indexed": _q_bm25_code_indexed,
        "code_subtoken_counts": _q_code_subtoken_counts,
        # Q3 suggestion expansion in-engine (same-length levenshtein<=d
        # dictionary scan — the deterministic Hunspell analog), both
        # the declarative pipeline and the disk-index dictionary path
        "bm25_suggest_topk": _q_bm25_suggest,
        "bm25_suggest_topk_indexed": _q_bm25_suggest_indexed,
        # exact-phrase BM25: positions recomputed at query time (Q5
        # re-scan architecture); indexed form prunes candidates via
        # match_docs AND before verification
        "bm25_phrase_topk": _q_bm25_phrase,
        "bm25_phrase_topk_indexed": _q_bm25_phrase_indexed,
        "bm25_phrase_topk_positional": _q_bm25_phrase_positional,
        # search-result facet counts (Lucene faceting analog) over the
        # un-truncated match set; indexed form reads ONLY the index
        # (registry carries repo/lang — no corpus scan)
        "facet_lang": _q_facet_lang,
        "facet_lang_indexed": _q_facet_lang_indexed,
        # faceted-search drill-down: repo facets within a lang slice
        # (filter scopes the counting side only, never the match set)
        "facet_repo_filtered_indexed": _q_facet_drill_indexed,
        # diversified results: top-3 per language in ONE query (salted
        # two-phase per-group tournament over the scored match set)
        "bm25_grouped_topk": _q_bm25_grouped,
        "bm25_grouped_topk_indexed": _q_bm25_grouped_indexed,
        # hybrid retrieval: lexical recall (BM25 top-C) + semantic
        # re-rank (embedding cosine), 6-dp-rounded blend protocol
        "hybrid_topk": _q_hybrid_topk,
        "hybrid_topk_indexed": _q_hybrid_topk_indexed,
        "hybrid_rrf_topk": _q_hybrid_rrf,
        # offline ranking eval: MRR/NDCG/P/R@10 of search_many
        # rankings vs a deterministic qrels table
        "eval_ranking_metrics": _q_eval_metrics,
        # cross-document boilerplate LINE removal (cleaned text, not
        # just the curation flag)
        "strip_boilerplate": _q_strip_boilerplate,
        # per-document tf-idf keyword table (MoreLikeThis
        # interestingTerms for every doc at once)
        "doc_keywords": _q_doc_keywords,
        # exact corpus length quantiles off the value histogram (no
        # global sort at any corpus size)
        "length_quantiles": _q_length_quantiles,
        # deep pagination (Lucene searchAfter): page 2 via the page-1
        # cursor; oracle = ranks 11..20 of the full ordering
        "bm25_page2_topk": _q_bm25_page2,
        "bm25_page2_topk_indexed": _q_bm25_page2_indexed,
        # hit highlighting: top-k + first matched token position +
        # ±3-token snippet, one broadcast-semi-joined corpus pass
        "bm25_snippets": _q_bm25_snippets,
        # indexed highlighting: first_pos decoded from the positional
        # index's plists; content read only for the k window texts
        "bm25_snippets_indexed": _q_bm25_snippets_indexed,
        # un-truncated index match set (reference getValue semantics)
        "match_set_exact_indexed": _q_match_set_indexed,
        "reverse_doc_terms_indexed": _q_reverse_doc_terms_indexed,
        "term_stats_indexed": _q_term_stats_indexed,
        "term_prefix_expansion_indexed": _q_term_prefix_expansion_indexed,
        # delete + upsert + compact lifecycle, then BM25 — oracle runs
        # over the equivalently edited corpus (compaction restores df
        # exactness, so scores must match to the rounding digit)
        "bm25_or_topk_maintained": _q_bm25_maintained,
        # O4 per-(term, doc) posting delete (maintain.delete_term_postings)
        "bm25_or_topk_term_deleted": _q_bm25_term_deleted,
        "live_result_diffs": _q_live_result_diffs,
    }


def oracle_sql() -> dict[str, str]:
    terms_in = ", ".join(f"'{t}'" for t in TERMS_STATS)
    d = {
        "bm25_exact_topk": _bm25_oracle(TERMS_EXACT, P.EXACT_MATCH),
        "bm25_or_topk": _bm25_oracle(TERMS_OR, P.WITH_SUGGESTIONS),
        "bm25_and_topk": _bm25_oracle(TERMS_AND, P.AND_MATCH),
        "bm25_prefix_topk": _bm25_oracle(TERMS_PREFIX, P.START_WITH),
        "bm25_contains_topk": _bm25_oracle(TERMS_CONTAINS, P.CONTAINS_MATCH),
        "bm25_not_topk": _bm25_oracle(
            TERMS_OR, P.WITH_SUGGESTIONS, exclude_terms=TERMS_NOT
        ),
        "bm25_not_topk_indexed": _bm25_oracle(
            TERMS_OR, P.WITH_SUGGESTIONS, exclude_terms=TERMS_NOT
        ),
        "bm25_contains_topk_indexed": _bm25_oracle(
            TERMS_CONTAINS, P.CONTAINS_MATCH
        ),
        "bm25_filtered_topk": _bm25_oracle(
            TERMS_OR, P.WITH_SUGGESTIONS, doc_where=FILTER_DUCK
        ),
        "bm25_filtered_topk_indexed": _bm25_oracle(
            TERMS_OR, P.WITH_SUGGESTIONS, doc_where=FILTER_DUCK
        ),
        "bm25_multi_topk": _bm25_multi_oracle(MULTI_QUERIES),
        "bm25_multi_topk_indexed": _bm25_multi_oracle(MULTI_QUERIES),
        # identical oracles for the disk-index-backed variants
        "bm25_exact_topk_indexed": _bm25_oracle(TERMS_EXACT, P.EXACT_MATCH),
        "bm25_or_topk_indexed": _bm25_oracle(TERMS_OR, P.WITH_SUGGESTIONS),
        "bm25_and_topk_indexed": _bm25_oracle(TERMS_AND, P.AND_MATCH),
        "bm25_prefix_topk_indexed": _bm25_oracle(TERMS_PREFIX, P.START_WITH),
        "bm25_or_topk_merged": _bm25_oracle(TERMS_OR, P.WITH_SUGGESTIONS),
        "facet_lang": _facet_oracle(TERMS_OR, P.WITH_SUGGESTIONS),
        "facet_repo_filtered_indexed": _facet_oracle(
            TERMS_OR, P.WITH_SUGGESTIONS, facet="repo",
            facet_select="source AS repo",
            doc_where="lang IN ('de', 'fr')",
        ),
        "bm25_grouped_topk": _grouped_oracle(TERMS_OR, P.WITH_SUGGESTIONS),
        "bm25_grouped_topk_indexed": _grouped_oracle(TERMS_OR, P.WITH_SUGGESTIONS),
        "hybrid_topk": _hybrid_oracle(
            TERMS_OR, P.WITH_SUGGESTIONS, HYBRID_QVEC,
            c=HYBRID_C, alpha=HYBRID_ALPHA,
        ),
        "hybrid_topk_indexed": _hybrid_oracle(
            TERMS_OR, P.WITH_SUGGESTIONS, HYBRID_QVEC,
            c=HYBRID_C, alpha=HYBRID_ALPHA,
        ),
        "hybrid_rrf_topk": _hybrid_rrf_oracle(
            TERMS_OR, P.WITH_SUGGESTIONS, HYBRID_QVEC, c=HYBRID_C
        ),
        "eval_ranking_metrics": _eval_oracle(MULTI_QUERIES, k=EVAL_K),
        "strip_boilerplate": TX.strip_boilerplate_lines_sql(
            max_line_df=2, text_expr=_BP_TEXT_DUCK
        ),
        "doc_keywords": P.keywords_per_doc_sql(_TOKS_DUCK, m=5, min_df=2),
        "length_quantiles": TX.length_quantiles_sql(),
        "bm25_page2_topk": _bm25_oracle(
            TERMS_OR, P.WITH_SUGGESTIONS, page_offset=10
        ),
        "bm25_page2_topk_indexed": _bm25_oracle(
            TERMS_OR, P.WITH_SUGGESTIONS, page_offset=10
        ),
        "facet_lang_indexed": _facet_oracle(TERMS_OR, P.WITH_SUGGESTIONS),
        "bm25_snippets": _snippet_oracle(TERMS_OR, P.WITH_SUGGESTIONS),
        "bm25_snippets_indexed": _snippet_oracle(TERMS_OR, P.WITH_SUGGESTIONS),
        "bm25_code_topk": _bm25_oracle(
            TERMS_CODE, P.WITH_SUGGESTIONS,
            toks=_CODE_TOKS_DUCK, text_expr=_CODE_TEXT_DUCK,
        ),
        "bm25_code_topk_indexed": _bm25_oracle(
            TERMS_CODE, P.WITH_SUGGESTIONS,
            toks=_CODE_TOKS_DUCK, text_expr=_CODE_TEXT_DUCK,
        ),
        "code_subtoken_counts": f"""
SELECT doc_id::BIGINT AS doc_id,
       len(arr)::BIGINT AS n_subtokens,
       len(list_distinct(arr))::BIGINT AS n_distinct
FROM (SELECT doc_id, {_CODE_TOKS_DUCK} AS arr
      FROM (SELECT doc_id, {_CODE_TEXT_DUCK} AS text FROM documents))
""",
        "bm25_suggest_topk": _bm25_suggest_oracle(
            TERMS_SUGGEST, SUGGEST_MAX_DIST
        ),
        "bm25_suggest_topk_indexed": _bm25_suggest_oracle(
            TERMS_SUGGEST, SUGGEST_MAX_DIST
        ),
        "bm25_mlt": _mlt_oracle(MLT_SRC, MLT_M_TERMS),
        "bm25_mlt_indexed": _mlt_oracle(MLT_SRC, MLT_M_TERMS),
        "bm25_phrase_topk": _bm25_phrase_oracle(PHRASE),
        "bm25_phrase_topk_indexed": _bm25_phrase_oracle(PHRASE),
        "bm25_phrase_topk_positional": _bm25_phrase_oracle(PHRASE),
        "bm25_phrase_maintained_positional": _bm25_phrase_maintained_oracle(),
        "bm25_prf_topk": _bm25_prf_oracle(TERMS_OR),
        "bm25_prf_topk_indexed": _bm25_prf_oracle(TERMS_OR),
        "bm25_bool_topk": _bm25_bool_oracle(BOOL_MUST, BOOL_NOT),
        "bm25_bool_topk_indexed": _bm25_bool_oracle(BOOL_MUST, BOOL_NOT),
        "bm25_multifield_topk": _bm25_multifield_oracle(MF_TERMS, MF_WEIGHTS),
        "bm25_multifield_topk_indexed": _bm25_multifield_oracle(MF_TERMS, MF_WEIGHTS),
        "bm25_or_topk_maintained": _bm25_maintained_oracle(),
        "bm25_or_topk_term_deleted": _bm25_term_deleted_oracle(),
        "live_result_diffs": _live_diff_oracle(),
        "term_stats": f"""
WITH toks AS (SELECT doc_id, unnest({_TOKS_DUCK}) AS term
              FROM (SELECT doc_id, coalesce(text,'') AS text FROM documents)),
tf AS (SELECT term, doc_id, count(*) AS tf FROM toks
       WHERE term IN ({terms_in}) GROUP BY 1, 2)
SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf FROM tf GROUP BY term
""",
        "corpus_stats": f"""
WITH dl AS (SELECT doc_id, len({_TOKS_DUCK})::BIGINT AS dl
            FROM (SELECT doc_id, coalesce(text,'') AS text FROM documents)),
toks AS (SELECT doc_id, unnest({_TOKS_DUCK}) AS term
         FROM (SELECT doc_id, coalesce(text,'') AS text FROM documents))
SELECT (SELECT count(*) FROM dl)::BIGINT AS n_docs,
       (SELECT round(avg(dl), 6) FROM dl) AS avgdl,
       (SELECT sum(dl) FROM dl)::BIGINT AS total_tokens,
       (SELECT count(DISTINCT term) FROM toks)::BIGINT AS vocab_size
""",
        "match_set_exact": f"""
SELECT DISTINCT doc_id::BIGINT AS doc_id
FROM (SELECT doc_id, unnest({_TOKS_DUCK}) AS term
      FROM (SELECT doc_id, coalesce(text,'') AS text FROM documents))
WHERE term = 'vector'
""",
        "doc_lengths_top": f"""
SELECT doc_id::BIGINT AS doc_id, len({_TOKS_DUCK})::BIGINT AS dl
FROM (SELECT doc_id, coalesce(text,'') AS text FROM documents)
ORDER BY dl DESC, doc_id ASC LIMIT 20
""",
        "reverse_doc_terms": f"""
SELECT term, count(*)::BIGINT AS tf
FROM (SELECT doc_id, unnest({_TOKS_DUCK}) AS term
      FROM (SELECT doc_id, coalesce(text,'') AS text FROM documents))
WHERE doc_id = {REVERSE_DOC_ID}
GROUP BY term
""",
        "term_prefix_expansion": f"""
WITH tf AS (
  SELECT term, doc_id, count(*) AS tf
  FROM (SELECT doc_id, unnest({_TOKS_DUCK}) AS term
        FROM (SELECT doc_id, coalesce(text,'') AS text FROM documents))
  WHERE term LIKE 'sc%' GROUP BY 1, 2)
SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf
FROM tf GROUP BY term
""",
        "text_token_counts": TX.token_counts_sql(),
        "vocab_coverage": TX.vocab_coverage_sql(),
        "curation_decisions": (
            # string-projected to match _q_curation_decisions (the driver
            # canonicalizer can't hash ARRAY cells); order inside reasons
            # is already deterministic on both engines
            # DuckDB yields NULL for the empty array; Spark's array_join
            # yields '' — coalesce so keep-rows agree
            "SELECT doc_id, keep, "
            "coalesce(array_to_string(reasons, '|'), '') AS reasons "
            f"FROM ({CU.curation_decisions_sql()})"
        ),
        "curation_near": (
            "SELECT doc_id, keep, "
            "coalesce(array_to_string(reasons, '|'), '') AS reasons "
            f"FROM ({CU.curation_decisions_sql(near_dup=True)})"
        ),
        "curation_boilerplate": (
            "SELECT doc_id, keep, "
            "coalesce(array_to_string(reasons, '|'), '') AS reasons "
            f"FROM ({CU.curation_decisions_sql(max_dup_share=0.35, drop_secrets=True)})"
        ),
        "text_quality": TX.quality_scores_sql(),
        "text_repetition": TX.repetition_scores_sql(),
        "text_dup_spans": TX.duplicated_ngram_shares_sql(),
        "decontaminate": DX.decontaminate_sql(n=3),
        "mix_plan": MX.mix_plan_sql(),
        "text_secret_scan": TX.secret_scan_sql(text_expr=_SECRET_TEXT_DUCK),
        "pack_sequences": SA.pack_sequences_sql(),
        "pack_manifest": SA.pack_manifest_sql(),
        "length_histogram": TX.length_histogram_sql(),
        "corpus_rollup": TX.corpus_rollup_sql(),
        "sample_stratified": SA.sample_stratified_sql(),
        "shuffle_shards": SA.shuffle_shards_sql(n_shards=8, seed=7),
        "bpe_merges": BP.bpe_train_sql(BPE_MERGES, _TOKS_DUCK, "merges"),
        "bpe_token_counts": BP.bpe_train_sql(BPE_MERGES, _TOKS_DUCK, "counts"),
        "text_lang_confusion": TX.lang_confusion_sql(),
        "text_fingerprints": TX.fingerprints_sql(),
        "text_lm_scores": LM.lm_scores_sql(),
        "text_pmi_bigrams": LM.pmi_bigrams_sql(),
        "dedup_exact": DD.exact_dup_groups_sql(),
        "dedup_minhash_lsh": DD.minhash_near_dup_sql(),
        "dedup_incremental": DD.minhash_near_dup_incremental_sql(
            "{id} % 5 = 0"
        ),
        "dedup_ngram_jaccard": DD.ngram_jaccard_pairs_sql(
            max_shingle_df=DD.MAX_SHINGLE_DF
        ),
        "dedup_simhash": DD.simhash_sql(),
        "dedup_simhash_pairs": DD.simhash_near_dup_sql(),
        "dedup_clusters": DD.dup_clusters_sql(),
        "graph_pagerank": GR.pagerank_cte(
            "SELECT doc_a AS src, doc_b AS dst FROM "
            f"({DD.minhash_near_dup_sql()}) q",
            "SELECT doc_id AS id FROM documents",
            symmetric=True,
        ),
        "dedup_embedding": DD.embedding_near_dup_sql(),
        "dedup_embedding_ann": DD.embedding_near_dup_ann_sql(),
        "sim_cosine_topk": SIM.cosine_topk_sql(SIM_QUERY_IDS),
        "sim_ivf_topk": SIM.ivf_topk_sql(SIM_QUERY_IDS),
        "cluster_kmeans": CL.kmeans_assignments_sql(),
        "sim_ivf_topk_trained": SIM.ivf_topk_sql(
            SIM_QUERY_IDS, centroid_cte=CL.kmeans_centroid_cte()
        ),
        "events_windowed": EV.windowed_counts_sql(),
        "events_sessions": EV.sessionize_sql(),
        "events_json_stats": EV.json_prop_stats_sql(),
        "media_stats": MM.media_stats_sql(),
        "media_features": MM.media_features_summary_sql(),
    }
    # the indexed variants answer the same questions -> same oracles
    d["match_set_exact_indexed"] = d["match_set_exact"]
    d["reverse_doc_terms_indexed"] = d["reverse_doc_terms"]
    d["term_stats_indexed"] = d["term_stats"]
    d["term_prefix_expansion_indexed"] = d["term_prefix_expansion"]
    return d
