"""spark_search — a PySpark-native inverted-index + BM25 query engine.

A from-scratch, Spark-first re-expression of the capabilities of
mmazurkevich/search-engine (reference at /root/reference): distributed
inverted-index build (tokenize -> term/doc tf aggregation -> doc-range
chunked, delta+varint block-encoded posting lists) and BM25 top-k query
over a source-code corpus table
(repo, path, commit, lang, content).

Design notes (scale-first):
  * Everything is DataFrame/SQL + Arrow-vectorized pandas UDFs; no
    per-row Python in any hot path.
  * The reference's single-threaded radix-tree apply loop
    (reference: engine/src/main/java/org/search/engine/index/
    IndexationSchedulerTask.java:34-63) is replaced by Spark's
    partial+final hash aggregation plus doc-range chunking, which
    bounds the work of any single reducer regardless of term skew.
  * The index is immutable term-bucketed Parquet segments plus a JSON
    manifest (corpus stats + per-partition lineage) — the Spark analog
    of the reference's FST snapshot files
    (reference: SearchEngineInitializer.java:317-339).
"""

__version__ = "0.1.0"
