"""spark-submit entry point (north_rule: "runs via spark-submit
--py-files on a multi-executor cluster").

The package has no hidden driver state — every operation is a function
of (SparkSession, paths, arguments) — so cluster deployment is:

    cd /root/repo && zip -qr /tmp/spark_search.zip spark_search
    spark-submit --master <cluster> --py-files /tmp/spark_search.zip \
        job.py build --corpus <parquet_dir> --index <index_dir>
    spark-submit ... job.py search --index <dir> --terms data,join --mode OR
    spark-submit ... job.py phrase --index <dir> --corpus <dir> --terms table,hash
    spark-submit ... job.py build --corpus <dir> --index <dir> --positions
    spark-submit ... job.py phrase --index <dir> --terms table,hash  # positional
    spark-submit ... job.py suggest --index <dir> --terms part --max-dist 2
    spark-submit ... job.py merge --indexes <idx1>,<idx2> --out <dir>
    spark-submit ... job.py search --index <dir> --terms data --filter "lang='en'"
    spark-submit ... job.py search-many --index <dir> \
        --queries '{"q1": ["data", "join"], "q2": ["spark"]}'
    spark-submit ... job.py facets --index <dir> --terms data,join --facet lang
    spark-submit ... job.py grouped --index <dir> --terms data,join --group repo
    spark-submit ... job.py shuffle --corpus <dir> --out <dir> --shards 1024
    spark-submit ... job.py bpe-train --corpus <dir> --merges 64

``job.py`` (repo root) is the submittable driver file; it only calls
``spark_search.cli.main``. On a real cluster the session comes from
spark-submit's conf (master/executors/memory); ``--cpus`` exists for
local smoke runs only.

Output: one JSON line per command on stdout (machine-readable; row
payloads capped at --limit), everything else on stderr.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _session(args):
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName(f"spark_search_{args.cmd}")
    if args.cpus:  # local smoke-run convenience; a cluster conf wins
        b = b.master(f"local[{args.cpus}]").config(
            "spark.sql.shuffle.partitions", str(max(int(args.cpus), 8))
        )
    spark = b.config("spark.sql.adaptive.enabled", "true").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


_MODES = {"EXACT": "EXACT_MATCH", "PREFIX": "START_WITH",
          "OR": "WITH_SUGGESTIONS", "AND": "AND_MATCH"}


def _load_corpus(spark, value):
    """--corpus accepts a parquet path or ``table:<name>`` — the latter
    resolves through the session catalog (the production Iceberg path,
    corpus.load_corpus_table)."""
    if value.startswith("table:"):
        from .corpus import load_corpus_table

        return load_corpus_table(spark, value[len("table:"):])
    return spark.read.parquet(value)


def _emit(obj) -> None:
    print(json.dumps(obj), flush=True)


def _rows(df, limit: int):
    return [r.asDict() for r in df.limit(limit).collect()]


def _field_index_spec(spec: str):
    """``NAME=DIR:WEIGHT`` -> (name, dir, weight), or ValueError. The
    weight splits off the LAST ':' and only when that suffix is a
    number, so URI dirs (``s3a://bucket/idx:2.0``) keep their scheme;
    a spec without a numeric weight is rejected, never defaulted."""
    name, eq, rest = spec.partition("=")
    if not eq or not name or not rest:
        raise ValueError(f"expected NAME=DIR:WEIGHT, got {spec!r}")
    fdir, colon, fw = rest.rpartition(":")
    try:
        weight = float(fw) if colon and fdir else None
    except ValueError:
        weight = None
    if weight is None:
        raise ValueError(f"missing :WEIGHT after the index dir in {spec!r}")
    return name, fdir, weight


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="spark_search")
    p.add_argument("--cpus", default=None,
                   help="local[N] smoke runs; omit under a cluster master")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build a disk index from a corpus table")
    b.add_argument("--corpus", required=True,
                   help="parquet dir with (repo,path,commit,lang,content), "
                        "or table:<name> for a catalog (Iceberg) table")
    b.add_argument("--index", required=True)
    b.add_argument("--tokenizer", default="standard")
    b.add_argument("--positions", action="store_true",
                   help="store per-(term,doc) token positions so "
                        "`phrase` runs without --corpus")

    s = sub.add_parser("search", help="BM25 top-k on a committed index")
    s.add_argument("--index", required=True)
    s.add_argument("--terms", required=True, help="comma-separated")
    s.add_argument("--mode", default="EXACT", choices=sorted(_MODES))
    s.add_argument("--k", type=int, default=10)
    s.add_argument("--filter", default=None,
                   help="SQL predicate over registry columns "
                        "(repo/path/commit/lang); membership only, "
                        "scores stay corpus-global")
    s.add_argument("--limit", type=int, default=100)

    sm = sub.add_parser(
        "search-many",
        help="batched BM25: a whole query set in one job "
             "(one postings scan for the union of all terms)",
    )
    sm.add_argument("--index", required=True)
    sm.add_argument("--queries", default=None,
                    help="inline JSON: {\"q1\": [\"t1\", \"t2\"], ...} "
                         "or [[\"t1\"], [\"t2\", \"t3\"]]")
    sm.add_argument("--queries-file", default=None,
                    help="path to a JSON file with the same shape")
    sm.add_argument("--mode", default="OR", choices=sorted(_MODES))
    sm.add_argument("--k", type=int, default=10)
    sm.add_argument("--filter", default=None,
                    help="SQL predicate applied to every query")
    sm.add_argument("--limit", type=int, default=1000)

    g = sub.add_parser("suggest", help="dictionary-expanded OR search")
    g.add_argument("--index", required=True)
    g.add_argument("--terms", required=True)
    g.add_argument("--max-dist", type=int, default=1)
    g.add_argument("--k", type=int, default=10)
    g.add_argument("--filter", default=None,
                   help="SQL predicate over registry columns")
    g.add_argument("--limit", type=int, default=100)

    mf = sub.add_parser(
        "multifield",
        help="multi-field weighted search: content index + a second "
             "index built over another field (e.g. path), per-field "
             "BM25 with boosts",
    )
    mf.add_argument("--index", required=True, help="content-field index")
    mf.add_argument("--field-index", required=True,
                    help="NAME=DIR:WEIGHT for the second field, "
                         "e.g. path=/idx/path:2.0")
    mf.add_argument("--weight", type=float, default=1.0,
                    help="weight of the content field")
    mf.add_argument("--terms", required=True, help="comma-separated")
    mf.add_argument("--k", type=int, default=10)
    mf.add_argument("--limit", type=int, default=100)

    bq = sub.add_parser(
        "bool",
        help="compound boolean query: (a OR b) AND (c OR d) AND NOT e",
    )
    bq.add_argument("--index", required=True)
    bq.add_argument("--must", required=True,
                    help="semicolon-separated OR-groups of comma-"
                         "separated terms, e.g. 'data,join;merge,table'")
    bq.add_argument("--must-not", default=None,
                    help="comma-separated prohibited terms")
    bq.add_argument("--k", type=int, default=10)
    bq.add_argument("--filter", default=None,
                    help="SQL predicate over registry columns")
    bq.add_argument("--limit", type=int, default=100)

    pr = sub.add_parser(
        "prf",
        help="pseudo-relevance-feedback search: expand the query with "
             "the top feedback docs' strongest terms, re-score",
    )
    pr.add_argument("--index", required=True)
    pr.add_argument("--terms", required=True, help="comma-separated")
    pr.add_argument("--k", type=int, default=10)
    pr.add_argument("--fb-docs", type=int, default=5)
    pr.add_argument("--fb-terms", type=int, default=5)
    pr.add_argument("--min-df", type=int, default=2)
    pr.add_argument("--filter", default=None,
                    help="SQL predicate over registry columns")
    pr.add_argument("--limit", type=int, default=100)

    m = sub.add_parser(
        "merge",
        help="fold independently-built shard indexes into one canonical "
             "index (no content re-read; sources need disjoint doc ids)",
    )
    m.add_argument("--indexes", required=True,
                   help="comma-separated committed index dirs")
    m.add_argument("--out", required=True)
    m.add_argument("--no-validate", action="store_true",
                   help="skip the doc-id disjointness proof (only when "
                        "the shard id discipline is enforced upstream)")

    f = sub.add_parser("phrase", help="exact-phrase BM25 (index + verify)")
    f.add_argument("--index", required=True)
    f.add_argument("--corpus", default=None,
                   help="corpus table for adjacency verification "
                        "(omit for an index built with --positions)")
    f.add_argument("--terms", required=True, help="phrase, comma-separated")
    f.add_argument("--k", type=int, default=10)
    f.add_argument("--filter", default=None,
                   help="SQL predicate over registry columns")
    f.add_argument("--limit", type=int, default=100)

    fc = sub.add_parser(
        "facets",
        help="facet counts (docs per lang/repo/...) over the "
             "un-truncated match set, straight off the index",
    )
    fc.add_argument("--index", required=True)
    fc.add_argument("--terms", required=True, help="comma-separated")
    fc.add_argument("--mode", default="OR", choices=sorted(_MODES))
    fc.add_argument("--facet", default="lang",
                    help="registry column: repo/path/commit/lang")
    fc.add_argument("--top-n", type=int, default=None)
    fc.add_argument("--filter", default=None,
                    help="SQL predicate over registry columns — facet "
                         "drill-down: counts scoped to the slice, the "
                         "match set itself is never filtered")
    fc.add_argument("--limit", type=int, default=100)

    gr = sub.add_parser(
        "grouped",
        help="diversified results: BM25 top-k within every value of a "
             "registry column, one query",
    )
    gr.add_argument("--index", required=True)
    gr.add_argument("--terms", required=True, help="comma-separated")
    gr.add_argument("--mode", default="OR", choices=sorted(_MODES))
    gr.add_argument("--k", type=int, default=5)
    gr.add_argument("--group", default="lang",
                    help="registry column: repo/path/commit/lang")
    gr.add_argument("--filter", default=None,
                    help="SQL predicate over registry columns")
    gr.add_argument("--limit", type=int, default=100)

    sh = sub.add_parser(
        "shuffle",
        help="seeded deterministic epoch shuffle -> shard=N/ parquet "
             "runs in position order",
    )
    sh.add_argument("--corpus", required=True,
                    help="parquet dir or table:<name> (needs doc_id, "
                         "or ids are assigned as in build)")
    sh.add_argument("--out", required=True)
    sh.add_argument("--shards", type=int, default=64)
    sh.add_argument("--seed", type=int, default=0)
    sh.add_argument("--text-col", default="content")

    bp = sub.add_parser(
        "bpe-train",
        help="learn byte-pair-encoding merges from the corpus "
             "(one corpus pass + dictionary-sized iterations)",
    )
    bp.add_argument("--corpus", required=True)
    bp.add_argument("--merges", type=int, default=16)
    bp.add_argument("--min-count", type=int, default=2)
    bp.add_argument("--tokenizer", default="standard")
    bp.add_argument("--text-col", default="content")
    bp.add_argument("--limit", type=int, default=1000)

    args = p.parse_args(argv)
    # pure-argparse validation BEFORE paying Spark startup
    if getattr(args, "k", 0) < 0:
        p.error(f"--k must be >= 0, got {args.k}")
    if args.cmd == "search-many" and (
        (args.queries is None) == (args.queries_file is None)
    ):
        p.error("search-many needs exactly one of --queries / --queries-file")
    qset = None
    if args.cmd == "search-many":
        # parse + normalize the query set NOW: a malformed JSON string,
        # a missing file, or an invalid shape must fail before paying
        # Spark session startup and the index open
        from .pipeline import normalize_queries

        try:
            if args.queries_file:
                with open(args.queries_file) as fh:
                    qset = json.load(fh)
            else:
                qset = json.loads(args.queries)
            normalize_queries(qset)
        except (OSError, ValueError, TypeError) as exc:
            p.error(f"search-many: bad query set: {exc}")
    field_index = None
    if args.cmd == "multifield":
        try:
            field_index = _field_index_spec(args.field_index)
        except ValueError as exc:
            p.error(f"--field-index: {exc}")
    spark = _session(args)
    t0 = time.time()

    if args.cmd == "build":
        from .build import build_index
        from .checkpoint import FORMAT_VERSION
        from .ids import with_doc_ids

        corpus = _load_corpus(spark, args.corpus)
        if "doc_id" not in corpus.columns:
            corpus = with_doc_ids(corpus)
        n = corpus.count()
        build_index(spark, corpus, args.index, tokenizer=args.tokenizer,
                    positions=args.positions)
        wall = time.time() - t0
        _emit({
            "cmd": "build", "index": args.index, "n_files": n,
            "wall_sec": round(wall, 3),
            "files_per_sec": round(n / wall, 1) if wall else None,
            "format_version": FORMAT_VERSION,
        })
        return 0

    if args.cmd == "merge":
        from .merge import merge_indexes

        dirs = [d for d in args.indexes.split(",") if d]
        man = merge_indexes(
            spark, dirs, args.out, validate=not args.no_validate
        )
        _emit({
            "cmd": "merge", "out": args.out, "sources": dirs,
            "n_docs": man.stats.get("n_docs"),
            "n_terms": man.stats.get("n_terms"),
            "wall_sec": round(time.time() - t0, 3),
        })
        return 0

    if args.cmd == "shuffle":
        from .ids import with_doc_ids
        from .sampling import write_shuffled

        corpus = _load_corpus(spark, args.corpus)
        if "doc_id" not in corpus.columns:
            corpus = with_doc_ids(corpus)
        n = write_shuffled(
            corpus, args.out, n_shards=args.shards, seed=args.seed,
            text_col=args.text_col,
        )
        _emit({
            "cmd": "shuffle", "out": args.out, "n_rows": n,
            "n_shards": args.shards, "seed": args.seed,
            "wall_sec": round(time.time() - t0, 3),
        })
        return 0

    if args.cmd == "bpe-train":
        from .bpe import bpe_train

        corpus = _load_corpus(spark, args.corpus)
        merges = bpe_train(
            corpus, n_merges=args.merges, min_count=args.min_count,
            text_col=args.text_col, tokenizer=args.tokenizer,
        )
        rows = _rows(merges.orderBy("step"), args.limit)
        _emit({
            "cmd": "bpe-train", "n_merges": len(rows),
            "wall_sec": round(time.time() - t0, 3), "rows": rows,
        })
        return 0

    from .query import IndexReader

    rd = IndexReader(spark, args.index)
    if args.cmd == "search-many":
        res = rd.search_many(
            qset, _MODES[args.mode], k=args.k, doc_filter=args.filter
        )
        rows = _rows(res.orderBy("query_id", "rank"), args.limit)
        _emit({
            "cmd": "search-many", "n_queries": len(qset), "k": args.k,
            "wall_sec": round(time.time() - t0, 3), "rows": rows,
        })
        return 0

    if args.cmd == "multifield":
        from .query import IndexReader, search_multifield

        name, fdir, fw = field_index
        readers = {
            "content": (rd, float(args.weight)),
            name: (IndexReader(spark, fdir), fw),
        }
        terms = [t for t in args.terms.split(",") if t]
        res = search_multifield(readers, terms, k=args.k)
        rows = _rows(res, args.limit)
        _emit({
            "cmd": "multifield", "terms": terms,
            "fields": {n: w for n, (_, w) in readers.items()},
            "k": args.k,
            "wall_sec": round(time.time() - t0, 3), "rows": rows,
        })
        return 0
    if args.cmd == "bool":
        must = [
            [t for t in grp.split(",") if t]
            for grp in args.must.split(";")
            if grp.strip()
        ]
        must_not = (
            [t for t in args.must_not.split(",") if t]
            if args.must_not
            else None
        )
        res = rd.search_bool(
            must, must_not, k=args.k, doc_filter=args.filter
        )
        rows = _rows(res, args.limit)
        _emit({
            "cmd": "bool", "must": must, "must_not": must_not,
            "k": args.k,
            "wall_sec": round(time.time() - t0, 3), "rows": rows,
        })
        return 0

    terms = [t for t in args.terms.split(",") if t]
    if args.cmd == "facets":
        res = rd.search_facets(
            terms, _MODES[args.mode], facet=args.facet, top_n=args.top_n,
            doc_filter=args.filter,
        )
        rows = _rows(res, args.limit)
        _emit({
            "cmd": "facets", "terms": terms, "facet": args.facet,
            "wall_sec": round(time.time() - t0, 3), "rows": rows,
        })
        return 0
    if args.cmd == "grouped":
        res = rd.search_grouped(
            terms, _MODES[args.mode], k=args.k, group=args.group,
            doc_filter=args.filter,
        )
        rows = _rows(res.orderBy(args.group, "rank"), args.limit)
        _emit({
            "cmd": "grouped", "terms": terms, "group": args.group,
            "k": args.k,
            "wall_sec": round(time.time() - t0, 3), "rows": rows,
        })
        return 0
    if args.cmd == "search":
        res = rd.search(
            terms, _MODES[args.mode], k=args.k, doc_filter=args.filter
        )
    elif args.cmd == "suggest":
        res = rd.search_suggest(
            terms, max_dist=args.max_dist, k=args.k, doc_filter=args.filter
        )
    elif args.cmd == "prf":
        res = rd.search_prf(
            terms, k=args.k, fb_docs=args.fb_docs, fb_terms=args.fb_terms,
            min_df=args.min_df, doc_filter=args.filter,
        )
    else:  # phrase
        corpus = (
            _load_corpus(spark, args.corpus) if args.corpus else None
        )
        res = rd.search_phrase(terms, corpus, k=args.k, doc_filter=args.filter)
    rows = _rows(res, args.limit)
    _emit({
        "cmd": args.cmd, "terms": terms, "k": args.k,
        "wall_sec": round(time.time() - t0, 3), "rows": rows,
    })
    return 0


if __name__ == "__main__":
    sys.exit(main())
