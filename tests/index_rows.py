"""Row-level views of an index's sub-dirs, for content-identity tests:
two indexes whose rows compare equal here are indistinguishable to
every reader (block bytes and position lists included)."""

import os


def rows(spark, d, sub, order):
    """Every row of ``d``'s ``sub`` dir as a tuple of its sorted
    columns, ordered by ``order``; binary values become ``bytes``."""
    df = spark.read.parquet(os.path.join(d, sub))
    return [
        tuple(
            bytes(v) if isinstance(v, (bytes, bytearray)) else v
            for v in r
        )
        for r in df.orderBy(*order).select(sorted(df.columns)).collect()
    ]


def postings_rows(spark, d):
    """Postings rows with blocks — and, on positional indexes, plists —
    flattened to comparable tuples, so 'content-identical' covers the
    position lists a merge or rewrite reconstructs by hand."""
    df = spark.read.parquet(os.path.join(d, "postings"))
    cols = ["bucket", "term", "chunk", "n_docs", "sum_tf", "max_tf"]
    has_plists = "plists" in df.columns
    out = []
    for r in df.orderBy("bucket", "term", "chunk").collect():
        blocks = tuple(
            (
                b["first_doc"], b["last_doc"], b["n"], b["max_tf"],
                bytes(b["deltas"]), bytes(b["tfs"]),
            )
            for b in r["blocks"]
        )
        row = tuple(r[c] for c in cols) + (blocks,)
        if has_plists:
            row += (
                tuple(
                    (p["doc_id"], bytes(p["poss"]))
                    for p in (r["plists"] or [])
                ),
            )
        out.append(row)
    return out
