"""The one constructor for driver-bounded DataFrames.

The query paths hold their top-k results, bounded term metadata and
query maps in driver memory; :func:`literal_frame` turns such rows (or
none, for a typed empty result) back into a DataFrame that costs no
Spark job.
"""

from __future__ import annotations

import math
from typing import Iterable, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession

# (name, type) field lists shared by the result-returning paths
RESULT_FIELDS = [("doc_id", "long"), ("score", "double"), ("rank", "int")]

_SQL_TYPES = {"string": "STRING", "double": "DOUBLE", "long": "BIGINT", "int": "INT"}


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _cell(v, sql_type: str) -> str:
    if v is None:
        return f"CAST(NULL AS {sql_type})"
    if sql_type == "DOUBLE":
        f = float(v)
        if math.isnan(f):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(f):
            return "CAST('Infinity' AS DOUBLE)" if f > 0 else "CAST('-Infinity' AS DOUBLE)"
        return repr(f) + "D"
    if sql_type == "STRING":
        return f"CAST(X'{str(v).encode('utf-8').hex()}' AS STRING)"
    return f"{int(v)}L" if sql_type == "BIGINT" else str(int(v))


def literal_frame(
    spark: SparkSession,
    rows: Iterable[Sequence],
    fields: Sequence[Tuple[str, str]],
) -> DataFrame:
    """Driver-bounded rows -> DataFrame as ONE ``LocalRelation``:
    zero Spark jobs when collected, no codegen, no Python-RDD
    parallelize. ``fields`` is ``[(name, type), ...]`` with type one of
    string / double / long / int.

    The rows render as ``SELECT * FROM VALUES (…), … AS t(`name`,
    …)`` with typed literals, so each column's type is its literals'
    type and Spark parses no per-column cast; the empty case is
    ``SELECT CAST(NULL AS T) AS `name`, … WHERE false`` with the same
    schema. Literal rules:

    * doubles — ``repr(float(v)) + "D"``, Python's shortest round-trip
      form, which Java's ``parseDouble`` reads back to the identical
      bits; NaN / ±Infinity as ``CAST('NaN' AS DOUBLE)`` and the like;
    * longs — ``nL``; ints — a plain ``n``; ``None`` in any column is
      a typed ``CAST(NULL AS T)``;
    * strings are query input and are NEVER spliced in as quoted text:
      each renders as its UTF-8 hex, ``CAST(X'…' AS STRING)`` —
      injection-proof by construction;
    * column names are backtick-quoted with inner backticks doubled
      (``search_grouped`` passes a caller-chosen group column).

    Driver-bounded rows only (top-k results, bounded metadata, query
    maps): the whole row set is parsed as one SQL text. Frames that
    can grow with the corpus stay distributed.

    Rule: every typed empty frame and every literal-row plan in
    ``spark_search/`` comes from here. ``createDataFrame([], …)`` (a
    Spark job to collect an empty frame) and ``F.inline(...)`` literal
    plans (codegen + a job) fail a source-scanning test anywhere else
    in the package."""
    types = [_SQL_TYPES[t] for _, t in fields]
    names = [_quote(n) for n, _ in fields]
    rows = list(rows)
    if not rows:
        cols = ", ".join(f"CAST(NULL AS {t}) AS {n}" for n, t in zip(names, types))
        return spark.sql(f"SELECT {cols} WHERE false")
    values = ", ".join(
        "(" + ", ".join(_cell(v, t) for v, t in zip(row, types)) + ")"
        for row in rows
    )
    return spark.sql(f"SELECT * FROM VALUES {values} AS t({', '.join(names)})")
