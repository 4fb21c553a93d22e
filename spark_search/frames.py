"""The one constructor for driver-bounded DataFrames.

The query paths hold their top-k results, bounded term metadata and
query maps in driver memory; :func:`literal_frame` turns such rows (or
none, for a typed empty result) back into a DataFrame that costs no
Spark job.

The frame keeps its rows on the driver. Its JVM ``LocalRelation`` is
built from them on first JVM use (a join, union, ``orderBy``, ``count``,
``show``, ``toPandas``, ``cache`` …), so a caller that only reads the
rows back — ``collect``, ``limit``/``take``/``head``/``first`` and
``schema`` — sends nothing to the JVM at all. The driver-side schema is
the one Spark gives that relation: a column is nullable iff the frame
is empty, or the column holds a NULL, or it is a double column holding
NaN or ±Infinity.
"""

from __future__ import annotations

import math
import threading
from typing import Iterable, List, Sequence, Tuple

from pyspark.sql import SparkSession
from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    Row,
    StringType,
    StructField,
    StructType,
)

# (name, type) field lists shared by the result-returning paths
RESULT_FIELDS = [("doc_id", "long"), ("score", "double"), ("rank", "int")]

_SQL_TYPES = {"string": "STRING", "double": "DOUBLE", "long": "BIGINT", "int": "INT"}
_SPARK_TYPES = {
    "string": StringType(), "double": DoubleType(),
    "long": LongType(), "int": IntegerType(),
}
# |bound| of each integer type: values lie in [-bound, bound)
_INT_BOUNDS = {"long": 2**63, "int": 2**31}


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _held(v, kind: str):
    """One cell as the Python value Spark returns for it. Raises for
    what the SQL rendering or Spark would refuse, so the lazy frame
    never holds a value its JVM relation could not."""
    if v is None:
        return None
    if kind == "double":
        return float(v)
    if kind == "string":
        s = str(v)
        s.encode("utf-8")  # a lone surrogate has no UTF-8 rendering
        return s
    n = int(v)
    bound = _INT_BOUNDS[kind]
    if not -bound <= n < bound:
        raise ValueError(f"{kind} value out of range: {n}")
    return n


def _cell(v, sql_type: str) -> str:
    if v is None:
        return f"CAST(NULL AS {sql_type})"
    if sql_type == "DOUBLE":
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return "CAST('Infinity' AS DOUBLE)" if v > 0 else "CAST('-Infinity' AS DOUBLE)"
        return repr(v) + "D"
    if sql_type == "STRING":
        return f"CAST(X'{v.encode('utf-8').hex()}' AS STRING)"
    return f"{v}L" if sql_type == "BIGINT" else str(v)


def _relation_sql(rows: List[tuple], fields: Sequence[Tuple[str, str]]) -> str:
    types = [_SQL_TYPES[t] for _, t in fields]
    names = [_quote(n) for n, _ in fields]
    if not rows:
        cols = ", ".join(f"CAST(NULL AS {t}) AS {n}" for n, t in zip(names, types))
        return f"SELECT {cols} WHERE false"
    values = ", ".join(
        "(" + ", ".join(_cell(v, t) for v, t in zip(row, types)) + ")"
        for row in rows
    )
    return f"SELECT * FROM VALUES {values} AS t({', '.join(names)})"


def _schema(rows: List[tuple], fields: Sequence[Tuple[str, str]]) -> StructType:
    """The schema Spark gives ``_relation_sql(rows, fields)``: a column
    is nullable iff there are no rows, or it holds a NULL, or it is a
    double column holding NaN or ±Infinity (a ``CAST`` from a string,
    which Spark types as nullable)."""

    def nullable(j: int, kind: str) -> bool:
        return not rows or any(
            r[j] is None or (kind == "double" and not math.isfinite(r[j]))
            for r in rows
        )

    return StructType([
        StructField(name, _SPARK_TYPES[kind], nullable(j, kind))
        for j, (name, kind) in enumerate(fields)
    ])


class _LocalFrame(DataFrame):
    """A classic PySpark ``DataFrame`` whose rows are held on the driver
    and whose ``_jdf`` is built on first access.

    ``collect``, ``limit(n)`` for ``n >= 0`` (so ``take``, ``head`` and
    ``first``) and ``schema`` answer from the held rows; everything else
    is the inherited member running on ``_jdf``. Written against PySpark
    4.1.2's classic ``DataFrame``, and relying on these internals of it:

    * ``__new__`` runs ``__init__(jdf, session)``, which assigns
      ``_jdf``; this class bypasses both and sets the four attributes
      that ``__init__`` sets and the inherited members read:
      ``_session``, ``_sc``, ``is_cached`` and ``_support_repr_html``;
    * ``schema`` is a ``cached_property`` there that asks ``_jdf``;
      it is overridden here by the driver-side schema;
    * every other member reaches the JVM only through ``self._jdf``
      (``other._jdf`` for a join or union argument), so a property
      there builds the relation exactly when it is first needed.

    ``tests/test_literal_frames.py`` pins each of these uses.
    """

    def __new__(cls, *args, **kwargs):
        return object.__new__(cls)

    def __init__(self, session: SparkSession, schema: StructType, rows, build):
        self._session = session
        self._sc = session._sc
        self.is_cached = False
        self._support_repr_html = False
        self._held_schema = schema
        self._held_rows = rows
        self._build = build
        self._built = None
        self._build_lock = threading.Lock()

    @property
    def _jdf(self):
        # one relation per frame, even when threads share it: a cache()
        # or checkpoint must land on the relation later calls use
        with self._build_lock:
            if self._built is None:
                self._built = self._build()
            return self._built

    @property
    def schema(self) -> StructType:
        return self._held_schema

    def collect(self) -> List[Row]:
        return [self._held_schema.fromInternal(r) for r in self._held_rows]

    def limit(self, num: int) -> DataFrame:
        if not isinstance(num, int) or num < 0:
            return super().limit(num)  # Spark's own error
        return _LocalFrame(
            self._session, self._held_schema, self._held_rows[:num],
            lambda: self._jdf.limit(num),
        )


def literal_frame(
    spark: SparkSession,
    rows: Iterable[Sequence],
    fields: Sequence[Tuple[str, str]],
) -> DataFrame:
    """Driver-bounded rows -> DataFrame that costs zero Spark jobs to
    collect. ``fields`` is ``[(name, type), ...]`` with type one of
    string / double / long / int.

    The rows are held on the driver, each cell as the Python value
    Spark would return for it (``float``, ``int``, ``str`` or ``None``).
    ``collect``, ``limit(n)`` for ``n >= 0`` and ``schema`` answer from
    them without a JVM call; any other use builds ONE ``LocalRelation``
    on first access — no codegen, no Python-RDD parallelize — and runs
    on it. Its schema is the driver-side one: a column is nullable iff
    the frame is empty, or the column holds a ``None``, or it is a
    double column holding NaN or ±Infinity (those render as casts).

    Input is checked here, not at first JVM use: an unknown field type,
    a long outside [-2^63, 2^63-1], an int outside [-2^31, 2^31-1], a
    string with no UTF-8 encoding or a row shorter than ``fields``
    raises ``ValueError``/``UnicodeEncodeError``. A cell that ``int()``
    or ``float()`` refuses raises their own error.

    The relation renders as ``SELECT * FROM VALUES (…), … AS t(`name`,
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
    maps): the whole row set is one SQL text when it reaches the JVM.
    Frames that can grow with the corpus stay distributed.

    Rule: every typed empty frame and every literal-row plan in
    ``spark_search/`` comes from here. ``createDataFrame([], …)`` (a
    Spark job to collect an empty frame), ``F.inline(...)`` literal
    plans (codegen + a job) and any other use of ``_LocalFrame`` fail
    a source-scanning test anywhere else in the package."""
    fields = list(fields)
    for name, kind in fields:
        if kind not in _SQL_TYPES:
            raise ValueError(f"unknown field type {kind!r} for column {name!r}")
    held = []
    for row in rows:
        cells = tuple(_held(v, kind) for v, (_, kind) in zip(row, fields))
        if len(cells) < len(fields):
            raise ValueError(f"row has {len(cells)} values for {len(fields)} fields")
        held.append(cells)
    return _LocalFrame(
        spark, _schema(held, fields), held,
        lambda: spark.sql(_relation_sql(held, fields))._jdf,
    )
