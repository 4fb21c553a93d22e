"""The driver-bounded frame constructor (spark_search.frames).

Every value must come back exactly as given — doubles bit for bit —
the frame must cost zero Spark jobs to collect, the rows it holds on
the driver must answer exactly as its JVM relation does, and no other
code in the package may build frames from driver rows another way.
"""

import functools
import pathlib
import re
import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import DataFrame, functions as F

from spark_search.frames import RESULT_FIELDS, literal_frame

DOUBLES = [
    0.1 + 0.2, -0.0, 0.0, 5e-324, -5e-324, 1.7976931348623157e308,
    -1.7976931348623157e308, 2.2250738585072014e-308,
    float("nan"), float("inf"), float("-inf"),
    np.float64(1.0) / np.float64(3.0), np.float64(-2.5e-17),
    -0.7654057669503643, -3.141592653589793e-5, 123456789.12345679,
]
LONGS = [0, 1, -1, 2**63 - 1, -(2**63), 2**31, -(2**31) - 1]
INTS = [0, 1, -1, 2**31 - 1, -(2**31)]
STRINGS = [
    "", "'", "\\", '"', "\n", "a\tb\r\n", "é漢字🙂", "`", "''",
    "x') UNION SELECT 1 --", "\\' OR 1=1 --", "X'00'", "\x00",
]


def _bits(x):
    return struct.pack("<d", float(x))


def test_doubles_round_trip_bit_identical(spark):
    got = [
        r["v"]
        for r in literal_frame(
            spark, [(i, v) for i, v in enumerate(DOUBLES)],
            [("i", "int"), ("v", "double")],
        ).orderBy("i").collect()
    ]
    assert [_bits(g) for g in got] == [_bits(v) for v in DOUBLES]


def test_integers_round_trip_at_bounds(spark):
    rows = [(a, b) for a, b in zip(LONGS, INTS + [7] * (len(LONGS) - len(INTS)))]
    got = literal_frame(spark, rows, [("l", "long"), ("i", "int")]).collect()
    assert [(r["l"], r["i"]) for r in got] == rows
    assert [f.dataType.simpleString() for f in literal_frame(
        spark, rows, [("l", "long"), ("i", "int")]).schema] == ["bigint", "int"]


def test_none_in_every_type(spark):
    fields = [("s", "string"), ("d", "double"), ("l", "long"), ("i", "int")]
    rows = [(None, None, None, None), ("a", 1.5, 2, 3), (None, 0.5, None, 4)]
    df = literal_frame(spark, rows, fields)
    assert [tuple(r) for r in df.collect()] == rows
    assert [f.dataType.simpleString() for f in df.schema] == [
        "string", "double", "bigint", "int"
    ]
    # a column that is NULL in every row keeps its declared type
    only_null = literal_frame(spark, [(None, None)], fields[1:3])
    assert [tuple(r) for r in only_null.collect()] == [(None, None)]
    assert [f.dataType.simpleString() for f in only_null.schema] == [
        "double", "bigint"
    ]


def test_strings_are_data_never_sql(spark):
    df = literal_frame(
        spark, [(i, s) for i, s in enumerate(STRINGS)],
        [("i", "int"), ("s", "string")],
    )
    assert [r["s"] for r in df.orderBy("i").collect()] == STRINGS


def test_column_names_are_quoted(spark):
    fields = [("grp`x", "string"), ("my group", "string"), ("doc_id", "long")]
    df = literal_frame(spark, [("a", "b", 1)], fields)
    assert df.columns == ["grp`x", "my group", "doc_id"]
    assert [tuple(r) for r in df.collect()] == [("a", "b", 1)]
    empty = literal_frame(spark, [], fields)
    assert empty.columns == ["grp`x", "my group", "doc_id"]


def test_empty_frame_is_typed(spark):
    df = literal_frame(
        spark, [], [("doc_id", "long"), ("score", "double"), ("rank", "int")]
    )
    assert df.collect() == []
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [
        ("doc_id", "bigint"), ("score", "double"), ("rank", "int")
    ]


def test_result_fields_struct_type_is_pinned(spark):
    """The result frame's full schema, nullability included: literal
    rows give non-null columns, a NULL, NaN or ±Infinity cell makes its
    column nullable, and the empty frame's columns are nullable."""
    from pyspark.sql.types import (
        DoubleType, IntegerType, LongType, StructField, StructType,
    )

    from spark_search.frames import RESULT_FIELDS

    def struct(*nullable):
        return StructType([
            StructField(n, t, null) for (n, t), null in zip(
                [("doc_id", LongType()), ("score", DoubleType()),
                 ("rank", IntegerType())],
                nullable,
            )
        ])

    for rows, want in [
        ([(7, 0.7654057669503643, 1), (3, 0.25, 2)], struct(False, False, False)),
        ([(7, float("nan"), 1)], struct(False, True, False)),
        ([(7, float("-inf"), 1), (2**62, 0.5, None)], struct(False, True, True)),
        ([(None, 1.0, 1)], struct(True, False, False)),
        ([], struct(True, True, True)),
    ]:
        df = literal_frame(spark, rows, RESULT_FIELDS)
        assert df.schema == want, rows
        assert len(df.collect()) == len(rows)


def test_collect_launches_zero_jobs(spark, jobs_of):
    fields = [("doc_id", "long"), ("score", "double"), ("q", "string")]
    rows = [(i, i / 7.0, f"t{i}") for i in range(50)]
    got, n_jobs = jobs_of(lambda: literal_frame(spark, rows, fields).collect())
    assert len(got) == 50 and n_jobs == 0
    got, n_jobs = jobs_of(lambda: literal_frame(spark, [], fields).collect())
    assert got == [] and n_jobs == 0


def test_frames_built_only_by_literal_frame():
    """Guard: the package builds frames from driver rows only through
    ``literal_frame``. ``createDataFrame([], …)`` costs a Spark job to
    collect an empty frame, ``F.inline(...)`` literal plans cost
    codegen plus a job, and a ``_LocalFrame`` subclassed or built
    elsewhere would skip ``literal_frame``'s input checks; none may
    come back outside frames.py."""
    banned = re.compile(
        r"createDataFrame\(\s*\[\s*\]|\bF\.inline(_outer)?\(|\b_LocalFrame\b"
    )
    for line in [
        "spark.createDataFrame([], schema)",
        "df.select(F.inline(F.array(*structs)))",
        "class Mine(frames._LocalFrame):",
        "return _LocalFrame(spark, schema, rows, build)",
    ]:
        assert banned.search(line), line
    pkg = pathlib.Path(__file__).resolve().parent.parent / "spark_search"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path.name == "frames.py":
            continue
        src = path.read_text()
        for m in banned.finditer(src):
            n = src.count("\n", 0, m.start()) + 1
            offenders.append(f"{path.relative_to(pkg)}:{n}: {m.group(0)}")
    assert not offenders, "\n".join(offenders)


# ------------------------------------------------- rows held on the driver

_VALUES = {"double": DOUBLES, "long": LONGS, "int": INTS, "string": STRINGS}
_NAMES = ["c", "my col", "grp`x", "`", "a b`c"]


def _same_cells(got, want, kinds):
    """Rows equal value for value, types included; doubles by bits."""
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g.__fields__ == w.__fields__
        for a, b, kind in zip(g, w, kinds):
            assert type(a) is type(b), (a, b)
            if kind == "double" and a is not None:
                assert _bits(a) == _bits(b), (a, b)
            else:
                assert a == b


@settings(max_examples=40, deadline=None)
@given(data=st.data())
def test_held_rows_answer_like_the_jvm_frame(spark, data):
    """``collect``, ``schema`` (nullability included) and
    ``limit(n).collect()`` of the driver-held frame equal those of its
    own JVM relation, over all four field types, NULLs, the empty
    frame and quoted column names."""
    kinds = data.draw(
        st.lists(st.sampled_from(sorted(_VALUES)), min_size=1, max_size=4)
    )
    fields = [
        (data.draw(st.sampled_from(_NAMES)) + str(j), kind)
        for j, kind in enumerate(kinds)
    ]
    rows = data.draw(st.lists(
        st.tuples(*[st.sampled_from(_VALUES[k] + [None]) for k in kinds]),
        max_size=6,
    ))
    df = literal_frame(spark, rows, fields)
    jvm = DataFrame(literal_frame(spark, rows, fields)._jdf, spark)
    assert df.schema == jvm.schema
    _same_cells(df.collect(), jvm.collect(), kinds)
    for n in (0, 1, len(rows) + 2):
        assert df.limit(n).schema == jvm.limit(n).schema
        _same_cells(df.limit(n).collect(), jvm.limit(n).collect(), kinds)
    _same_cells(df.take(1), jvm.take(1), kinds)


@pytest.mark.parametrize("rows,fields", [
    ([(1,)], [("x", "float")]),
    ([(2**63,)], [("l", "long")]),
    ([(-(2**63) - 1,)], [("l", "long")]),
    ([(2**31,)], [("i", "int")]),
    ([(-(2**31) - 1,)], [("i", "int")]),
    ([("ok",), ("\ud800",)], [("s", "string")]),
    ([(1, 2), (3,)], [("a", "long"), ("b", "long")]),
])
def test_invalid_input_raises_at_literal_frame(spark, monkeypatch, rows, fields):
    """Input the SQL rendering or Spark would refuse raises when the
    frame is made, before any JVM call, never at first JVM use."""
    monkeypatch.setattr(spark, "sql", lambda *a: pytest.fail("reached spark.sql"))
    with pytest.raises(ValueError):
        literal_frame(spark, rows, fields)


def test_negative_limit_keeps_sparks_error(spark):
    df = literal_frame(spark, [(1, 0.5, 1)], RESULT_FIELDS)
    with pytest.raises(Exception) as lazy:
        df.limit(-1).collect()
    with pytest.raises(Exception) as eager:
        DataFrame(df._jdf, spark).limit(-1).collect()
    assert type(lazy.value) is type(eager.value)


def test_held_frame_composes_like_the_eager_frame(spark, fixture_index, capsys):
    """Used as a Spark input, the driver-held frame builds today's
    ``LocalRelation`` and gives the eager frame's rows in every use:
    join, union, broadcast join, orderBy, toPandas, count, cache, show,
    repr, columns and dtypes. This pins the PySpark internals the
    subclass relies on (``_session``, ``_sc``, ``is_cached``,
    ``_support_repr_html`` and the ``schema`` override)."""
    rows = [(4, 0.7654057669503643, 1), (3, 0.6333549317576496, 2), (1, None, 3)]
    docs = fixture_index.docs_df()
    other = spark.range(1).selectExpr(
        "CAST(id + 7 AS BIGINT) AS doc_id", "0.125D AS score", "9 AS rank"
    )
    uses = {
        "join": lambda df: df.join(docs, "doc_id").orderBy("rank").collect(),
        "union": lambda df: df.union(other).orderBy("rank").collect(),
        "broadcast": lambda df: docs.join(F.broadcast(df), "doc_id")
        .orderBy("rank").collect(),
        "orderBy": lambda df: df.orderBy("doc_id").collect(),
        # repr: the NULL score is NaN in pandas, and NaN != NaN
        "toPandas": lambda df: repr(df.toPandas().to_dict("list")),
        "count": lambda df: df.count(),
        "cache": lambda df: (
            df.cache().is_cached, df.collect(), df.count(),
            df.storageLevel.useMemory, df.unpersist().is_cached,
        ),
        "repr": lambda df: (repr(df), df.columns, df.dtypes),
        "show": lambda df: (df.show(), capsys.readouterr().out)[1],
    }
    for name, use in uses.items():
        lazy = literal_frame(spark, rows, RESULT_FIELDS)
        eager = DataFrame(literal_frame(spark, rows, RESULT_FIELDS)._jdf, spark)
        assert use(lazy) == use(eager), name
    joined = uses["join"](literal_frame(spark, rows, RESULT_FIELDS))
    assert [r["doc_id"] for r in joined] == [4, 3, 1]
    # _LocalFrame.__init__ sets what classic DataFrame.__init__ sets,
    # bar _jdf, and overrides the cached_property schema
    from pyspark.sql.classic.dataframe import DataFrame as ClassicFrame

    eager = DataFrame(literal_frame(spark, rows, RESULT_FIELDS)._jdf, spark)
    assert set(vars(eager)) == {
        "_session", "_sc", "_jdf", "is_cached", "_support_repr_html"
    }
    assert isinstance(vars(ClassicFrame)["schema"], functools.cached_property)


def test_threads_sharing_a_frame_build_one_relation(spark):
    """Threads that first touch a shared frame's ``_jdf`` at once all
    get the one relation, built once, so a ``cache()`` made through it
    is the relation every later call runs on."""
    import sys
    import threading

    df = literal_frame(spark, [(1, 0.5, 1)], RESULT_FIELDS)
    build, builds = df._build, []
    df._build = lambda: builds.append(1) or build()
    got, start = [], threading.Barrier(8)

    def touch():
        start.wait(timeout=30)
        got.append(df._jdf)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=touch) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(got) == 8 and len(builds) == 1
    assert all(j is got[0] for j in got)
