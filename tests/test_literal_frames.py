"""The driver-bounded frame constructor (spark_search.frames).

Every value must come back exactly as given — doubles bit for bit —
the frame must cost zero Spark jobs to collect, and no other code in
the package may build frames from driver rows another way.
"""

import pathlib
import re
import struct

import numpy as np

from spark_search.frames import literal_frame

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
    collect an empty frame, and ``F.inline(...)`` literal plans cost
    codegen plus a job; neither may come back outside frames.py."""
    banned = re.compile(r"createDataFrame\(\s*\[\s*\]|\bF\.inline(_outer)?\(")
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
