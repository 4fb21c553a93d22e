"""CLI argument validation that must fail before Spark starts, and
the rows a CLI search prints."""

import json

import pytest

from spark_search.cli import _field_index_spec, main


def _multifield(spec):
    return main([
        "multifield", "--index", "/nonexistent/content",
        "--field-index", spec, "--terms", "a",
    ])


def test_field_index_without_equals_is_a_usage_error(capsys):
    with pytest.raises(SystemExit) as info:
        _multifield("/idx/path:2.0")
    assert info.value.code == 2
    assert "NAME=DIR:WEIGHT" in capsys.readouterr().err


def test_field_index_weight_splits_off_the_last_colon():
    assert _field_index_spec("path=/idx/path:2.0") == ("path", "/idx/path", 2.0)
    assert _field_index_spec("path=s3a://bucket/idx:1.5") == (
        "path", "s3a://bucket/idx", 1.5
    )
    assert _field_index_spec("path=hdfs://nn:8020/idx:3") == (
        "path", "hdfs://nn:8020/idx", 3.0
    )


@pytest.mark.parametrize(
    "spec", ["path=/idx/path", "path=s3a://bucket/idx", "path=/idx/path:"]
)
def test_field_index_missing_weight_is_a_usage_error(spec, capsys):
    with pytest.raises(SystemExit) as info:
        _multifield(spec)
    assert info.value.code == 2
    assert "missing :WEIGHT" in capsys.readouterr().err


def test_negative_k_is_a_usage_error(capsys):
    with pytest.raises(SystemExit) as info:
        main(["search", "--index", "/nonexistent", "--terms", "a", "--k", "-1"])
    assert info.value.code == 2
    assert "--k must be >= 0" in capsys.readouterr().err


@pytest.mark.parametrize("terms,extra,n_rows", [
    ("mila", [], 2),
    ("mila", ["--limit", "1"], 1),
    ("mila,test", ["--mode", "OR", "--k", "3"], 3),
    ("nosuchterm", [], 0),
])
def test_search_prints_the_jvm_frames_rows(
    spark, fixture_index, capsys, terms, extra, n_rows
):
    """``search`` prints the rows its result frame's JVM relation gives
    for the same ``--limit``: ``_rows`` is answered from the rows the
    frame holds on the driver, and must print what Spark would."""
    from pyspark.sql import DataFrame

    from spark_search.cli import _MODES

    index_dir = fixture_index.paths.root
    assert main(["search", "--index", index_dir, "--terms", terms, *extra]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    opts = dict(zip(extra[::2], extra[1::2]))
    res = fixture_index.search(
        terms.split(","), _MODES[opts.get("--mode", "EXACT")],
        k=int(opts.get("--k", 10)),
    )
    jvm = DataFrame(res._jdf, spark).limit(int(opts.get("--limit", 100)))
    assert out["rows"] == [r.asDict() for r in jvm.collect()]
    assert len(out["rows"]) == n_rows
    if terms == "mila":  # the fixture corpus's anchor result
        assert out["rows"] == [
            {"doc_id": 4, "score": 0.7654057669503643, "rank": 1},
            {"doc_id": 3, "score": 0.6333549317576496, "rank": 2},
        ][:n_rows]
