"""CLI argument validation that must fail before Spark starts."""

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
