"""``session.local_frame``: driver-built rows enter Spark as an Arrow
``LocalRelation`` with the given schema, checked like the list path."""

import ast
import pathlib
from datetime import date, datetime, timezone

import pytest
from pyspark.errors import PySparkValueError
from pyspark.sql.types import LongType, StructField, StructType

from llm_drift_detector_spark.session import local_frame

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "llm_drift_detector_spark"


def _leaves(df) -> list[str]:
    plan = df._jdf.queryExecution().analyzed()
    leaves = plan.collectLeaves()
    return [leaves.apply(i).nodeName() for i in range(leaves.size())]


@pytest.mark.parametrize(
    "rows",
    [[("g", 3, 0.5, True, [[1.0], [2.0, 3.0]], b"\x00\x01"), (None,) * 6], []],
    ids=["rows", "empty"],
)
def test_rows_become_a_local_relation_with_the_schema(spark, rows):
    ddl = "k string, n bigint, x double, ok boolean, e array<array<double>>, b binary"
    df = local_frame(spark, rows, ddl)
    assert _leaves(df) == ["LocalRelation"]
    assert df.schema == spark.createDataFrame([], ddl).schema
    assert [tuple(r) for r in df.collect()] == rows


def test_not_nullable_fields_stay_not_nullable(spark):
    schema = StructType([StructField("n", LongType(), nullable=False)])
    assert local_frame(spark, [(1,)], schema).schema == schema
    with pytest.raises(PySparkValueError):
        local_frame(spark, [(None,)], schema)


@pytest.mark.parametrize(
    "rows, ddl",
    [
        ([(1,)], "x double"),  # Arrow would widen the int
        ([(1.5,)], "n bigint"),  # Arrow would truncate the float
        ([(2**40,)], "n int"),  # out of range
        (["abc"], "s string"),  # not a row
        ([(1,)], "s string"),  # the list path would str() it
    ],
    ids=["int_as_double", "float_as_bigint", "int_overflow", "bare_value", "int_as_string"],
)
def test_wrong_value_types_raise_instead_of_coercing(spark, rows, ddl):
    with pytest.raises((TypeError, ValueError)):
        local_frame(spark, rows, ddl)


def test_timestamps_convert_like_the_list_path(spark):
    ddl = "t timestamp, d date, a array<timestamp>"
    rows = [
        (datetime(2024, 1, 2, 3, 4, 5, 6), date(2024, 1, 2), [datetime(2024, 1, 2)]),
        (datetime(2024, 1, 2, 3, 4, 5, tzinfo=timezone.utc), None, None),
    ]
    assert local_frame(spark, rows, ddl).collect() == spark.createDataFrame(rows, ddl).collect()


def test_engine_builds_driver_frames_only_through_local_frame():
    """Every driver-built frame of the engine goes through the helper: a
    ``createDataFrame`` call anywhere else would bring back the pickled
    Python RDD (and its Python-worker stage)."""
    calls = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                calls.append((str(path.relative_to(PACKAGE)), node.lineno))
    helper = next(
        node
        for node in ast.walk(ast.parse((PACKAGE / "session.py").read_text()))
        if isinstance(node, ast.FunctionDef) and node.name == "local_frame"
    )
    assert len(calls) == 1, calls
    path, line = calls[0]
    assert path == "session.py" and helper.lineno <= line <= helper.end_lineno
