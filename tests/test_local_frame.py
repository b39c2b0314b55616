"""``session.local_frame`` — the package's one way to lift driver rows into a
DataFrame — and the guard that keeps it the only way.

The guard is an AST walk (no Spark session); the helper tests pin the
contract the list path (``createDataFrame(list, ddl)``) gave its callers:
the DDL schema exactly, NULLs, empty input, nested arrays, and a raised
error on a value its column cannot hold — while the rows never pass
through a Python worker.
"""

import ast
import datetime
import pathlib

import pytest

from exstream_implementation_spark.session import local_frame

PKG = pathlib.Path(__file__).resolve().parent.parent / "exstream_implementation_spark"
HELPER = ("session.py", "local_frame")


def _create_dataframe_calls(path: pathlib.Path):
    """(enclosing function, line) of every ``.createDataFrame(`` call."""
    tree = ast.parse(path.read_text(), filename=str(path))
    found = []

    def walk(node, func):
        for child in ast.iter_child_nodes(node):
            name = func
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = child.name
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "createDataFrame"
            ):
                found.append((name, child.lineno))
            walk(child, name)

    walk(tree, None)
    return found


def test_no_create_dataframe_outside_the_helper():
    stray = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for func, line in _create_dataframe_calls(path):
            if (rel, func) != HELPER:
                stray.append(f"{rel}:{line} (in {func})")
    assert not stray, (
        "lift driver rows with session.local_frame, not createDataFrame: "
        + ", ".join(stray)
    )


def test_guard_sees_the_helper_call():
    # the walk must find the one call it allows, or it finds nothing at all
    assert [f for f, _ in _create_dataframe_calls(PKG / HELPER[0])] == [HELPER[1]]


DDL = "k string, n int, big long, x double, flag boolean, day date"


def test_schema_is_exactly_the_ddl(spark):
    rows = [("a", 1, 2**40, 0.5, True, datetime.date(2024, 1, 2))]
    df = local_frame(spark, rows, DDL)
    assert df.schema == spark.createDataFrame([], DDL).schema
    assert [tuple(r) for r in df.collect()] == rows


def test_struct_type_schema_accepted(spark):
    st = spark.createDataFrame([], "a int, b string").schema
    df = local_frame(spark, [(1, "x")], st)
    assert df.schema == st and df.collect()[0].b == "x"


def test_nulls_preserved(spark):
    rows = [(None,) * 6, ("b", 2, 3, float("nan"), False, None)]
    got = local_frame(spark, rows, DDL).orderBy("n").collect()
    assert all(v is None for v in got[0])
    assert got[1].k == "b" and got[1].x != got[1].x  # NaN stays NaN, not NULL


def test_empty_rows_give_empty_frame_with_schema(spark):
    df = local_frame(spark, [], DDL)
    assert df.count() == 0
    assert df.schema == spark.createDataFrame([], DDL).schema


def test_array_of_double_column(spark):
    rows = [(1, [1.0, None, 3.0]), (2, []), (3, None)]
    df = local_frame(spark, rows, "cell int, cemb array<double>")
    assert df.schema.simpleString() == "struct<cell:int,cemb:array<double>>"
    assert [tuple(r) for r in df.orderBy("cell").collect()] == rows


def test_int32_overflow_raises(spark):
    with pytest.raises(ValueError):
        spark.createDataFrame([(2**31,)], "n int")  # the list path's contract
    with pytest.raises(ValueError, match="'n'"):
        local_frame(spark, [(2**31,)], "n int")


def test_wrong_row_width_raises(spark):
    with pytest.raises(ValueError):
        local_frame(spark, [(1, "a"), (2,)], "n int, s string")


def test_lineage_has_no_python_rdd(spark):
    rows = [(i, f"f{i}") for i in range(10)]
    df = local_frame(spark, rows, "run_id int, feature string")
    lineage = df._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage, lineage
    # the list path this helper replaces does start Python workers
    old = spark.createDataFrame([(1, "f")], "run_id int, feature string")
    assert "PythonRDD" in old._jdf.queryExecution().toRdd().toDebugString()
