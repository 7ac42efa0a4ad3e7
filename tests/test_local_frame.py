"""``session.local_frame``: the one way the package turns driver-side rows
into a DataFrame. It must give the same schema and rows as
``createDataFrame(rows, schema)`` and start no Python worker, and no other
``createDataFrame`` call may exist in the package."""

from __future__ import annotations

import ast
import datetime as dt
import pathlib

import pytest
from pyspark.sql import types as T

from mdio_cpp_spark.session import local_frame

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "mdio_cpp_spark"

CASES = {
    "nulls": ([(1, None, 2.5), (None, "b", None)], "a long, s string, d double"),
    "arrays": ([(1, [1.0, None, 3.0]), (2, None), (3, [])], "k long, v array<double>"),
    "strings": ([("", "é"), ("x" * 300, None)], "a string, b string"),
    "empty": ([], "cid long, cv array<double>"),
    "struct_schema": (
        [(7, "q", 1.5), (8, None, None)],
        T.StructType([
            T.StructField("id", T.IntegerType(), False),
            T.StructField("name", T.StringType()),
            T.StructField("w", T.DoubleType()),
        ]),
    ),
    "date_time": (
        [(dt.date(2024, 2, 29), dt.datetime(2024, 2, 29, 23, 59, 58, 123456),
          dt.datetime(2021, 6, 1, 12, 0, tzinfo=dt.timezone.utc)),
         (None, None, None)],
        "d date, ts timestamp, tz timestamp",
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_the_list_path(spark, case):
    rows, schema = CASES[case]
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_lineage_has_no_python_rdd(spark):
    """The list path plans a pickled Python RDD, so every action on it
    unpickles its rows in a Python worker; the Arrow table does not."""
    rows, schema = CASES["arrays"]
    assert "PythonRDD" in spark.createDataFrame(rows, schema)._jdf.rdd().toDebugString()
    assert "PythonRDD" not in local_frame(spark, rows, schema)._jdf.rdd().toDebugString()


def test_no_create_dataframe_outside_local_frame():
    """Every driver-built table in the package goes through local_frame."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed = set()
        if path.name == "session.py" and path.parent == PACKAGE:
            fn = next(n for n in tree.body
                      if isinstance(n, ast.FunctionDef) and n.name == "local_frame")
            allowed = {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame" and id(node) not in allowed):
                offenders.append(f"{path.relative_to(PACKAGE.parent)}:{node.lineno}")
    assert offenders == []
