"""Driver-built rows enter a plan only through functions.vector.rows_lit,
an Arrow-built LocalRelation: it must return exactly what
``createDataFrame`` on a Python list returns, while executing it
launches no Spark job (a list-built frame is a scan over a Python RDD
that re-runs a Python-worker job on every execution)."""

from __future__ import annotations

import ast
import pathlib

import pytest

from dask_cuml_spark.benchlib import max_job_id
from dask_cuml_spark.functions.vector import rows_lit

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "dask_cuml_spark"

CASES = {
    # pandas would widen this column to float64 and lose the low bits
    "int64 beyond 2^53 beside a null": (
        [(1, 2**60 + 3), (2, None), (3, -(2**63))],
        "k long, v long",
    ),
    "nested double arrays": (
        [(1, [[1.0, 2.5], [3.0]]), (2, []), (3, None)],
        "k long, m array<array<double>>",
    ),
    "quoted string": (
        [("it's", 1.5), ("a\\'b", None)],
        "s string, d double",
    ),
    "empty rows, typed schema": ([], "a int, b string, c array<double>"),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_rows_lit_equals_list_frame(spark, case):
    rows, ddl = CASES[case]
    got = rows_lit(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan
    j0 = max_job_id(spark)
    out = got.collect()
    assert max_job_id(spark) == j0, "collecting a LocalRelation ran a job"
    assert out == want.collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in rows]


def test_rows_lit_takes_a_struct_schema(spark):
    want = spark.createDataFrame([(7, "x")], "id long, s string")
    got = rows_lit(spark, [(7, "x")], want.schema)
    assert got.schema == want.schema and got.collect() == want.collect()


def _create_dataframe_calls(path: pathlib.Path) -> list[int]:
    tree = ast.parse(path.read_text(), str(path))
    allowed: set[int] = set()
    if path == PACKAGE / "functions" / "vector.py":
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == "rows_lit":
                allowed = set(range(node.lineno, node.end_lineno + 1))
        assert allowed, "rows_lit is missing from functions/vector.py"
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
        and node.lineno not in allowed
    ]


def test_no_create_dataframe_outside_rows_lit():
    """Spark-free guard: a list-built frame anywhere in the package
    would plan a Python-RDD scan again; rows go through rows_lit."""
    offenders = {
        str(p.relative_to(PACKAGE)): lines
        for p in sorted(PACKAGE.rglob("*.py"))
        if (lines := _create_dataframe_calls(p))
    }
    assert offenders == {}, offenders
