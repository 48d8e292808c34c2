"""Vector math over array<float> columns — pure Spark higher-order
functions (zip_with + aggregate), the JVM-codegen substitute for the
reference's per-GPU columnar kernels (cuML distance primitives,
SURVEY.md §2A A4 / §4.2).

All arithmetic is promoted to double and folded left-to-right, which is
bitwise-identical to DuckDB's list_zip + list_transform +
list_aggregate('sum') — verified empirically (round-trip exact) — so these
are oracle-safe without rounding.

No Python UDFs here: at 100 TB these expressions run inside whole-stage
codegen; an equivalent pandas_udf would pay Arrow serialization per batch.

Plans are built as SQL text. PySpark composes a ``Column`` tree with
one py4j round trip or more per node (operator, literal, lambda), so a
vector helper built from Column calls costs ~167 round trips; one
``F.expr`` / ``selectExpr`` / string ``filter`` call hands the JVM the
whole expression as text and costs ~3. The helpers below therefore take
SQL expression text (column names or larger expressions) and build one
expression; l2_sq_sql returns the text for callers that splice it into
a larger expression. Measured per construction: l2_sq 167 -> 3,
q121 263 -> 68, q119 155 -> 62, q160 579 -> 52, q145's serving read
690 -> 110, q149 914 -> 161, q124 482 -> 93 (tests/
test_construct_budget.py holds the ceilings). Text keeps the tree the
Column form built: a double literal is ``0D`` (``0.0`` parses as a
decimal), an integer beyond int range parses as bigint, and sizes are
``array_size``.

Driver-side values enter a plan only through the literal helpers below:
sql_lit/array_lit/matrix_lit for one value, rows_lit for a small table
of rows (a LocalRelation — executing it launches no job).
"""

from __future__ import annotations

import math
import numbers

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def l2_sq_sql(a: str, b: str) -> str:
    """Double-precision squared L2 distance of two array expressions
    (``a`` and ``b`` are SQL text), as SQL text."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        "(x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) "
        "* (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        "0D, (acc, v) -> acc + v)"
    )


def dot(a: str, b: str) -> Column:
    """Double-precision dot product of two array columns."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0D, (acc, v) -> acc + v)"
    )


def l2_sq(a: str, b: str) -> Column:
    """Double-precision squared L2 distance."""
    return F.expr(l2_sq_sql(a, b))


def l2(a: str, b: str) -> Column:
    """Euclidean distance."""
    return F.expr(f"sqrt({l2_sq_sql(a, b)})")


def cosine_unit(a: str, b: str) -> Column:
    """Cosine similarity for unit-norm vectors (≡ dot product —
    fixtures are exactly unit-norm, FIXTURES.md)."""
    return dot(a, b)


def norm_sq(a: str) -> Column:
    """Squared L2 norm of an array column."""
    return dot(a, a)


def sql_lit(v, where: str = "") -> str:
    """One Spark SQL literal, as text, for an int, a double, a string,
    a list or tuple (``array(...)``) or a str-keyed dict
    (``named_struct(...)``), nested freely — the text form behind
    array_lit/matrix_lit, for callers that splice a literal into a
    larger SQL expression. ``where`` names the position in errors."""
    if isinstance(v, dict):
        return "named_struct(" + ",".join(
            f"{sql_lit(str(k))},{sql_lit(x, f'{where}{k}: ')}"
            for k, x in v.items()
        ) + ")"
    if isinstance(v, (list, tuple)):
        return "array(" + ",".join(
            sql_lit(x, f"{where}col {j}") for j, x in enumerate(v)
        ) + ")"
    if isinstance(v, str):
        # the parser unescapes backslash sequences inside quotes
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, numbers.Integral) and not isinstance(v, bool):
        return str(int(v))
    if isinstance(v, numbers.Real) and not isinstance(v, bool):
        f = float(v)
        if not math.isfinite(f):
            raise ValueError(
                f"non-finite value {f!r} at {where} — check for empty "
                "clusters / bad input vectors upstream"
            )
        return f"{f!r}D"
    raise TypeError(f"no SQL literal for {type(v).__name__} at {where}")


def array_lit(values) -> Column:
    """1-d array literal of ints, doubles or strings in ONE py4j call.

    PySpark's F.lit on a list expands client-side into one lit() py4j
    round trip PER ELEMENT (a 1024-word list = 1024 socket round trips);
    F.array(*[F.lit(v) ...]) is the same cost. Emitting the whole array
    as one SQL literal is a single py4j call + one JVM-side parse.
    repr(float) round-trips exactly through Spark's double-literal
    parser (verified incl. 5e-324), so values are bit-identical to the
    per-element form; ints keep Spark's literal typing (int when they
    fit, else bigint) and strings are quoted and escaped.

    Non-finite doubles would render as ``infD``/``nanD``, which Spark's
    SQL parser rejects with an opaque ParseException far from the cause
    (e.g. a degenerate k-means fit with an empty cluster) — they are
    rejected up front with the offending position named instead.
    """
    return F.expr(sql_lit(list(values)))


def matrix_lit(mat) -> Column:
    """array<array<double>> literal (e.g. a centroid table) in ONE call;
    the row-wise form of array_lit (an 8×64 centroid table costs one
    py4j call instead of ~2.8k)."""
    rows = [
        sql_lit([float(v) for v in r], f"row {i}, ")
        for i, r in enumerate(mat)
    ]
    return F.expr(f"array({','.join(rows)})")


def rows_lit(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-built ``rows`` (tuples; ``schema`` is DDL text or a
    StructType) as a LocalRelation: one Arrow table typed by ``schema``,
    so executing it launches no Spark job (a list passed to
    createDataFrame is a Python-RDD scan, one Python-worker job per
    execution) and int64 stays exact beside nulls (pandas would widen
    it to float64). Same rows and schema as the list form, empty too."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if not isinstance(schema, StructType):
        schema = StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows],
        schema=to_arrow_schema(schema),
    )
    return spark.createDataFrame(table, schema)
