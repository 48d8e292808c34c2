"""Local mirror of the driver's correctness gate: run a registered query
on Spark AND its oracle SQL on DuckDB over the same fixture dir, then
compare row count + column names + order-insensitive values.

Used by tests/test_oracle_parity.py so every operator is verified with
the exact comparison the driver performs, before the driver ever runs.
"""

from __future__ import annotations

import math
from typing import Any

import duckdb
import pandas as pd

from dask_cuml_spark.io import TABLES, table_path


def duckdb_connection(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    con = duckdb.connect()
    import os

    for name in TABLES:
        path = table_path(sf_dir, name)
        # partial scale dirs (bench_scale --only builds just the fact
        # tables a subset run reads) simply skip the absent views
        if not os.path.exists(path):
            continue
        if os.path.isdir(path):  # a part directory (appended ingest)
            path = os.path.join(path, "*.parquet")
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
        )
    return con


def _canon_value(v: Any) -> Any:
    """Canonicalize one cell for comparison."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr of the double — bitwise-equal doubles stringify identically
        return repr(float(v))
    if isinstance(v, (int, bool, str)):
        return v
    return str(v)


def canonical_rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        out.append(tuple(_canon_value(v) for v in row))
    out.sort(key=lambda r: tuple(str(x) for x in r))
    return out


def compare(
    spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame
) -> tuple[bool, str]:
    """Compare the two results the way the driver does; return (ok, report)."""
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return False, (
            f"column mismatch: spark={sorted(spark_pdf.columns)} "
            f"oracle={sorted(oracle_pdf.columns)}"
        )
    if len(spark_pdf) != len(oracle_pdf):
        return False, f"rowcount mismatch: spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
    a = canonical_rows(spark_pdf)
    b = canonical_rows(oracle_pdf)
    if a == b:
        return True, "ok"
    # Diagnostic: find first differing row and per-column detail
    n_bad = sum(1 for x, y in zip(a, b) if x != y)
    first = next((i, x, y) for i, (x, y) in enumerate(zip(a, b)) if x != y)
    return False, (
        f"value mismatch on {n_bad}/{len(a)} sorted rows; first diff at "
        f"row {first[0]}:\n  spark : {first[1]}\n  oracle: {first[2]}\n"
        f"  (columns sorted: {sorted(spark_pdf.columns)})"
    )


def run_pair(spark, sf_dir: str, name: str) -> tuple[bool, str]:
    """Run QUERIES[name] and ORACLES[name] at sf_dir and compare."""
    from dask_cuml_spark.registry import ORACLES, QUERIES
    import dask_cuml_spark.queries  # noqa: F401 — populate registry

    spark_pdf = QUERIES[name](spark, sf_dir).toPandas()
    if name not in ORACLES:
        # rows-only check (mirrors the driver's weaker gate)
        return len(spark_pdf) >= 0, f"rows-only: {len(spark_pdf)} rows"
    con = duckdb_connection(sf_dir)
    try:
        oracle_pdf = con.execute(ORACLES[name]).df()
    finally:
        con.close()
    return compare(spark_pdf, oracle_pdf)
