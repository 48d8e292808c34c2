"""Model-quality metrics (reference: cuml/metrics + cuml/dask/metrics;
SURVEY.md §2A A19). All are single aggregates / small groupBys — no
driver-side iteration over data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def accuracy(df: DataFrame, label_col: str, pred_col: str) -> float:
    row = df.agg(
        F.avg(
            F.when(F.col(label_col) == F.col(pred_col), 1.0).otherwise(0.0)
        ).alias("acc")
    ).collect()[0]
    return float(row["acc"])


def mse(df: DataFrame, label_col: str, pred_col: str) -> float:
    d = F.col(label_col) - F.col(pred_col)
    return float(df.agg(F.avg(d * d).alias("mse")).collect()[0]["mse"])


def mae(df: DataFrame, label_col: str, pred_col: str) -> float:
    return float(
        df.agg(
            F.avg(F.abs(F.col(label_col) - F.col(pred_col))).alias("mae")
        ).collect()[0]["mae"]
    )


def r2_score(df: DataFrame, label_col: str, pred_col: str) -> float:
    """1 - SS_res/SS_tot computed in one pass from sum leaves."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(label_col)).alias("sy"),
        F.sum(F.col(label_col) * F.col(label_col)).alias("syy"),
        F.sum(
            (F.col(label_col) - F.col(pred_col))
            * (F.col(label_col) - F.col(pred_col))
        ).alias("ss_res"),
    ).collect()[0]
    ss_tot = row["syy"] - row["sy"] * row["sy"] / row["n"]
    return float(1.0 - row["ss_res"] / ss_tot)


def confusion_matrix(df: DataFrame, label_col: str, pred_col: str) -> DataFrame:
    return df.groupBy(
        F.col(label_col).alias("actual"), F.col(pred_col).alias("predicted")
    ).agg(F.count(F.lit(1)).alias("n"))


def ari_sql(sum_ij: str, sum_a: str, sum_b: str, n: str) -> str:
    """SQL expression for ARI from its four pair-count sums (double
    columns): cell pairs, row-marginal pairs, column-marginal pairs and
    the row count. One expression string is one py4j call, where the
    same tree built from Column operators costs about ten per node.
    n < 2 has no pairs: expected is 0 there, which makes max_index ==
    expected and the score 1.0 (nothing to disagree on)."""
    pairs = f"({n} * ({n} - 1) / 2)"
    expected = f"IF({pairs} > 0, {sum_a} * {sum_b} / {pairs}, 0D)"
    max_index = f"(({sum_a} + {sum_b}) / 2)"
    return (
        f"IF({max_index} = {expected}, 1D, "
        f"({sum_ij} - {expected}) / ({max_index} - {expected}))"
    )


def adjusted_rand_frame(df: DataFrame, label_col: str, pred_col: str) -> DataFrame:
    """One-row frame of the ARI pair-count sums between two labelings —
    ``sum_ij``, ``sum_a``, ``sum_b``, ``n`` (double) — and ``ari``
    (reference: cuml.metrics adjusted_rand_score; SURVEY §2A A19).

    One CUBE over (label, pred) yields the contingency cells, both
    marginals and the total in a single shuffle; one global aggregate
    folds them to pair counts. Building the frame runs no job, so a
    query can embed it. Pair counts are exact integers in double at any
    realistic n, so summation order cannot change the value."""
    cells = (
        df.select(F.col(label_col).alias("_a"), F.col(pred_col).alias("_b"))
        .cube("_a", "_b")
        .agg(
            F.expr("grouping_id() AS g"),
            F.expr("CAST(count(1) AS DOUBLE) AS c"),
        )
    )
    # grouping_id bits: (grouping(_a) << 1) | grouping(_b), so g = 0 are
    # the cells, 1 and 2 the two marginals and 3 the grand total
    sums = cells.agg(
        *[
            F.expr(f"coalesce(sum(IF(g = {g}, {term}, 0D)), 0D) AS {name}")
            for g, term, name in (
                (0, "c * (c - 1) / 2", "sum_ij"),
                (1, "c * (c - 1) / 2", "sum_a"),
                (2, "c * (c - 1) / 2", "sum_b"),
                (3, "c", "n"),
            )
        ]
    )
    return sums.withColumn("ari", F.expr(ari_sql("sum_ij", "sum_a", "sum_b", "n")))


def adjusted_rand_score(df: DataFrame, label_col: str, pred_col: str) -> float:
    """ARI as a float: one action over ``adjusted_rand_frame``."""
    return float(adjusted_rand_frame(df, label_col, pred_col).first()["ari"])
