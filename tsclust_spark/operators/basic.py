"""Small generic operators: per-group top-k, distinct stats, parity diff
(SURVEY.md C15/C20/C21).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    k: int,
    descending: bool = True,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Deterministic per-group top-k via row_number (SURVEY.md C20).

    A ``tiebreak_col`` makes the ordering total so results are stable
    across shuffles — mandatory for oracle-compared output.
    """
    order = [F.col(order_col).desc() if descending else F.col(order_col).asc()]
    if tiebreak_col:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )


def parity_diff(a: DataFrame, b: DataFrame) -> DataFrame:
    """Bit-exact table diff: rows in exactly one of a/b (SURVEY.md C15).

    Empty result == parity. ``exceptAll`` keeps multiplicity so
    duplicate-row count mismatches are caught too.
    """
    only_a = a.exceptAll(b).withColumn("side", F.lit("a"))
    only_b = b.exceptAll(a).withColumn("side", F.lit("b"))
    return only_a.unionByName(only_b)
