"""Relational operator wrappers with Presto semantics.

Thin by design: each maps to the Catalyst plan Presto builds a dedicated
operator for (file cited), so the "implementation" is choosing the plan
shape that scales.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_n(df: DataFrame, n: int, *order_by: Column) -> DataFrame:
    """ORDER BY ... LIMIT n (TopNOperator.java:186).

    orderBy(...).limit(n) compiles to TakeOrderedAndProject: per-partition
    partial top-n, single final merge — no full sort at any scale.
    """
    return df.orderBy(*order_by).limit(n)


def grouped_top_n(
    df: DataFrame, partition_by: list[str], n: int, *order_by: Column
) -> DataFrame:
    """Top-n per group (TopNRowNumberOperator.java:382).

    row_number + rank filter; Spark's InferWindowGroupLimit pushes the
    limit into the window sort (plan asserted in tests/test_plans.py),
    matching Presto's WindowFilterPushDown.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n)
        .drop("__rn")
    )


def distinct_limit(df: DataFrame, cols: list[str], n: int) -> DataFrame:
    """SELECT DISTINCT c... LIMIT n (DistinctLimitOperator.java:288);
    Catalyst fuses the pair — partial distinct per partition, early out."""
    return df.select(*cols).distinct().limit(n)


def assign_unique_id(df: DataFrame, col_name: str = "unique_id") -> DataFrame:
    """AssignUniqueIdOperator.java:166 → monotonically_increasing_id
    (partition-prefixed counter: unique across the cluster, not dense —
    same contract as Presto's operator)."""
    return df.withColumn(col_name, F.monotonically_increasing_id())


def mark_distinct(df: DataFrame, cols: list[str], marker: str = "is_distinct") -> DataFrame:
    """MarkDistinctOperator.java:199: flag the first row of each key
    group.  Needs a total order inside the key for determinism — uses
    all remaining columns as tie-break."""
    others = [c for c in df.columns if c not in cols]
    w = Window.partitionBy(*cols).orderBy(*[F.col(c) for c in others] or [F.lit(1)])
    return df.withColumn(marker, F.row_number().over(w) == 1)


def unnest(
    df: DataFrame, array_col: str, out_col: str, with_ordinality: bool = False
) -> DataFrame:
    """UNNEST (UnnestOperator.java:327); ordinality is 1-based like Presto."""
    if with_ordinality:
        ex = df.select(
            "*", F.posexplode(F.col(array_col)).alias("__pos", out_col)
        )
        return ex.withColumn("ordinality", F.col("__pos") + 1).drop("__pos", array_col)
    return df.select("*", F.explode(F.col(array_col)).alias(out_col)).drop(array_col)


def groups_frame(
    df: DataFrame,
    partition_by: list[str],
    order_col: str,
    n_preceding: int,
    n_following: int,
    aggs: dict[str, Column],
) -> DataFrame:
    """GROUPS window frames, which Spark lacks (WindowNode.java:323-330
    lists GROUPS; Spark supports only ROWS/RANGE).

    A GROUPS frame counts *peer groups* (rows tying on the order key)
    instead of physical rows.  Emulation: dense_rank() numbers the peer
    groups 1..n consecutively, so a RANGE frame over dense_rank with
    the same offsets is exactly the GROUPS frame.  Two window passes
    over one shuffle (both windows share partitioning+ordering, so
    Spark evaluates them in a single WindowExec sort).

    ``aggs`` maps output column name → aggregate Column (built with the
    ``value`` columns, e.g. ``{"s": F.sum("v")}``); each is applied
    over the emulated frame.
    """
    order_window = Window.partitionBy(*partition_by).orderBy(order_col)
    with_dr = df.withColumn("__dr", F.dense_rank().over(order_window))
    frame = (
        Window.partitionBy(*partition_by)
        .orderBy("__dr")
        .rangeBetween(-n_preceding, n_following)
    )
    out = with_dr
    for name, agg in aggs.items():
        out = out.withColumn(name, agg.over(frame))
    return out.drop("__dr")

