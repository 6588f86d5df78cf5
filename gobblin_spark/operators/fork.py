"""Fork operator: route one batch to N branches, each with its own filter
(≈ ForkOperator / Forker, gobblin-api/.../fork/ForkOperator.java:36-71,
gobblin-runtime/.../fork/Fork.java:120-516).

Spark shape (SURVEY §2.5): each branch is a filter over the one batch — copy
semantics are free on immutable rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def fork_counts(df: DataFrame, branches: dict[str, Column]) -> DataFrame:
    """Routing summary: rows matched per branch (a record may match several
    branches — Gobblin's boolean-vector semantics)."""
    aggs = [
        F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(name)
        for name, cond in branches.items()
    ]
    wide = df.agg(*aggs)
    names = list(branches)
    stacked = wide.selectExpr(
        f"stack({len(names)}, "
        + ", ".join(f"'{n}', `{n}`" for n in names)
        + ") as (branch, n_rows)"
    )
    return stacked

