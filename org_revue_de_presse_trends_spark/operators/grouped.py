"""Grouped z-score as JVM window expressions.

Per-group logic expressible as window aggregates stays on the JVM:
shipping whole groups into Python through ``applyInPandas`` is an
order of magnitude slower.  q:user_value_zscores is oracled against
DuckDB."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def zscore_jvm(
    df: DataFrame, group_col: str = "user_id", value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-group z-score via two window passes over ONE shuffle (the
    second Window reuses the first's partitioning).  Mean and variance
    go through exact decimal sums so the result is engine-deterministic
    (population variance, ddof=0)."""
    w = Window.partitionBy(group_col)
    n = F.count(F.lit(1)).over(w).cast("double")
    mean = (
        F.sum(F.expr(f"CAST({value_col} AS DECIMAL(18,6))")).over(w)
        .cast("double")
        / n
    )
    step1 = df.select(
        id_col, group_col, value_col,
        mean.alias("_mean"), n.alias("_n"),
    )
    dev = F.col(value_col) - F.col("_mean")
    var = (
        F.sum((dev * dev).cast("decimal(24,6)")).over(w).cast("double")
        / F.col("_n")
    )
    return (
        step1.select(
            id_col, group_col,
            (dev / F.sqrt(var)).alias("z"),
            var.alias("_var"),
        )
        .filter(F.col("_var") > 0)
        .drop("_var")
    )
