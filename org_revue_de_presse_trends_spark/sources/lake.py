"""Partitioned-lake sink: parquet with dynamic partition overwrite.

The DataFrame-native equivalent of the reference's delete-then-write
idempotency (S4, trends.go:656-662): with
``spark.sql.sources.partitionOverwriteMode=dynamic`` (set by our
session factory) an ``overwrite`` only replaces the partitions present
in the incoming data — re-running a day's job rewrites exactly that
day's partitions and leaves history untouched.

Scale note: partitioning by (day, statusType) keeps the day filter a
static partition-pruning predicate for every downstream reader (F1
becomes a directory prune, not a scan filter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = ("day", "statusType"),
    mode: str = "overwrite",
) -> None:
    (
        df.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )
