"""Skew and small-input layout helpers.

Hot join keys are left to AQE skew-join splitting
(``spark.sql.adaptive.skewJoin.enabled``, on in the session factory),
which splits skewed partitions at runtime from shuffle statistics.
What stays here is ``spread_for_cpu``: spreading a small input that
arrives as too few splits across the cluster's cores before a
CPU-heavy per-row stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_for_cpu(df: DataFrame, min_factor: int = 1) -> DataFrame:
    """Round-robin repartition a DataFrame whose INPUT layout has
    fewer partitions than the cluster has cores, so CPU-bound per-row
    stages (interpreted HOFs, regex, vector math) parallelize.

    Guarded: a no-op when the plan already has >= cores ×
    ``min_factor`` partitions — at 100 TB a scan has thousands of
    splits and this never fires; it exists for the small-file /
    single-split layout where one task would serialize an entire
    CPU-heavy map stage (a 5 MB parquet of 2000 embeddings arrives as
    ONE split regardless of cluster size).  The repartition it may add
    is narrow in cost terms: rows × row-width of a SMALL input, by
    construction of the guard."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= cores * min_factor:
        return df
    return df.repartition(cores)
