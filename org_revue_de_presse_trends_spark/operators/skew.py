"""Skew mitigation for hot join keys.

Two layers of defense at 100 TB:

1. AQE skew-join splitting (``spark.sql.adaptive.skewJoin.enabled``,
   on by default in our session factory) — handles skew detected at
   runtime from shuffle statistics.
2. ``salted_join`` below — explicit salting for *known* pathological
   keys (e.g. a viral publisher owning 10% of a day's statuses), or
   engines/planners where AQE can't split (stream-static joins).

Salting trades a ``salt``-times replication of the build side for an
even distribution of the probe side: probe rows get a deterministic
salt in [0, salt), build rows are exploded into all salt values, and
the join key becomes (key, salt).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    on: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Join ``skewed`` (probe side, hot keys) with ``small`` (build
    side, replicated ``salt``×) on column ``on``.

    The probe-side salt is a deterministic hash of the whole row
    (xxhash64 over all columns) so repeated runs produce identical
    partitioning — no rand(), keeping the plan reproducible.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins")
    probe = skewed.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in skewed.columns]), F.lit(salt)),
    )
    build = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    joined = probe.join(build, on=[on, "__salt"], how=how)
    return joined.drop("__salt")


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
