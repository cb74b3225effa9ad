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

from pyspark.sql import DataFrame, SparkSession


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


def delete_matching(
    spark: SparkSession,
    path: str,
    predicate,
    partition_by: tuple[str, ...] = ("day", "statusType"),
) -> int:
    """Delete every row matching ``predicate`` (a Column) from the
    lake — the takedown / right-to-be-forgotten primitive a training-
    data lake needs.  Returns the number of rows removed.

    Shape: find the PARTITIONS that contain matching rows (a pruned
    aggregation over the partition columns), then rewrite exactly those
    partitions without the matching rows via dynamic partition
    overwrite — untouched partitions are never read or written, so the
    cost scales with the affected data, not the lake.  Idempotent: a
    rerun matches nothing and rewrites nothing.

    The rewrite slice is localCheckpointed before the overwrite because
    its lineage READS the same files the overwrite replaces (the
    classic self-overwrite hazard).

    NULL semantics: under SQL three-valued logic a predicate can
    evaluate to NULL (e.g. ``col('username') == 'bob'`` on a NULL
    username), and such rows satisfy neither ``predicate`` nor
    ``~predicate``.  A takedown must never silently drop them, so the
    match condition is ``coalesce(predicate, false)`` — NULL means KEEP
    — and match/keep partition the slice exactly (``n_removed`` counts
    every row that disappears).

    Partition selection is a broadcast left-semi join against the
    distinct affected-partition frame, not a literal OR-chain: the plan
    stays constant-size no matter how many partitions match, and
    dynamic partition pruning still skips untouched partitions at
    runtime.  NULL-valued partition KEYS are not supported (the hive
    partition layout encodes them as a default-partition directory;
    keep partition columns NOT NULL, as ``write_partitioned`` callers
    do).
    """
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    match = F.coalesce(predicate.cast("boolean"), F.lit(False))
    affected_df = df.filter(match).select(*partition_by).distinct()
    # O(#affected partitions) driver-side — needed anyway for the
    # emptied-directory cleanup below; re-localized as a literal frame
    # so the semi-join build side doesn't re-read the lake.
    affected = affected_df.collect()
    if not affected:
        return 0
    aff_local = spark.createDataFrame(affected, schema=affected_df.schema)
    slice_df = df.join(
        F.broadcast(aff_local), on=list(partition_by), how="left_semi"
    )
    n_removed = slice_df.filter(match).count()
    keep = slice_df.filter(~match).localCheckpoint()
    kept_parts = {
        tuple(str(r[c]) for c in partition_by)
        for r in keep.select(*partition_by).distinct().collect()
    }
    if kept_parts:
        write_partitioned(keep, path, partition_by=partition_by)
    # dynamic overwrite only replaces partitions PRESENT in the written
    # data — a fully-emptied partition must be removed explicitly
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    for row in affected:
        key = tuple(str(row[c]) for c in partition_by)
        if key in kept_parts:
            continue
        sub = "/".join(f"{c}={v}" for c, v in zip(partition_by, key))
        hpath = jvm.org.apache.hadoop.fs.Path(f"{path}/{sub}")
        fs = hpath.getFileSystem(hconf)
        fs.delete(hpath, True)
        # prune now-empty parent partition directories up to the root
        parent = hpath.getParent()
        root = jvm.org.apache.hadoop.fs.Path(path)
        while (
            str(parent) != str(root)
            and fs.exists(parent)
            and len(fs.listStatus(parent)) == 0
        ):
            fs.delete(parent, True)
            parent = parent.getParent()
    return n_removed
