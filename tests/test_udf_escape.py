"""Day-partitioned lake: the civil-day filter becomes partition
pruning.  (The one remaining pandas UDF, ``nfc_normalize_pandas``, is
checked against DuckDB in test_retrieval.)"""

from __future__ import annotations

from pyspark.sql import functions as F

from org_revue_de_presse_trends_spark.catalog import load_table

SF = "/root/testdata/sf0.001"


def test_lake_partition_pruning(spark, tmp_path):
    """Scale evidence: a day-partitioned lake turns the F1 day filter
    into partition pruning (plan shows the partition filter and no
    pushed data filter on day)."""
    import io, contextlib

    from org_revue_de_presse_trends_spark.functions.expressions import (
        civil_day,
    )
    from org_revue_de_presse_trends_spark.sources.lake import (
        write_partitioned,
    )

    lake = str(tmp_path / "events_lake")
    ev = load_table(spark, SF, "events").withColumn(
        "day", civil_day(F.col("ts"))
    )
    write_partitioned(ev, lake, partition_by=("day",))
    one_day = spark.read.parquet(lake).filter(
        F.col("day") == "2024-01-05"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        one_day.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters: [isnotnull(day" in plan
    n_all = spark.read.parquet(lake).count()
    n_day = one_day.count()
    assert 0 < n_day < n_all
