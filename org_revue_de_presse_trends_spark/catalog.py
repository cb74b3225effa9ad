"""Table loaders for the driver-generated parquet fixtures.

The reference reads five PostgreSQL tables through a DSN (reference
trends.go:215-223); our engine abstracts the source behind a loader.
Every CLI path reads parquet today; ``sources.jdbc`` holds the JDBC
reader, which no CLI path calls yet.
Parquet scans get vectorized reads + predicate pushdown + column pruning
from Spark for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Driver fixture tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _nanos_ts_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark can't read
    them natively (PARQUET_TYPE_ILLEGAL); we read them as long and
    truncate to microseconds, matching DuckDB's ns→us scan behavior."""
    import pyarrow.parquet as pq
    import pyarrow.types as pat

    schema = pq.read_schema(path)
    return [
        f.name
        for f in schema
        if pat.is_timestamp(f.type) and f.type.unit == "ns"
    ]


#: analyzed-DataFrame cache: (applicationId, path) → (mtime, DataFrame).
#: Every load_table call otherwise pays a JVM footer read + file
#: listing (~50-100 ms/table of plan-build; a 6-table TPC-H query
#: spends ~0.6 s of DRIVER time just re-resolving schemas).  The mtime
#: key invalidates when a fixture is regenerated in-place; the appId
#: key scopes to the live session.  DataFrames are immutable, so
#: sharing the analyzed object across queries is safe.
_TABLE_CACHE: dict = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame (lazy parquet scan).

    Timestamp normalization happens HERE, at the load boundary, so every
    downstream plan sees session-tz (UTC) ``timestamp`` regardless of how
    the fixture generator stored the column. The driver has regenerated
    fixtures across rounds (TIMESTAMP(NANOS) → timestamp[us]); we stay
    tolerant of both:

    - naive micros (``timestamp[us]``, isAdjustedToUTC=false): Spark 4
      reads these as TIMESTAMP_NTZ by default, which breaks long casts
      and ``withWatermark``. Disabling ``inferTimestampNTZ`` restores the
      LTZ read *at the scan* so ts predicates still push down to parquet
      (a post-read cast would sit in a Project above the scan and block
      pushdown).
    - TIMESTAMP(NANOS): illegal for Spark's vectorized reader; read as
      long and truncate to micros, matching DuckDB's ns→us scan.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        mtime = None  # missing/remote path: let spark.read surface it
    # keyed by (appId, path) with the mtime stored IN the entry: a
    # regenerated fixture replaces its slot instead of leaking the old
    # analyzed plan for the process lifetime (r6 review finding)
    cache_key = (spark.sparkContext.applicationId, path)
    cached = _TABLE_CACHE.get(cache_key)
    if cached is not None and cached[0] == mtime:
        return cached[1]
    ns_cols = _nanos_ts_columns(path)
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        df = df.withColumn(
            c, F.expr(f"timestamp_micros(CAST(`{c}` DIV 1000 AS BIGINT))")
        )
    # Belt-and-suspenders: if a future Spark ignores the conf (or a new
    # fixture type slips through), surface LTZ anyway. Session tz is
    # pinned UTC so the cast is a pure type relabel, not a value shift.
    ntz_cols = [
        f.name for f in df.schema.fields if f.dataType.typeName() == "timestamp_ntz"
    ]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    # evict entries bound to other (stopped) sessions on insert:
    # processes that cycle SparkSessions (test suites) would otherwise
    # accumulate analyzed DataFrames pinned to dead JVM state for the
    # process lifetime (r6 ADVICE)
    live = cache_key[0]
    for k in [k for k in _TABLE_CACHE if k[0] != live]:
        del _TABLE_CACHE[k]
    _TABLE_CACHE[cache_key] = (mtime, df)
    return df
