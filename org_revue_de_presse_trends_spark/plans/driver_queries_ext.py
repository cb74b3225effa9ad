"""Extended driver-query suite: windowed analytics, sessionization,
correlated aggregates, conditional pivots — beyond-reference
analytics surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import query


@query(
    "sessionize_events",
    """
    WITH gaps AS (
        SELECT event_id, user_id, ts,
               CASE WHEN ts - lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                    ) > INTERVAL 30 MINUTE
                    OR lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                    ) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    )
    SELECT event_id, user_id,
           CAST(SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS session_id
    FROM gaps
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-minute-gap sessions via lag + running sum —
    the batch formulation of stateful session windows.  One
    shuffle on user_id serves both window passes.  The gap is compared
    in microseconds (the oracle's INTERVAL precision): a whole-second
    cast would keep a 1800.27 s gap inside one session."""
    ev = load_table(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts"))
    gap = ts_us - F.lag(ts_us).over(order)
    new_session = F.when(
        gap.isNull() | (gap > 30 * 60 * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    running = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(new_session).over(running).alias("session_id"),
    )


@query(
    "orders_above_customer_avg",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM (
        SELECT o_orderkey, o_custkey, o_totalprice,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    OVER (PARTITION BY o_custkey) AS DOUBLE)
                 / CAST(COUNT(*) OVER (PARTITION BY o_custkey) AS DOUBLE)
                 AS cust_avg,
               COUNT(*) OVER (PARTITION BY o_custkey) AS cust_n
        FROM orders
    )
    WHERE cust_n >= 2 AND o_totalprice > 1.5 * cust_avg
    """,
)
def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-aggregate filter (the decorrelated form of TPC-H
    Q17/Q22's scalar subqueries): windowed avg instead of a self-join.

    The mean is computed as decimal-exact sum / count (a plain double
    AVG's value depends on summation order, which is engine-defined —
    a row sitting near the 1.5x threshold could then flip between
    engines)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    cust_avg = (
        F.sum(F.expr("CAST(o_totalprice AS DECIMAL(18,2))")).over(w)
        .cast("double")
        / F.count(F.lit(1)).over(w).cast("double")
    )
    return (
        o.select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            cust_avg.alias("cust_avg"),
            F.count(F.lit(1)).over(w).alias("cust_n"),
        )
        .filter((F.col("cust_n") >= 2)
                & (F.col("o_totalprice") > 1.5 * F.col("cust_avg")))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@query(
    "events_type_pivot",
    """
    SELECT CAST(ts - INTERVAL 1 HOUR AS DATE) AS day,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
    FROM events
    GROUP BY day
    """,
)
def events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregation pivot: one shuffle, no PIVOT operator
    needed (and the explicit form is what Spark's pivot() compiles to
    when values are known)."""
    from ..functions.expressions import civil_day

    ev = load_table(spark, sf_dir, "events")
    counts = [
        F.sum(
            F.when(F.col("event_type") == t, 1).otherwise(0)
        ).alias(f"n_{t}")
        for t in ("click", "view", "purchase", "signup", "error")
    ]
    return (
        ev.select(civil_day(F.col("ts")).alias("day"), "event_type")
        .groupBy("day")
        .agg(*counts)
    )


@query(
    "duplicate_line_keys",
    """
    SELECT l_orderkey, l_partkey, COUNT(*) AS n_lines
    FROM lineitem
    GROUP BY l_orderkey, l_partkey
    HAVING COUNT(*) > 1
    """,
)
def duplicate_line_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column key dedup census (A5): the groupBy formulation of
    dropDuplicates, reporting the duplicate groups."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_orderkey", "l_partkey")
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .filter(F.col("n_lines") > 1)
    )


@query(
    "cube_lineitem_stats",
    """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS total_qty
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
)
def cube_lineitem_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cube (A6 companion to rollup_order_stats).
    `spread_for_cpu`: Expand quadruples every row BEFORE the partial
    aggregate, all inside the scan stage's few splits."""
    from ..operators.skew import spread_for_cpu

    l = spread_for_cpu(load_table(spark, sf_dir, "lineitem"))
    return l.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("CAST(l_quantity AS DECIMAL(18,6))"))
        .cast("double")
        .alias("total_qty"),
    )


@query(
    "orders_price_bands",
    """
    WITH bands(band, lo, hi) AS (
        VALUES ('low', 0.0, 100000.0),
               ('mid', 100000.0, 300000.0),
               ('high', 300000.0, 1000000.0)
    )
    SELECT band, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM orders
    JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band
    """,
)
def orders_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join: fact rows matched into [lo, hi) intervals of
    a tiny dimension.  The dim side is broadcast, so the theta-join is
    a BroadcastNestedLoop over 3 rows — the standard banded-join shape
    (at scale with many bands: bucketize the probe key first and
    equi-join on the band id)."""
    o = load_table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [("low", 0.0, 100000.0), ("mid", 100000.0, 300000.0),
         ("high", 300000.0, 1000000.0)],
        ["band", "lo", "hi"],
    )
    return (
        o.join(
            F.broadcast(bands),
            (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.expr("CAST(o_totalprice AS DECIMAL(18,2))"))
            .cast("double")
            .alias("total_price"),
        )
    )


@query(
    "events_time_rollup",
    """
    SELECT date_trunc('hour', ts - INTERVAL 1 HOUR) AS bucket_hour,
           CAST(ts - INTERVAL 1 HOUR AS DATE) AS bucket_day,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY GROUPING SETS ((bucket_hour), (bucket_day), ())
    """,
)
def events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup (hour / day / total)
    in one pass via grouping sets — the batch form of a continuous
    aggregate hierarchy; each granularity lands in its own partition
    of a rollup lake."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias(
            "bucket_hour"
        ),
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).cast("date").alias(
            "bucket_day"
        ),
        "user_id",
    )
    return (
        ev.groupingSets(
            [["bucket_hour"], ["bucket_day"], []],
            "bucket_hour",
            "bucket_day",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@query("ann_ivf_topk")  # centroid assignment is engine-side: rows-only
def ann_ivf_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors (the 100 TB ANN path): coarse
    cells from deterministic seed vectors, n_probe=4 of 8 cells
    searched per query.  Recall vs the exact brute-force baseline is
    property-tested (tests/test_operators.py)."""
    from ..operators.similarity import ivf_topk, train_centroids

    e = load_table(spark, sf_dir, "embeddings")
    cents = train_centroids(e, n_cells=8)
    return ivf_topk(
        e, e.filter(F.col("vec_id") < 5), cents, k=10, n_probe=4
    )


@query("ann_pq_topk")  # codebook assignment is engine-side: rows-only
def ann_pq_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with exact re-ranking (TPAMI 2011 ADC
    pipeline): 8 subspaces × 16 codes = 8-byte codes per vector,
    asymmetric-distance shortlist of 50, exact cosine re-rank to
    top-10.  Codebooks are the deterministic hash-order seed
    subvectors (iters=0) so the result is bit-stable for the golden
    hash; Lloyd-refined codebooks are recall-gated in
    tests/test_operators.py."""
    from ..operators.similarity import pq_topk_rerank, train_pq_codebooks
    from ..operators.skew import spread_for_cpu

    e = load_table(spark, sf_dir, "embeddings")
    books = train_pq_codebooks(e, m=8, n_codes=16, iters=0)
    # the embeddings fixture arrives as ONE parquet split — spread the
    # CPU-bound interpreted assignment across cores (no-op when the
    # scan already has >= cores splits, i.e. at any real scale)
    return pq_topk_rerank(
        spread_for_cpu(e),
        e.filter(F.col("vec_id") < 5),
        books,
        k=10,
        shortlist=50,
    )


@query(
    "order_rank_features",
    """
    SELECT o_orderkey, o_custkey,
           CAST(rank() OVER w AS BIGINT) AS price_rank,
           CAST(dense_rank() OVER w AS BIGINT) AS price_dense_rank,
           CAST(ntile(4) OVER w AS BIGINT) AS price_quartile,
           lag(o_orderkey) OVER w AS prev_orderkey,
           lead(o_orderkey) OVER w AS next_orderkey,
           first_value(o_orderkey) OVER (
               PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS top_orderkey
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def order_rank_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ranking-window family (rank/dense_rank/ntile/lag/lead/
    first_value) over a total order — one shuffle serves all six."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.rank().over(w).cast("long").alias("price_rank"),
        F.dense_rank().over(w).cast("long").alias("price_dense_rank"),
        F.ntile(4).over(w).cast("long").alias("price_quartile"),
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
        F.first("o_orderkey").over(w_full).alias("top_orderkey"),
    )


@query(
    "large_volume_customers",
    """
    SELECT c_custkey, o_orderkey,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
    )
    GROUP BY c_custkey, o_orderkey
    """,
)
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN-subquery over a grouped HAVING — the
    subquery becomes a semi-join against the pre-aggregated key set
    (aggregate shrinks before the join, decimal-exact threshold)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    big_keys = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.expr("CAST(l_quantity AS DECIMAL(18,2))")).alias("q"))
        .filter(F.col("q") > 150)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .join(big_keys, F.col("o_orderkey") == F.col("big_orderkey"),
              "left_semi")
        .groupBy("c_custkey", "o_orderkey")
        .agg(
            F.sum(F.expr("CAST(l_quantity AS DECIMAL(18,2))"))
            .cast("double")
            .alias("total_qty")
        )
    )


@query(
    "user_value_zscores",
    """
    SELECT event_id, user_id,
           (value - _mean) / sqrt(_var) AS z
    FROM (
        SELECT event_id, user_id, value, _mean, _n,
               CAST(SUM(CAST((value - _mean) * (value - _mean)
                             AS DECIMAL(24,6)))
                    OVER (PARTITION BY user_id) AS DOUBLE) / _n AS _var
        FROM (
            SELECT event_id, user_id, value,
                   CAST(SUM(CAST(value AS DECIMAL(18,6)))
                        OVER (PARTITION BY user_id) AS DOUBLE)
                     / CAST(COUNT(*) OVER (PARTITION BY user_id) AS DOUBLE)
                     AS _mean,
                   CAST(COUNT(*) OVER (PARTITION BY user_id) AS DOUBLE) AS _n
            FROM events
        )
    )
    WHERE _var > 0
    """,
)
def user_value_zscores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score normalization (population variance) — the JVM
    window formulation; the applyInPandas grouped-map twin
    (operators/grouped.py) is equivalence-tested against it."""
    from ..operators.grouped import zscore_jvm

    return zscore_jvm(load_table(spark, sf_dir, "events"))


@query(
    "value_percentiles_exact",
    """
    SELECT event_type,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.9) AS p90,
           quantile_cont(value, 0.99) AS p99,
           MIN(value) AS lo,
           MAX(value) AS hi
    FROM events
    GROUP BY event_type
    """,
)
def value_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles — Spark's percentile() and
    DuckDB's quantile_cont use the same linear interpolation, verified
    bit-equal.  The constant-memory sketch counterpart is
    approx_sketch_stats."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.9)").alias("p90"),
        F.expr("percentile(value, 0.99)").alias("p99"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    )


@query("approx_sketch_stats")  # sketch outputs are engine-specific: rows-only
def approx_sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based aggregates for the 100 TB path: HyperLogLog++
    distinct counts and approximate quantiles per event type — the
    constant-memory substitutes for exact distinct/percentile at scale.
    No DuckDB oracle (sketch estimates are engine-specific); bounds are
    asserted in tests/test_operators.py instead.  Quantiles are emitted
    as three scalar columns (not an array) so downstream row
    canonicalization stays hashable."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.percentile_approx("value", F.lit(0.5), F.lit(10000)).alias("approx_p50"),
        F.percentile_approx("value", F.lit(0.9), F.lit(10000)).alias("approx_p90"),
        F.percentile_approx("value", F.lit(0.99), F.lit(10000)).alias("approx_p99"),
        F.count(F.lit(1)).alias("n_events"),
    )


# (first_last_event_per_user merged into q:argmax_event_per_user — same
# per-user grain, one shared hash aggregate; keeps the oracled suite
# inside the driver's 50-query evaluation window.)


# ---------------------------------------------------------------------------
# Set operations beyond UNION (SURVEY §2.7 widening: the reference only
# unions variant runs; INTERSECT / EXCEPT / EXCEPT ALL are the missing
# members of the family and compile to distinct plan shapes in Spark —
# aggregate-then-join for distinct set ops, a left-anti-with-counts
# shape for EXCEPT ALL)
# ---------------------------------------------------------------------------

@query(
    "intersect_repeat_customers",
    """
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    INTERSECT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def intersect_repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct): customers active in both 1995 and 1996.
    Spark plans this as a distinct aggregate on each side + semi join —
    both sides shrink before the shuffle."""
    o = load_table(spark, sf_dir, "orders")
    y95 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    return y95.intersect(y96)


@query(
    "except_big_only_parts",
    """
    SELECT l_partkey FROM lineitem WHERE l_quantity >= 45
    EXCEPT
    SELECT l_partkey FROM lineitem WHERE l_quantity <= 10
    """,
)
def except_big_only_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): parts that ever shipped in bulk (>=45) but
    never in small quantities — an anti-join over pre-distincted sides."""
    li = load_table(spark, sf_dir, "lineitem")
    big = li.filter(F.col("l_quantity") >= 45).select("l_partkey")
    small = li.filter(F.col("l_quantity") <= 10).select("l_partkey")
    return big.subtract(small)


@query(
    "except_all_returned_not_finished",
    """
    SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
    EXCEPT ALL
    SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F'
    """,
)
def except_all_returned_not_finished(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXCEPT ALL (multiset): per-key multiplicities subtract instead of
    collapsing — the duplicate-preserving variant the distinct set ops
    can't express.  Spark compiles this to a count-aggregate + generate
    (replicate surviving multiplicities), one shuffle per side."""
    li = load_table(spark, sf_dir, "lineitem")
    returned = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    finished = li.filter(F.col("l_linestatus") == "F").select("l_orderkey")
    return returned.exceptAll(finished)


@query(
    "grouping_sets_order_stats",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                AS DOUBLE) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (A6 family, completing rollup/cube): two
    independent one-dimension aggregates plus the grand total in ONE
    pass — Spark expands the sets and map-side-combines per grouping id,
    one shuffle total vs three separate groupBys."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum(F.expr("CAST(o_totalprice AS DECIMAL(18,2))")), 2)
        .cast("double")
        .alias("total_price"),
    )


@query(
    "lateral_top2_orders_per_customer",
    """
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c JOIN LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) t ON true
    """,
)
def lateral_top2_orders_per_customer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT — the
    decorrelation family: Catalyst rewrites the per-row subquery into a
    join + windowed rank, so the plan is one shuffle, not |customer|
    subquery executions.  Temp views are uuid-suffixed and dropped
    after eager resolution (same concurrency discipline as the
    null-aware anti-join)."""
    import uuid

    tag = uuid.uuid4().hex
    cv, ov = f"__lateral_customer_{tag}", f"__lateral_orders_{tag}"
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(cv)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(ov)
    try:
        return spark.sql(
            f"""
            SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
            FROM {cv} c JOIN LATERAL (
                SELECT o_orderkey, o_totalprice FROM {ov} o
                WHERE o.o_custkey = c.c_custkey
                ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
            ) t
            """
        )
    finally:
        spark.catalog.dropTempView(cv)
        spark.catalog.dropTempView(ov)


@query(
    "qty_price_correlation",
    """
    WITH s AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           (n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qty_price
    FROM s
    """,
)
def qty_price_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family (corr) made cross-engine
    deterministic: the five moment sums are decimal-EXACT (order-
    independent), and both engines then evaluate the identical double
    expression on identical inputs — bit-equal correlations without
    trusting each engine's corr() accumulation order."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.expr(f"CAST({c} AS DECIMAL(18,2))")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(dec("l_quantity")).cast("double").alias("sx"),
        F.sum(dec("l_extendedprice")).cast("double").alias("sy"),
        F.sum(dec("l_quantity") * dec("l_extendedprice")).cast("double").alias("sxy"),
        F.sum(dec("l_quantity") * dec("l_quantity")).cast("double").alias("sxx"),
        F.sum(dec("l_extendedprice") * dec("l_extendedprice")).cast("double").alias("syy"),
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select("l_returnflag", corr.alias("corr_qty_price"))


@query(
    "orders_with_late_lines",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o_orderpriority
    """,
)
def orders_with_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS over a correlated range predicate →
    left-semi join (the probe side deduplicates per order before the
    aggregate; no row multiplication from multi-line orders)."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    semi = o.join(
        l,
        (o.o_orderkey == l.l_orderkey)
        & (l.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


@query(
    "nation_pair_revenue",
    """
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           COUNT(*) AS n_lines,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    GROUP BY supp_nation, cust_nation
    """,
)
def nation_pair_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the five-way fact/dim join with revenue per
    (supplier nation, customer nation) pair.  supplier/customer/nation
    are broadcast; lineitem⋈orders is the only fact shuffle; revenue is
    decimal-exact then rounded before the double cast.  Dead end (r10):
    spread_for_cpu on the lineitem scan measured a WASH at sf0.1 (1.42
    vs 1.35 interleaved best-of-4, within the ~5% noise floor) — the
    per-row work here is two decimal ops, not the cube's 4x Expand."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = F.expr(
        "CAST(l_extendedprice AS DECIMAL(18,2))"
        " * (1 - CAST(l_discount AS DECIMAL(18,2)))"
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("sn_key"),
                                 F.col("n_name").alias("supp_nation"))),
            s.s_nationkey == F.col("sn_key"),
        )
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("cn_key"),
                                 F.col("n_name").alias("cust_nation"))),
            c.c_nationkey == F.col("cn_key"),
        )
        .groupBy("supp_nation", "cust_nation")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum(rev), 2).cast("double").alias("revenue"),
        )
    )


@query(
    "customer_order_distribution",
    """
    SELECT n_orders, COUNT(*) AS n_customers
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey
    )
    GROUP BY n_orders
    """,
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: two-level aggregation — per-customer order
    counts (COUNT over a left join counts matched rows only, so
    order-less customers land in the 0 bucket), then the histogram.
    Second aggregate runs on |customers| rows, trivially cheap."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@query(
    "rolling_30d_customer_revenue",
    """
    SELECT o_orderkey, o_custkey,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
               RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW
           ), 2) AS DOUBLE) AS rolling_30d
    FROM orders
    """,
)
def rolling_30d_customer_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-based RANGE window frame (vs the ROWS frames elsewhere):
    per-customer 30-day rolling revenue.  The frame is value-bounded on
    epoch seconds, so ties are frame-peers in both engines and the
    decimal-exact sum is order-independent — no tiebreaker needed,
    unlike ROWS frames."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-30 * 86400, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(
            F.sum(F.expr("CAST(o_totalprice AS DECIMAL(18,2))")).over(w), 2
        )
        .cast("double")
        .alias("rolling_30d"),
    )


# (union_distinct_active_parties merged into q:union_order_variants —
# that query now carries a UNION DISTINCT leg alongside UNION ALL;
# keeps the oracled suite inside the driver's evaluation window.)
