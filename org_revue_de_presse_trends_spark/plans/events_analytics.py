"""Event-stream analytics extensions (round 5, cont.): burst/spike
detection — the statistical heart of a "trends" engine: a day is a
burst for an event type when its count clears the rolling baseline by
k sample standard deviations.

Registered after corpus_stats — past the driver's 50-slot window; the
in-repo contract test is the oracle gate.

Cross-engine discipline: the baseline window is ROWS-framed over a
total order (one row per (type, day)); mean and variance come from
EXACT integer sums (n·Σx² − (Σx)² arithmetic in decimals), with the
final threshold comparison written textually identically in IEEE
doubles — no float accumulates across rows in either engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.expressions import civil_day
from .registry import query

#: sample variance of the trailing window from exact sums:
#: (n·Σx² − (Σx)²) / (n·(n−1)) — numerator exact in decimals, one
#: double division at the end
_VAR = (
    "(CAST(CAST(np AS DECIMAL(18,0)) * s2 - s1 * s1 AS DOUBLE))"
    " / (CAST(np AS DOUBLE) * CAST(np - 1 AS DOUBLE))"
)

#: burst: count clears mean + 2·stddev of the trailing baseline
#: (needs ≥ 3 prior days; sqrt is IEEE correctly-rounded — identical
#: in both engines given identical inputs)
_BURST = (
    f"np >= 3 AND CAST(c AS DOUBLE) >"
    f" CAST(s1 AS DOUBLE) / CAST(np AS DOUBLE) + 2.0 * SQRT({_VAR})"
)


def burst_flags(daily: DataFrame) -> DataFrame:
    """Burst verdicts over a (event_type, day, c) daily-count frame.
    The window input is one row per (type, day): bounded by
    types × days, never event-scale."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    based = daily.select(
        "event_type",
        "day",
        "c",
        F.count(F.lit(1)).over(w).alias("np"),
        F.sum(F.expr("CAST(c AS DECIMAL(18,0))")).over(w).alias("s1"),
        F.sum(
            F.expr("CAST(c AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0))")
        ).over(w).alias("s2"),
    )
    return based.select(
        "event_type",
        "day",
        F.col("c").cast("long").alias("n_events"),
        F.col("np").cast("long").alias("n_baseline_days"),
        F.expr(
            "CASE WHEN np > 0 THEN CAST(ROUND("
            "CAST(s1 AS DOUBLE) / CAST(np AS DOUBLE), 6) AS DOUBLE) END"
        ).alias("baseline_mean"),
        F.expr(f"COALESCE({_BURST}, FALSE)").alias("burst"),
    )


@query(
    "event_type_daily_bursts",
    f"""
    WITH daily AS (
        SELECT event_type, CAST(ts - INTERVAL 1 HOUR AS DATE) AS day,
               COUNT(*) AS c
        FROM events
        GROUP BY event_type, day
    ),
    based AS (
        SELECT event_type, day, c,
               COUNT(*) OVER w AS np,
               SUM(CAST(c AS DECIMAL(18,0))) OVER w AS s1,
               SUM(CAST(c AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0)))
                   OVER w AS s2
        FROM daily
        WINDOW w AS (
            PARTITION BY event_type ORDER BY day
            ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING
        )
    )
    SELECT event_type, day, CAST(c AS BIGINT) AS n_events,
           CAST(np AS BIGINT) AS n_baseline_days,
           CASE WHEN np > 0 THEN CAST(ROUND(
               CAST(s1 AS DOUBLE) / CAST(np AS DOUBLE), 6) AS DOUBLE)
           END AS baseline_mean,
           COALESCE({_BURST}, FALSE) AS burst
    FROM based
    """,
)
def event_type_daily_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily burst detection per event type: a day is a burst when its
    count exceeds the trailing 7-day baseline's mean by two sample
    standard deviations (min 3 baseline days).  The trends-engine
    spike primitive — the reference surfaces "what peaked today";
    this says "what peaked ABNORMALLY today".

    One civil-day aggregate (corpus-scale work, map-side combined),
    then the shared ``burst_flags`` window.  Mean/variance derive from
    exact integer window sums; only the final threshold comparison
    touches doubles, identically in both engines."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", civil_day(F.col("ts")).alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return burst_flags(daily)


_FUNNEL_WITHIN = 21600  # 6 hours

_FUNNEL_ORACLE = f"""
    WITH s1 AS (
      SELECT user_id, min(ts) AS step_1_ts FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS step_2_ts
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.step_1_ts
        AND e.ts <= s1.step_1_ts + INTERVAL {_FUNNEL_WITHIN} SECOND
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS step_3_ts
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.step_2_ts
        AND e.ts <= s2.step_2_ts + INTERVAL {_FUNNEL_WITHIN} SECOND
      GROUP BY e.user_id
    )
    SELECT s1.user_id, s1.step_1_ts, s2.step_2_ts, s3.step_3_ts,
           CAST(1 + (CASE WHEN s2.step_2_ts IS NULL THEN 0 ELSE 1 END)
                  + (CASE WHEN s3.step_3_ts IS NULL THEN 0 ELSE 1 END)
                AS BIGINT) AS steps_completed
    FROM s1
    LEFT JOIN s2 ON s1.user_id = s2.user_id
    LEFT JOIN s3 ON s1.user_id = s3.user_id
"""


@query("funnel_view_click_purchase", _FUNNEL_ORACLE)
def funnel_view_click_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Greedy-earliest ordered funnel view -> click -> purchase with a
    6-hour per-step window (operators/funnel.funnel_steps): one row
    per user with a view event, step anchors NULL from the first
    break, exactly the ClickHouse-windowFunnel-style product-analytics
    shape the reference's trends engine never had."""
    from ..operators.funnel import funnel_steps

    ev = load_table(spark, sf_dir, "events")
    return funnel_steps(
        ev,
        ["view", "click", "purchase"],
        within_seconds=_FUNNEL_WITHIN,
    )


_RETENTION_ORACLE = """
    WITH activity AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    cohorts AS (
      SELECT user_id, min(d) AS cohort_day FROM activity GROUP BY user_id
    )
    SELECT c.cohort_day,
           CAST(a.d - c.cohort_day AS BIGINT) AS day_offset,
           count(DISTINCT a.user_id) AS n_users
    FROM activity a JOIN cohorts c USING (user_id)
    GROUP BY c.cohort_day, CAST(a.d - c.cohort_day AS BIGINT)
"""


@query("user_retention_cohorts", _RETENTION_ORACLE)
def user_retention_cohorts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity day
    (UTC calendar date), counted on each later active day as an offset
    from their cohort — the standard product-analytics retention
    matrix.  Shape: one distinct (user, day) pass, a per-user min, and
    one aggregate; every exchange keyed on user then (cohort, offset),
    no windows over full history."""
    ev = load_table(spark, sf_dir, "events")
    activity = ev.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    cohorts = activity.groupBy("user_id").agg(
        F.min("d").alias("cohort_day")
    )
    return (
        activity.join(cohorts, "user_id")
        .select(
            "cohort_day",
            F.datediff("d", "cohort_day").cast("long").alias("day_offset"),
            "user_id",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


_TRANSITIONS_ORACLE = """
    WITH ordered AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type,
           count(*) AS n_transitions
    FROM ordered WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
"""


@query("event_type_transitions", _TRANSITIONS_ORACLE)
def event_type_transitions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-order event-path transition counts: per user, events in
    (ts, event_id) total order (the unique-id tiebreak invariant), each
    consecutive pair counted into a (prev_type, next_type) matrix —
    the Markov-chain view behind path/flow analysis."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


_SLIDING_FUNNEL_ORACLE = f"""
    WITH anchors AS (
      SELECT DISTINCT user_id, ts AS t0 FROM events
      WHERE event_type = 'view'
    ),
    s2 AS (
      SELECT a.user_id, a.t0, min(e.ts) AS t2
      FROM events e JOIN anchors a ON e.user_id = a.user_id
      WHERE e.event_type = 'click' AND e.ts > a.t0
        AND e.ts <= a.t0 + INTERVAL {_FUNNEL_WITHIN} SECOND
      GROUP BY a.user_id, a.t0
    ),
    s3 AS (
      SELECT s2.user_id, s2.t0, min(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        AND e.ts <= s2.t0 + INTERVAL {_FUNNEL_WITHIN} SECOND
      GROUP BY s2.user_id, s2.t0
    ),
    lv AS (
      SELECT a.user_id,
             1 + (CASE WHEN s2.t2 IS NULL THEN 0 ELSE 1 END)
               + (CASE WHEN s3.t3 IS NULL THEN 0 ELSE 1 END) AS lvl
      FROM anchors a
      LEFT JOIN s2 ON a.user_id = s2.user_id AND a.t0 = s2.t0
      LEFT JOIN s3 ON a.user_id = s3.user_id AND a.t0 = s3.t0
    )
    SELECT user_id, count(*) AS n_anchors,
           CAST(max(lvl) AS BIGINT) AS best_level,
           count(*) FILTER (WHERE lvl = 3) AS n_full
    FROM lv GROUP BY user_id
"""


@query("funnel_sliding_window", _SLIDING_FUNNEL_ORACLE)
def funnel_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse-windowFunnel semantics for view -> click -> purchase:
    every view anchors its own 6-hour window, the chain advances
    greedily inside it, and each user scores the best anchor
    (operators/funnel.funnel_steps_sliding) — the exhaustive-anchor
    complement to the greedy-earliest funnel_view_click_purchase."""
    from ..operators.funnel import funnel_steps_sliding

    ev = load_table(spark, sf_dir, "events")
    return funnel_steps_sliding(
        ev,
        ["view", "click", "purchase"],
        window_seconds=_FUNNEL_WITHIN,
    )
