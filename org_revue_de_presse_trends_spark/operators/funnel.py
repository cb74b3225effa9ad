"""Ordered-funnel analysis over an event stream.

The classic product-analytics shape (ClickHouse ``windowFunnel``,
Amplitude funnels): how far does each user get through an ordered
sequence of step event types, where each step must happen strictly
after the previous one and (optionally) within a bounded time window
of it.

Semantics here are GREEDY-EARLIEST and documented as such: step 1
anchors at the user's earliest step-1 event, and step i anchors at the
earliest step-i event strictly after step i-1's anchor (and within
``within_seconds`` of it when set).  Greedy-earliest is deterministic
and SQL-mirrorable; it can differ from the "best sliding window"
variant when a later anchor would have caught a bounded window that
the earliest one misses — callers wanting sliding semantics re-run
with a different anchor step.

Scale shape: one filter+aggregate per step plus one equi-join per
step transition, every exchange keyed on the user column — Catalyst
reuses the hash partitioning across all k stages, so the whole funnel
is one shuffle of the (filtered) event stream per step and never a
window over the full per-user history.  Reference parity: the
reference engine (trends.go) has no funnel concept; this extends the
events-analytics surface (SURVEY §2.9 family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def funnel_steps(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    within_seconds: int | None = None,
) -> DataFrame:
    """One row per user with at least one step-1 event:
    (user, step_1_ts .. step_k_ts, steps_completed), where
    ``step_i_ts`` is NULL from the first uncompleted step onward and
    ``steps_completed`` counts the non-null anchors (long).
    """
    if len(steps) < 2:
        raise ValueError("funnel needs at least two steps")
    ev = events.select(
        F.col(user_col).alias("__u"),
        F.col(ts_col).alias("__ts"),
        F.col(type_col).alias("__ty"),
    )
    cur = (
        ev.filter(F.col("__ty") == steps[0])
        .groupBy("__u")
        .agg(F.min("__ts").alias("step_1_ts"))
    )
    for i, s in enumerate(steps[1:], start=2):
        prev = f"step_{i - 1}_ts"
        bound = F.col(prev)
        upper = (
            (F.col("__ts") <= bound + F.expr(
                f"INTERVAL {int(within_seconds)} SECOND"
            ))
            if within_seconds is not None
            else F.lit(True)
        )
        cand = (
            ev.filter(F.col("__ty") == s)
            .join(cur.select("__u", prev), "__u")
            .where((F.col("__ts") > bound) & upper)
            .groupBy("__u")
            .agg(F.min("__ts").alias(f"step_{i}_ts"))
        )
        cur = cur.join(cand, "__u", "left")
    completed = sum(
        (
            F.when(F.col(f"step_{i}_ts").isNotNull(), 1).otherwise(0)
            for i in range(2, len(steps) + 1)
        ),
        F.lit(1),
    )
    return cur.select(
        F.col("__u").alias(user_col),
        *[f"step_{i}_ts" for i in range(1, len(steps) + 1)],
        completed.cast("long").alias("steps_completed"),
    )


def funnel_steps_sliding(
    events: DataFrame,
    steps: list[str],
    window_seconds: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """The ClickHouse-``windowFunnel`` semantic: every step-1 event
    anchors its OWN window of ``window_seconds``, the chain advances
    greedily inside that fixed window (each step strictly after the
    previous one, all steps within the anchor's window), and the user
    scores the best anchor.  Unlike ``funnel_steps`` — whose single
    earliest anchor can miss a window a later anchor would catch —
    this is exhaustive over anchors, the standard product-analytics
    definition.

    Per user: (user, n_anchors, best_level, n_full) where
    ``best_level`` is the deepest step reached from any anchor and
    ``n_full`` counts anchors that complete the whole funnel.

    Scale shape: anchors are the step-1 event stream (one row per
    step-1 event, NOT per event); each transition is one equi-join on
    the user plus a (user, anchor) aggregate — all exchanges keyed on
    the user column, reused across stages.  Greedy-within-fixed-window
    is exact: with the upper bound fixed at anchor + window, taking
    the earliest valid next event can only leave MORE room for later
    steps (exchange argument), so no completion is missed.
    """
    if len(steps) < 2:
        raise ValueError("funnel needs at least two steps")
    ev = events.select(
        F.col(user_col).alias("__u"),
        F.col(ts_col).alias("__ts"),
        F.col(type_col).alias("__ty"),
    )
    limit = F.expr(f"INTERVAL {int(window_seconds)} SECOND")
    cur = (
        ev.filter(F.col("__ty") == steps[0])
        .select("__u", F.col("__ts").alias("t0"))
        .distinct()
        .withColumn("step_1_ts", F.col("t0"))
    )
    for i, s in enumerate(steps[1:], start=2):
        prev = f"step_{i - 1}_ts"
        cand = (
            ev.filter(F.col("__ty") == s)
            .join(cur.select("__u", "t0", prev), "__u")
            .where(
                (F.col("__ts") > F.col(prev))
                & (F.col("__ts") <= F.col("t0") + limit)
            )
            .groupBy("__u", "t0")
            .agg(F.min("__ts").alias(f"step_{i}_ts"))
        )
        cur = cur.join(cand, ["__u", "t0"], "left")
    level = sum(
        (
            F.when(F.col(f"step_{i}_ts").isNotNull(), 1).otherwise(0)
            for i in range(2, len(steps) + 1)
        ),
        F.lit(1),
    )
    k = len(steps)
    return cur.select(
        "__u", level.alias("__lvl")
    ).groupBy("__u").agg(
        F.count(F.lit(1)).alias("n_anchors"),
        F.max("__lvl").cast("long").alias("best_level"),
        F.count(F.when(F.col("__lvl") == k, 1)).alias("n_full"),
    ).select(
        F.col("__u").alias(user_col), "n_anchors", "best_level", "n_full"
    )
