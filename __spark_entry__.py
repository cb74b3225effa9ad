"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query (the trends-pipeline shape) at
sf0.001.  ``queries()`` / ``oracle_sql()`` — the full registered suite
from org_revue_de_presse_trends_spark.plans (one entry per implemented
SURVEY §2 / LLM-pipeline operator; oracle present whenever the op is
SQL-expressible).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from org_revue_de_presse_trends_spark import plans  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return plans.QUERIES["daily_top_events"](spark, "/root/testdata/sf0.001")


#: Driver-window rotation (r6 verdict item 6, continued per round):
#: the driver re-generates fixtures between rounds, so oracled queries
#: that sit permanently past its 50-slot window would only catch
#: cross-engine drift via the in-repo sf0.01 gate.  Each round the
#: next batch of overflow-oracled queries moves INTO the window
#: (emitted first); the previous rotation returns to registration
#: order.  tests/test_driver_contract.py pins both resulting sets.
#:
#: r12 batch: the 50 OLDEST-verified oracled queries, computed from
#: the CORRECTNESS_r01..r11 archives (last-verified round ascending,
#: then registration order): all 47 r9-verified queries (joins /
#: argmax / asof / topk, the URL family, the eval octet, TPC-H
#: q2/q3/q5/q11, sessionize / rollup / windows) plus the 3 oldest r10
#: fills (daily_top_events, dedup_minhash_md5, dedup_simhash_md5).
#: The r11 batch returns to the overflow set.  Next rotation: the
#: remaining r10 batch, oldest-verified first (CLAUDE.md "r13 starting
#: points" (a)).
WINDOW_ROTATION = [
    "argmax_event_per_user", "asof_click_before_purchase",
    "cube_lineitem_stats", "disjunctive_join_nation_customer",
    "doc_length_lang_auc_by_source", "doc_rule_agreement_kappa",
    "domain_blocklist_audit", "domain_doc_caps", "duplicate_line_keys",
    "event_type_value_chi2", "event_type_value_mi", "event_value_auc",
    "event_value_calibration", "event_value_threshold_metrics",
    "events_json_extract", "events_time_rollup", "events_type_pivot",
    "except_all_returned_not_finished", "except_big_only_parts",
    "grouping_sets_order_stats", "intersect_repeat_customers",
    "large_volume_customers", "lateral_top2_orders_per_customer",
    "nation_pair_revenue", "order_rank_features",
    "orders_above_customer_avg", "orders_excluding_building_anti",
    "orders_left_join_big_lines", "orders_of_building_semi",
    "orders_price_bands", "orders_with_late_lines",
    "q11_important_part_values", "q2_min_cost_supplier",
    "q3_top_revenue_orders", "q5_supplier_nation_revenue",
    "qty_price_correlation", "qty_price_spearman", "rollup_order_stats",
    "running_total_per_customer", "sessionize_events",
    "topk_orders_paginated", "union_order_variants", "url_canonical_dedup",
    "url_content_staleness", "url_robots_audit", "user_value_zscores",
    "value_percentiles_exact", "daily_top_events", "dedup_minhash_md5",
    "dedup_simhash_md5",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registered suite: rotation set first, then remaining oracled
    queries, then rows-only.

    The driver evaluates only the first 50 entries.  Oracled queries
    carry the hard hash-vs-DuckDB signal, so they are emitted ahead of
    rows-only ones; within each class registration order is preserved
    (stable sort), so additions never displace the evaluated window —
    tests/test_driver_contract.py pins the exact window contents and
    the deliberate overflow set (gated by the in-repo contract test).
    """
    rot = {n: i for i, n in enumerate(WINDOW_ROTATION)}
    ordered = sorted(
        plans.QUERIES.items(),
        key=lambda kv: (
            0 if kv[0] in rot else (1 if kv[0] in plans.ORACLES else 2),
            rot.get(kv[0], 0),
        ),
    )
    return dict(ordered)


def oracle_sql() -> dict[str, str]:
    return dict(plans.ORACLES)
