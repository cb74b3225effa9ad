"""Named column expressions for the trends domain (SURVEY.md §2.2).

Each function mirrors one scalar-expression operator of the reference,
cited by trends.go line.  An operator is written once, as SQL text
(``*_sql``, spliced into the statements of plans/trends.py);
``civil_day``, which Column callers use, is ``F.expr`` over that text.
All are built-in Spark expressions — JVM-side, whole-stage-codegen'd;
zero Python UDFs (SURVEY §2.10: none are needed for parity).
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import get_lit_sql_str


def sql_text(col: Column) -> str:
    """SQL text of a column reference, or of a cast of one, as the
    ``spark.sql`` string formatter renders it."""
    return SparkSession.active()._jsparkSession.expression(col._jc).sql()


def civil_day_sql(ts: str, shift_hours: int = 1, tz: str | None = None) -> str:
    """Civil-day bucketing (reference trends.go:311,377,399) of the SQL
    expression ``ts``; ``tz`` is SQL text naming the zone (a literal or
    a parameter marker).

    The reference hard-codes ``ts - INTERVAL 1 HOUR → date`` — a
    local(CET)→UTC shift that is correct in winter and off by one hour
    under CEST (SURVEY §1.4).  Default reproduces that exactly; pass a
    ``tz`` such as Europe/Paris for the corrected DST-aware local→UTC
    conversion (same result in winter, -2h in summer).
    """
    if tz is not None:
        return f"to_date(to_utc_timestamp({ts}, {tz}))"
    return f"to_date({ts} - INTERVAL {int(shift_hours)} HOUR)"


def civil_day(ts: Column, shift_hours: int = 1, tz: str | None = None) -> Column:
    """``civil_day_sql`` as a Column; ``tz`` is a zone id."""
    return F.expr(civil_day_sql(
        sql_text(ts), shift_hours, None if tz is None else get_lit_sql_str(tz)
    ))


def popularity_sql(
    checked: str, at_collection: str, raw_json_doc: str | None = None,
    json_field: str = "retweet_count",
) -> str:
    """The popularity cascade (reference trends.go:286-287,338-348):
    re-checked value → value at collection → raw API JSON fallback."""
    branches = [checked, at_collection]
    if raw_json_doc is not None:
        branches.append(
            f"CAST(get_json_object({raw_json_doc}, '$.{json_field}') AS INT)"
        )
    return f"coalesce({', '.join(branches)})"


def is_retweet_derived_sql(is_retweet: str, api_document: str) -> str:
    """3-way retweet derivation (reference trends.go:347,378):
    COALESCE(h.is_retweet, doc->>'retweeted_status_result' IS NOT NULL,
    false)."""
    return (
        f"coalesce({is_retweet}, get_json_object({api_document}, "
        "'$.retweeted_status_result') IS NOT NULL, false)"
    )
