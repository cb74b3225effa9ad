"""Output checks, run outside the clock.

Worker workloads: the written sink tree of a day is compared with a
DuckDB transliteration of the reference SQL for the three published
variants (the same semantics as the repository's golden tests), and the
progress line's COUNT with the reference count query.

Registry workload: each query's rows are compared with its registered
DuckDB oracle after canonicalization (columns sorted by name, values
rendered with stable float rendering, rows sorted).
"""

from __future__ import annotations

import datetime
import decimal
import json
import math
import os

import duckdb

from gen_domain import DEPRECATED_LIST, TARGET_LIST
from gen_domain import TABLES as DOMAIN_TABLES

CIVIL = "CAST({c} - INTERVAL 1 HOUR AS DATE)"
SDAY = CIVIL.format(c="s.ust_created_at")
HDAY = CIVIL.format(c="h.publication_date_time")
PDAY = CIVIL.format(c="p.checked_at")
IN_LIST = f"('{TARGET_LIST}', '{DEPRECATED_LIST}')"
DELETED_MEMBERS = """
    SELECT m.usr_id FROM weaving_user m, publishers_list dl
    WHERE dl.deleted_at IS NOT NULL AND dl.screen_name IS NOT NULL
      AND m.usr_twitter_username = dl.screen_name
"""
DELETED_TWITTER_IDS = """
    SELECT CAST(m.usr_twitter_id AS BIGINT)
    FROM weaving_user m, publishers_list dl
    WHERE dl.deleted_at IS NOT NULL AND dl.screen_name IS NOT NULL
      AND m.usr_twitter_username = dl.screen_name
"""
JSON_INT = ("CASE WHEN json_valid({d}) THEN "
            "TRY_CAST(json_extract_string({d}, '$.{f}') AS INTEGER) END")
JSON_USER_ID = ("CASE WHEN json_valid(s.ust_api_document) THEN "
                "TRY_CAST(json_extract_string(s.ust_api_document, "
                "'$.user.id_str') AS BIGINT) END")
IS_RT_DERIVED = (
    "COALESCE(h.is_retweet, CASE WHEN json_valid(s.ust_api_document) THEN "
    "json_extract_string(s.ust_api_document, '$.retweeted_status_result') "
    "IS NOT NULL END, false)"
)
RECORD = """
    {id} AS id, s.ust_status_id AS twitterId, s.ust_full_name AS username,
    s.ust_text AS text,
    'https://twitter.com/' || s.ust_full_name || '/status/'
      || s.ust_status_id AS url,
    s.ust_api_document AS json,
    strftime(s.ust_created_at, '%Y-%m-%d %H:%M:%S') AS publishedAt,
    strftime(s.ust_created_at, '%Y-%m-%d %H:%M:%S') AS checkedAt
"""


def _limit(limit: int) -> str:
    return f"LIMIT {limit}" if limit > 0 else ""


def curated_sql(day: str, limit: int) -> str:
    return f"""
    SELECT {RECORD.format(id="s.ust_id")},
      COALESCE(h.is_retweet, false) AS isRetweet,
      CAST(MAX(COALESCE(p.total_retweets, h.total_retweets)) AS INTEGER)
        AS totalRetweets,
      CAST(MAX(COALESCE(p.total_favorites, h.total_favorites)) AS INTEGER)
        AS totalFavorites
    FROM highlight h
    JOIN weaving_status s ON s.ust_id = h.status_id
      AND {SDAY} = {HDAY} AND {SDAY} = DATE '{day}' AND h.is_retweet = false
    JOIN publishers_list pl ON h.aggregate_id = pl.id
      AND pl.public_id IN {IN_LIST}
    LEFT JOIN status_popularity p ON p.status_id = h.status_id
      AND {PDAY} = {HDAY}
    WHERE {HDAY} = DATE '{day}' AND h.is_retweet = false
      AND h.member_id NOT IN ({DELETED_MEMBERS})
    GROUP BY h.status_id, s.ust_status_id, s.ust_full_name, s.ust_text,
             s.ust_created_at, s.ust_api_document, s.ust_id, h.is_retweet
    ORDER BY totalRetweets DESC NULLS LAST, id ASC
    {_limit(limit)}
    """


def distinct_sql(day: str, include_retweets: bool, limit: int) -> str:
    on_rt = "" if include_retweets else "AND h.is_retweet = false"
    rt_json = JSON_INT.format(d="s.ust_api_document", f="retweet_count")
    fav_json = JSON_INT.format(d="s.ust_api_document", f="favorite_count")
    return f"""
    WITH rows_ AS (
      SELECT s.*, {IS_RT_DERIVED} AS is_rt,
        COALESCE(p.total_retweets, h.total_retweets, {rt_json}) AS rt_c,
        COALESCE(p.total_favorites, h.total_favorites, {fav_json}) AS fav_c
      FROM weaving_status s
      LEFT JOIN highlight h ON s.ust_id = h.status_id
        AND {SDAY} = {HDAY} AND {SDAY} = DATE '{day}' {on_rt}
      JOIN publishers_list pl ON (
          h.aggregate_id = pl.id
          OR (s.ust_full_name = pl.screen_name AND pl.screen_name IS NOT NULL)
        ) AND pl.public_id IN {IN_LIST}
      LEFT JOIN status_popularity p ON p.status_id = h.status_id
        AND {PDAY} = {HDAY}
      WHERE {SDAY} = DATE '{day}'
        AND {IS_RT_DERIVED} = {str(include_retweets).lower()}
        AND ({JSON_USER_ID} IS NULL
             OR {JSON_USER_ID} NOT IN ({DELETED_TWITTER_IDS}))
    ),
    ranked AS (
      SELECT *,
        row_number() OVER (PARTITION BY ust_full_name
                           ORDER BY rt_c DESC NULLS LAST, ust_id DESC) AS rn,
        MAX(rt_c) OVER (PARTITION BY ust_full_name) AS max_rt,
        MAX(fav_c) OVER (PARTITION BY ust_full_name) AS max_fav
      FROM rows_
    )
    SELECT {RECORD.format(id="s.ust_id")}, s.is_rt AS isRetweet,
      CAST(s.max_rt AS INTEGER) AS totalRetweets,
      CAST(s.max_fav AS INTEGER) AS totalFavorites
    FROM ranked s WHERE rn = 1
    ORDER BY totalRetweets DESC NULLS LAST, id ASC
    {_limit(limit)}
    """


def count_sql(day: str) -> str:
    return f"""
    SELECT COUNT(*) FROM highlight h
    JOIN weaving_status s ON s.ust_id = h.status_id
      AND {SDAY} = {HDAY} AND {SDAY} = DATE '{day}'
    JOIN publishers_list pl ON h.aggregate_id = pl.id
      AND pl.public_id IN {IN_LIST}
    LEFT JOIN status_popularity p ON p.status_id = h.status_id
      AND {PDAY} = {HDAY}
    WHERE {HDAY} = DATE '{day}'
    """


VARIANT_SQL = {
    "status": lambda day, limit: curated_sql(day, limit),
    "statusFromDistinctSources":
        lambda day, limit: distinct_sql(day, False, limit),
    "retweetFromDistinctSources":
        lambda day, limit: distinct_sql(day, True, limit),
}


def render(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, decimal.Decimal):
        return repr(round(float(v), 9))
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def canon(rows, cols) -> list[tuple]:
    """Columns sorted by name, values rendered, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(render(r[i]) for i in order) for r in rows)


class DomainOracle:
    """DuckDB over one generated domain directory."""

    def __init__(self, source_dir: str):
        self.con = duckdb.connect()
        for t in DOMAIN_TABLES:
            self.con.execute(f"CREATE VIEW {t} AS "
                             f"SELECT * FROM '{source_dir}/{t}.parquet'")

    def expected(self, day: str, variant: str, limit: int):
        """(records with valid JSON, rows the sink must skip as invalid)."""
        res = self.con.execute(VARIANT_SQL[variant](day, limit))
        cols = [d[0] for d in res.description]
        rows = [dict(zip(cols, r)) for r in res.fetchall()]
        valid = []
        for r in rows:
            try:
                json.loads(r["json"])
            except (TypeError, ValueError):
                continue
            r["twitter_id"] = r["twitterId"]
            valid.append(r)
        return valid, len(rows) - len(valid)

    def count(self, day: str) -> int:
        return self.con.execute(count_sql(day)).fetchone()[0]

    def close(self) -> None:
        self.con.close()


def read_sink_day(sink_dir: str, list_id: str, day: str) -> dict[str, list]:
    """Records under ``highlights/{list}/{day}/{type}/`` by type."""
    base = os.path.join(sink_dir, "highlights", list_id, day)
    out: dict[str, list] = {}
    if not os.path.isdir(base):
        return out
    for t in sorted(os.listdir(base)):
        recs = []
        for name in sorted(os.listdir(os.path.join(base, t))):
            with open(os.path.join(base, t, name)) as f:
                recs.append(json.load(f))
        out[t] = recs
    return out


def check_sink_day(oracle: DomainOracle, sink_dir: str, day: str,
                   limit: int) -> tuple[list[str], int]:
    """(mismatch messages, records the sink should have skipped)."""
    got = read_sink_day(sink_dir, TARGET_LIST, day)
    errors, skipped = [], 0
    if set(got) - set(VARIANT_SQL):
        errors.append(f"{day}: unexpected types {sorted(set(got))}")
    for variant in VARIANT_SQL:
        want, n_invalid = oracle.expected(day, variant, limit)
        skipped += n_invalid
        recs = got.get(variant, [])
        cols = sorted(want[0]) if want else sorted(recs[0]) if recs else []
        a = canon([[r.get(c) for c in cols] for r in recs], cols)
        b = canon([[r.get(c) for c in cols] for r in want], cols)
        if a != b:
            errors.append(f"{day}/{variant}: sink has {len(a)} records, "
                          f"oracle {len(b)}; first differing: "
                          f"{next((x for x in a if x not in b), None)}")
    return errors, skipped


class RegistryOracle:
    """DuckDB over one generated registry directory."""

    def __init__(self, data_dir: str, tables):
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS "
                             f"SELECT * FROM '{data_dir}/{t}.parquet'")
        self._cache: dict[str, list] = {}

    def expected(self, name: str, sql: str) -> list[tuple]:
        if name not in self._cache:
            res = self.con.execute(sql)
            cols = [d[0] for d in res.description]
            self._cache[name] = canon(res.fetchall(), cols)
        return self._cache[name]

    def close(self) -> None:
        self.con.close()
