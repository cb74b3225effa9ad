"""Golden tests for the three trends variants (SURVEY §5.2 item 2):
the Spark pipeline vs an independent DuckDB transliteration of the
reference SQL (trends.go:274-412) over generated domain fixtures.

Oracle notes:
- json access is guarded with json_valid() to model the engine's
  get_json_object null-on-invalid semantics (the reference's ::json
  cast would ERROR on invalid documents — SURVEY §7 documents this as
  a reference fragility we do not replicate);
- the deleted-member NOT IN on the distinct path is written null-safe
  (uid IS NULL OR uid NOT IN ...) to match the engine's corrected
  semantics (Postgres's null-aware NOT IN would drop rows with
  unparseable user ids whenever the exclusion set is non-empty);
- ORDER BY carries the id tiebreaker both sides (the reference's bare
  ORDER BY retweets is nondeterministic).
"""

from __future__ import annotations

import pytest

from conftest import canon
from fixtures.gen import (
    DAYS,
    DEPRECATED_LIST,
    TARGET_LIST,
    generate,
    generate_window_edges,
)

from org_revue_de_presse_trends_spark.cli import (
    DOMAIN_TABLES,
    load_domain_tables,
)
from org_revue_de_presse_trends_spark.plans.trends import (
    TrendsParams,
    TrendsPipeline,
)

DAY = "2024-03-02"

CIVIL = "CAST({c} - INTERVAL 1 HOUR AS DATE)"
IN_LIST = f"('{TARGET_LIST}', '{DEPRECATED_LIST}')"
DELETED_MEMBERS = """
    SELECT m.usr_id
    FROM weaving_user m, publishers_list dl
    WHERE dl.deleted_at IS NOT NULL
      AND m.usr_twitter_username = dl.screen_name
      AND dl.screen_name IS NOT NULL
"""
DELETED_TWITTER_IDS = """
    SELECT CAST(m.usr_twitter_id AS BIGINT)
    FROM weaving_user m, publishers_list dl
    WHERE dl.deleted_at IS NOT NULL
      AND m.usr_twitter_username = dl.screen_name
      AND dl.screen_name IS NOT NULL
"""
JSON_INT = (
    "CASE WHEN json_valid({d}) THEN "
    "TRY_CAST(json_extract_string({d}, '$.{f}') AS INTEGER) END"
)
JSON_USER_ID = (
    "CASE WHEN json_valid(s.ust_api_document) THEN "
    "TRY_CAST(json_extract_string(s.ust_api_document, '$.user.id_str') "
    "AS BIGINT) END"
)
IS_RT_DERIVED = (
    "COALESCE(h.is_retweet, CASE WHEN json_valid(s.ust_api_document) THEN "
    "json_extract_string(s.ust_api_document, '$.retweeted_status_result') "
    "IS NOT NULL END, false)"
)


def civil_sql(shift_hours: int = 1, tz: str | None = None) -> str:
    """DuckDB civil day of ``{c}``: the fixed shift, or local→UTC in
    ``tz`` (``AT TIME ZONE`` reads a naive timestamp as local time)."""
    if tz is not None:
        return f"CAST(timezone('UTC', {{c}} AT TIME ZONE '{tz}') AS DATE)"
    return f"CAST({{c}} - INTERVAL {shift_hours} HOUR AS DATE)"


def _limit(limit: int) -> str:
    return f"LIMIT {limit}" if limit > 0 else ""


def curated_oracle(day: str, limit: int = 10, include_retweets: bool = False,
                   civil: str = CIVIL) -> str:
    sday = civil.format(c="s.ust_created_at")
    hday = civil.format(c="h.publication_date_time")
    pday = civil.format(c="p.checked_at")
    kind = "" if include_retweets else "AND h.is_retweet = false"
    return f"""
    SELECT
      s.ust_id AS id,
      s.ust_status_id AS twitterId,
      s.ust_full_name AS username,
      s.ust_text AS text,
      'https://twitter.com/' || s.ust_full_name || '/status/'
        || s.ust_status_id AS url,
      s.ust_api_document AS json,
      strftime(s.ust_created_at, '%Y-%m-%d %H:%M:%S') AS publishedAt,
      strftime(s.ust_created_at, '%Y-%m-%d %H:%M:%S') AS checkedAt,
      COALESCE(h.is_retweet, false) AS isRetweet,
      CAST(MAX(COALESCE(p.total_retweets, h.total_retweets)) AS INTEGER)
        AS totalRetweets,
      CAST(MAX(COALESCE(p.total_favorites, h.total_favorites)) AS INTEGER)
        AS totalFavorites
    FROM highlight h
    JOIN weaving_status s ON s.ust_id = h.status_id
      AND {sday} = {hday}
      AND {sday} = DATE '{day}'
      {kind}
    JOIN publishers_list pl ON h.aggregate_id = pl.id
      AND pl.public_id IN {IN_LIST}
    LEFT JOIN status_popularity p ON p.status_id = h.status_id
      AND {pday} = {hday}
    WHERE {hday} = DATE '{day}'
      {kind}
      AND h.member_id NOT IN ({DELETED_MEMBERS})
    GROUP BY h.status_id, s.ust_status_id, s.ust_full_name, s.ust_text,
             s.ust_created_at, s.ust_api_document, s.ust_id, h.is_retweet
    ORDER BY totalRetweets DESC NULLS LAST, id ASC
    {_limit(limit)}
    """


def distinct_oracle(day: str, include_retweets: bool, limit: int = 10,
                    civil: str = CIVIL, bug_compat: bool = False) -> str:
    sday = civil.format(c="s.ust_created_at")
    hday = civil.format(c="h.publication_date_time")
    pday = civil.format(c="p.checked_at")
    kind = "true" if include_retweets else "false"
    on_rt = "" if include_retweets else "AND h.is_retweet = false"
    rt_json = JSON_INT.format(d="s.ust_api_document", f="retweet_count")
    fav_json = JSON_INT.format(d="s.ust_api_document", f="favorite_count")
    cascade = f"COALESCE(p.total_retweets, h.total_retweets, {rt_json})"
    # bug_compat: favorites fall back to h.total_RETWEETS (trends.go:344)
    fav_mid = "h.total_retweets" if bug_compat else "h.total_favorites"
    fav_cascade = f"COALESCE(p.total_favorites, {fav_mid}, {fav_json})"
    return f"""
    WITH rows_ AS (
      SELECT
        s.ust_id, s.ust_status_id, s.ust_full_name, s.ust_text,
        s.ust_created_at, s.ust_api_document,
        {IS_RT_DERIVED} AS is_rt,
        {cascade} AS rt_cascade,
        {fav_cascade} AS fav_cascade
      FROM weaving_status s
      LEFT JOIN highlight h ON s.ust_id = h.status_id
        AND {sday} = {hday}
        AND {sday} = DATE '{day}'
        {on_rt}
      JOIN publishers_list pl ON (
          h.aggregate_id = pl.id
          OR (s.ust_full_name = pl.screen_name
              AND pl.screen_name IS NOT NULL)
        ) AND pl.public_id IN {IN_LIST}
      LEFT JOIN status_popularity p ON p.status_id = h.status_id
        AND {pday} = {hday}
      WHERE {sday} = DATE '{day}'
        AND {IS_RT_DERIVED} = {kind}
        AND ({JSON_USER_ID} IS NULL
             OR {JSON_USER_ID} NOT IN ({DELETED_TWITTER_IDS}))
    ),
    ranked AS (
      SELECT *,
        row_number() OVER (
          PARTITION BY ust_full_name
          ORDER BY rt_cascade DESC NULLS LAST, ust_id DESC
        ) AS rn,
        MAX(rt_cascade) OVER (PARTITION BY ust_full_name) AS max_rt,
        MAX(fav_cascade) OVER (PARTITION BY ust_full_name) AS max_fav
      FROM rows_
    )
    SELECT
      ust_id AS id,
      ust_status_id AS twitterId,
      ust_full_name AS username,
      ust_text AS text,
      'https://twitter.com/' || ust_full_name || '/status/'
        || ust_status_id AS url,
      ust_api_document AS json,
      strftime(ust_created_at, '%Y-%m-%d %H:%M:%S') AS publishedAt,
      strftime(ust_created_at, '%Y-%m-%d %H:%M:%S') AS checkedAt,
      is_rt AS isRetweet,
      CAST(max_rt AS INTEGER) AS totalRetweets,
      CAST(max_fav AS INTEGER) AS totalFavorites
    FROM ranked WHERE rn = 1
    ORDER BY totalRetweets DESC NULLS LAST, id ASC
    {_limit(limit)}
    """


def count_oracle(day: str, distinct_sources: bool, civil: str = CIVIL) -> str:
    """The reference count query (trends.go:450-529)."""
    sday = civil.format(c="s.ust_created_at")
    hday = civil.format(c="h.publication_date_time")
    pday = civil.format(c="p.checked_at")
    if distinct_sources:
        spine = f"""weaving_status s
        LEFT JOIN highlight h ON s.ust_id = h.status_id
          AND {sday} = {hday} AND {sday} = DATE '{day}'
        LEFT JOIN publishers_list pl ON h.aggregate_id = pl.id
          AND pl.public_id IN {IN_LIST}"""
        where = sday
    else:
        spine = f"""highlight h
        JOIN weaving_status s ON s.ust_id = h.status_id
          AND {sday} = {hday} AND {sday} = DATE '{day}'
        JOIN publishers_list pl ON h.aggregate_id = pl.id
          AND pl.public_id IN {IN_LIST}"""
        where = hday
    return f"""
        SELECT COUNT(*) FROM {spine}
        LEFT JOIN status_popularity p ON p.status_id = h.status_id
          AND {pday} = {hday}
        WHERE {where} = DATE '{day}'
    """


@pytest.fixture(scope="session")
def domain_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("trends_domain")
    generate(str(out))
    return str(out)


def _duck_views(con, src: str):
    for n in DOMAIN_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {n} AS SELECT * FROM '{src}/{n}.parquet'"
        )
    return con


@pytest.fixture(scope="session")
def domain_duck(duck, domain_dir):
    return _duck_views(duck, domain_dir)


def _pipe(spark, src: str, **kw) -> TrendsPipeline:
    """Bind ``src``'s tables, then build a pipeline over them.  The
    views are session-wide and tests switch table directories, so each
    pipeline binds its own first."""
    load_domain_tables(spark, src)
    return TrendsPipeline(spark, TrendsParams(**{
        "list_public_ids": (TARGET_LIST, DEPRECATED_LIST),
        "since_date": DAY, "limit": 10, **kw}))


def _compare(df, duck, sql, min_rows=1):
    spark_rows = [tuple(r) for r in df.collect()]
    res = duck.execute(sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    assert sorted(df.columns) == sorted(duck_cols)
    s, d = canon(spark_rows, df.columns), canon(duck_rows, duck_cols)
    assert len(s) == len(d), f"rows: spark={len(s)} duck={len(d)}"
    for i, (a, b) in enumerate(zip(s, d)):
        assert a == b, f"row {i}: spark={a}\nduck={b}"
    assert len(s) >= min_rows


@pytest.mark.parametrize("day", DAYS)
def test_status_variant(spark, domain_dir, domain_duck, day):
    pipe = _pipe(spark, domain_dir, since_date=day)
    _compare(pipe.variant("status"), domain_duck, curated_oracle(day))


@pytest.mark.parametrize("day", DAYS)
def test_status_from_distinct_sources(spark, domain_dir, domain_duck, day):
    pipe = _pipe(spark, domain_dir, since_date=day)
    _compare(
        pipe.variant("statusFromDistinctSources"),
        domain_duck,
        distinct_oracle(day, include_retweets=False),
    )


@pytest.mark.parametrize("day", DAYS)
def test_retweet_from_distinct_sources(spark, domain_dir, domain_duck, day):
    pipe = _pipe(spark, domain_dir, since_date=day)
    _compare(
        pipe.variant("retweetFromDistinctSources"),
        domain_duck,
        distinct_oracle(day, include_retweets=True),
    )


def test_all_variants_union(spark, domain_dir, domain_duck):
    pipe = _pipe(spark, domain_dir)
    df = pipe.all_variants(
        ("status", "statusFromDistinctSources", "retweetFromDistinctSources")
    )
    rows = df.collect()
    assert set(r["statusType"] for r in rows) == {
        "status", "statusFromDistinctSources", "retweetFromDistinctSources"
    }
    assert df.columns[-1] == "statusType"


def test_pagination(spark, domain_dir, domain_duck):
    """Page 1 = rows 11-20 of the page-0-with-limit-20 ordering."""
    full = _pipe(spark, domain_dir, limit=20).variant("status")
    page1 = _pipe(spark, domain_dir, limit=10, page=1).variant("status")
    full_ids = [r["id"] for r in full.collect()]
    page1_ids = [r["id"] for r in page1.collect()]
    assert page1_ids == full_ids[10:20]


def test_deleted_members_absent(spark, domain_dir):
    """Property (SURVEY §5.2 item 5): anti-join output never contains a
    deleted member's publication."""
    out = _pipe(spark, domain_dir, limit=0).variant("status")
    usernames = {r["username"] for r in out.collect()}
    assert "pub03" not in usernames  # deleted-list screen_name
    assert "pub05" not in usernames  # deleted-list-3 screen_name


def test_count_highlights_matches_reference_count(
    spark, domain_dir, domain_duck
):
    """A1: the count query (trends.go:450-529) — spine joins + IN-list
    + day filter only, popularity join unaggregated (multiplies)."""
    pipe = _pipe(spark, domain_dir)
    for distinct in (False, True):
        assert pipe.count_highlights(distinct) == domain_duck.execute(
            count_oracle(DAY, distinct)
        ).fetchone()[0]


def test_last_week_statuses_corrected(spark, domain_dir, domain_duck):
    """F6: corrected 7-day lookback (the reference's flag is dead —
    its SQL is invalid, trends.go:531-534)."""
    now = "2024-03-03 12:00:00"
    got = _pipe(spark, domain_dir).last_week_statuses(now)
    expected = domain_duck.execute(
        f"""
        SELECT COUNT(*) FROM weaving_status s
        WHERE s.ust_created_at - INTERVAL 1 HOUR
              > TIMESTAMP '{now}' - INTERVAL 7 DAY
          AND s.ust_created_at - INTERVAL 1 HOUR <= TIMESTAMP '{now}'
        """
    ).fetchone()[0]
    assert got.count() == expected and expected > 0


def test_bug_compat_reproduces_favorites_bug(spark, domain_dir, domain_duck):
    """bug_compat=True reproduces trends.go:344 exactly: the distinct
    favorites cascade falls back to h.total_RETWEETS."""
    pipe = _pipe(spark, domain_dir, bug_compat=True)
    sql = distinct_oracle(DAY, include_retweets=False, bug_compat=True)
    _compare(pipe.variant("statusFromDistinctSources"), domain_duck, sql)
    # and the buggy output differs from the corrected default somewhere
    corrected = _pipe(spark, domain_dir).variant("statusFromDistinctSources")
    a = {(r["id"], r["totalFavorites"]) for r in corrected.collect()}
    b = {(r["id"], r["totalFavorites"])
         for r in pipe.variant("statusFromDistinctSources").collect()}
    assert a != b


def test_curated_retweet_extension(spark, domain_dir):
    """Engine extension: the curated ``retweet`` variant has no kind
    filter (reference semantics for includeRetweets on the curated
    path) — a superset of the status variant."""
    pipe = _pipe(spark, domain_dir, limit=0)
    no_rt = {r["id"] for r in pipe.variant("status").collect()}
    all_kinds = {r["id"] for r in pipe.variant("retweet").collect()}
    assert no_rt < all_kinds


def test_argmax_one_row_per_source(spark, domain_dir):
    pipe = _pipe(spark, domain_dir, limit=0)
    out = pipe.variant("statusFromDistinctSources").collect()
    names = [r["username"] for r in out]
    assert len(names) == len(set(names))


@pytest.fixture(scope="session")
def edge_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("trends_window_edges"))
    generate_window_edges(out)
    return out


@pytest.fixture(scope="session")
def edge_duck(edge_dir):
    import duckdb

    con = _duck_views(duckdb.connect(), edge_dir)
    yield con
    con.close()


@pytest.mark.parametrize("day,shift_hours,tz", [
    ("2024-03-31", 1, "Europe/Paris"),  # 23 h local day
    ("2024-10-27", 1, "Europe/Paris"),  # 25 h local day
    ("2024-03-02", 0, None),
    ("2024-03-02", 2, None),
    ("2024-10-27", 1, None),
    ("2024-03-02 10:00", 1, None),  # a time part names its whole day
])
def test_day_edges(spark, edge_dir, edge_duck, day, shift_hours, tz):
    """Every variant and both COUNT modes against DuckDB on rows 1 µs
    either side of every hour boundary around the day, so each civil-day
    bound has a row just inside and just outside it.  Spark resolves the
    repeated 02:00-03:00 of 2024-10-27 to CEST and DuckDB to CET; both
    instants fall on the same civil day, so no row is left out."""
    pipe = _pipe(spark, edge_dir, since_date=day, limit=0,
                 shift_hours=shift_hours, tz=tz)
    day = day[:10]
    civil = civil_sql(shift_hours, tz)
    oracles = {
        "status": curated_oracle(day, 0, False, civil),
        "retweet": curated_oracle(day, 0, True, civil),
        "statusFromDistinctSources": distinct_oracle(day, False, 0, civil),
        "retweetFromDistinctSources": distinct_oracle(day, True, 0, civil),
    }
    for name, sql in oracles.items():
        _compare(pipe.variant(name), edge_duck, sql)
    for distinct in (False, True):
        assert pipe.count_highlights(distinct) == edge_duck.execute(
            count_oracle(day, distinct, civil)
        ).fetchone()[0]


def _new_executions(spark, action) -> list:
    """The SQL executions that ``action()`` starts, read with the
    listener bus drained so that no event of another call lands here."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        bus.waitUntilEmpty()
        execs = store.executionsList()
        return {e.executionId(): e
                for e in (execs.apply(i) for i in range(execs.size()))}

    before = executions()
    action()
    return [e for i, e in executions().items() if i not in before]


def test_anti_join_key_sets_are_not_shuffled(spark, domain_dir):
    """Plan shape of the union: no anti-join key set is shuffled (anti
    joins need no DISTINCT)."""
    pipe = _pipe(spark, domain_dir)
    plan = "\n".join(
        e.physicalPlanDescription()
        for e in _new_executions(spark, pipe.all_variants().collect))
    assert "LeftAnti" in plan
    assert "hashpartitioning(excluded_id" not in plan


def test_tables_bound_once_per_run(spark, domain_dir):
    """The tables are bound once, at load: the COUNT is one SQL
    execution and building the union runs none (a DataFrame argument to
    ``spark.sql`` registers a temp view per statement, each an execution)."""
    pipe = _pipe(spark, domain_dir)
    assert len(_new_executions(spark, pipe.count_highlights)) == 1
    assert _new_executions(spark, pipe.all_variants) == []


def test_rebinding_keeps_built_dataframes(
    spark, domain_dir, domain_duck, edge_dir, edge_duck
):
    """``spark.sql`` analyzes eagerly, so a DataFrame built before
    ``load_domain_tables`` binds another directory still reads the
    tables it was built over."""
    built = _pipe(spark, domain_dir, limit=0).variant("status")
    rebound = _pipe(spark, edge_dir, limit=0).variant("status")
    _compare(built, domain_duck, curated_oracle(DAY, 0))
    _compare(rebound, edge_duck, curated_oracle(DAY, 0))


def test_cli_loads_nanosecond_timestamps(spark, domain_dir, tmp_path):
    """pandas' default parquet export stores timestamps as
    TIMESTAMP(NANOS), which a raw ``spark.read.parquet`` rejects
    (PARQUET_TYPE_ILLEGAL).  The CLI loads through ``catalog.load_table``
    and writes the same sink tree as from the microsecond tables."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from org_revue_de_presse_trends_spark.cli import main

    ns_cols = {
        "weaving_status": "ust_created_at",
        "highlight": "publication_date_time",
    }
    ns_dir = tmp_path / "ns"
    ns_dir.mkdir()
    for name in DOMAIN_TABLES:
        table = pq.read_table(f"{domain_dir}/{name}.parquet")
        col = ns_cols.get(name)
        if col is not None:
            table = table.set_column(
                table.schema.get_field_index(col), col,
                table[col].cast(pa.timestamp("ns")),
            )
        pq.write_table(table, str(ns_dir / f"{name}.parquet"))
    for name, col in ns_cols.items():
        schema = pq.read_schema(str(ns_dir / f"{name}.parquet"))
        assert schema.field(col).type == pa.timestamp("ns")

    trees = {}
    for label, src in (("us", domain_dir), ("ns", str(ns_dir))):
        sink = tmp_path / f"sink_{label}"
        rc = main(
            [
                "--publishers-list-id", TARGET_LIST,
                "--deprecated-list-id", DEPRECATED_LIST,
                "--since-date", DAY,
                "--source-dir", src,
                "--sink-dir", str(sink),
            ],
            spark=spark,
        )
        assert rc == 0
        trees[label] = {
            p.relative_to(sink).as_posix(): p.read_bytes()
            for p in sink.rglob("*") if p.is_file()
        }
    assert trees["us"] and trees["ns"] == trees["us"]
