"""The three trends pipeline variants (reference trends.go:274-412) as
parameterized Spark SQL — the engine's parity core.

Each entry point issues ONE ``spark.sql`` call over a WITH-chain whose
CTEs mirror the reference SQL (citations are to its trends.go):

==========  ===============================================  ===============
CTE         role                                             trends.go
==========  ===============================================  ===============
``hd``      the day's highlights (sinceWhen() on h)          :311, :536-543
``sd``      the day's statuses (sinceWhen() on s)            :377, :536-543
``pd``      the day's popularity checks (J5 day predicate)   :396-399
``pop``     MAX popularity per status of the day (A2/A3)     :286-287,
                                                             :323-334
``tl``      publishers lists in the IN-list (J3)             :300-305
``dl``      soft-deleted lists with a screen name            :313-320
``dm``      deleted members by member id (F3, curated)       :313-320
``dmt``     deleted members by twitter id (F3, distinct)     :379-386
==========  ===============================================  ===============

Variant bodies:

- curated: ``hd`` ⋈ ``sd`` (J1, :294-299) ⋈ ``tl`` (J3), anti-joined
  on ``dm``, LEFT-joined to ``pop``; record :279-292.
- distinct sources: ``sd`` ⟕ ``hd`` (J2, :351-356 — the retweet
  predicate stays in the ON clause, outer-join semantics), the J4
  OR-join to ``tl`` (:357-367), the F2 3-way retweet derivation
  (:370-378), anti-joined on ``dmt``, LEFT-joined to ``pop``; then one
  row per publisher by ``max_by(struct…)`` (A4, :336-349, :389-392).
- ORDER BY retweets DESC, id / LIMIT / OFFSET per variant (O1/O2,
  :395-406), then UNION ALL with a ``statusType`` discriminator — the
  reference's three sequential runs (:151-198) as one job.
- ``count_highlights``: the reference count query (:450-529).

Day filters.  Every history scan keeps the rows whose civil day is
``:day``.  Every spine row is of ``:day``, so the day predicates of J1,
J2 and J5 reduce to these per-table day filters.  No raw timestamp range
is added: Spark builds no Parquet row-group predicate from one on the
naive ``timestamp[us]`` columns the loader reads, and on those tables it
measured no faster (ROADMAP direction 2).

Anti joins ignore duplicate keys, so ``dm``/``dmt`` carry no DISTINCT.

Binding.  The SQL names the five domain tables (``DOMAIN_TABLES``) as
the reference's does.  ``cli.load_domain_tables`` binds them once per
run as session temp views; ``spark.sql`` analyzes eagerly, so a
DataFrame keeps the tables it was built over when a later load rebinds
the names.  List ids, ``tz``, ``:day`` and the ``statusType`` values are
named parameters; only ``int()``-coerced values (``shift_hours``,
``limit``, ``page``) are formatted into the text.

Engine defaults use *corrected* semantics where the reference is buggy
(SURVEY §7 risk register); ``bug_compat=True`` reproduces the
reference's favorites-falls-back-to-retweet-count cascade
(trends.go:344 reads $.retweet_count for favorites).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..functions.expressions import (
    civil_day_sql,
    is_retweet_derived_sql,
    popularity_sql,
)

#: the reference schema's table names, bound as session temp views
DOMAIN_TABLES = (
    "highlight", "weaving_status", "publishers_list",
    "status_popularity", "weaving_user",
)

VARIANTS = ("status", "retweet", "statusFromDistinctSources",
            "retweetFromDistinctSources")

RECORD = """
    s.ust_id AS id,
    s.ust_status_id AS twitterId,
    s.ust_full_name AS username,
    s.ust_text AS text,
    concat('https://twitter.com/', s.ust_full_name, '/status/',
           s.ust_status_id) AS url,
    s.ust_api_document AS json,
    date_format(s.ust_created_at, 'yyyy-MM-dd HH:mm:ss') AS publishedAt,
    date_format(s.ust_created_at, 'yyyy-MM-dd HH:mm:ss') AS checkedAt"""

#: the A4 pick: every record field but the publisher and the two
#: counts, which are the group's MAXes
PICKED = ("id", "twitterId", "text", "url", "json", "publishedAt",
          "checkedAt", "isRetweet")


@dataclass
class TrendsParams:
    list_public_ids: tuple[str, ...]  # target + deprecated id (trends.go:303-305)
    since_date: str                   # civil day 'YYYY-MM-DD' ($4)
    limit: int = 10
    page: int = 0
    shift_hours: int = 1              # the '- INTERVAL 1 HOUR' quirk
    tz: str | None = None             # set 'Europe/Paris' for corrected mode
    bug_compat: bool = False


class TrendsPipeline:
    """Builder for the daily-highlights computation: each public method
    returns the DataFrame of one ``spark.sql`` statement over the bound
    ``DOMAIN_TABLES``."""

    def __init__(self, spark: SparkSession, params: TrendsParams):
        self.spark = spark
        self.p = params

    # -- SQL text -----------------------------------------------------------

    def _of_day(self, ts: str) -> str:
        """``ts``'s civil day is ``:day``."""
        day = civil_day_sql(ts, self.p.shift_hours,
                            None if self.p.tz is None else ":tz")
        return f"{day} = CAST(:day AS DATE)"

    def _with(self) -> str:
        lists = ", ".join(
            f":l{i}" for i in range(1, len(self.p.list_public_ids) + 1)
        )
        return f"""WITH
hd AS (SELECT * FROM highlight WHERE {self._of_day("publication_date_time")}),
sd AS (SELECT * FROM weaving_status WHERE {self._of_day("ust_created_at")}),
pd AS (SELECT status_id, total_retweets, total_favorites
       FROM status_popularity
       WHERE {self._of_day("checked_at")}),
pop AS (SELECT status_id AS p_status_id,
               MAX(total_retweets) AS p_total_retweets,
               MAX(total_favorites) AS p_total_favorites
        FROM pd GROUP BY status_id),
tl AS (SELECT id, screen_name FROM publishers_list
       WHERE public_id IN ({lists})),
dl AS (SELECT screen_name FROM publishers_list
       WHERE deleted_at IS NOT NULL AND screen_name IS NOT NULL),
dm AS (SELECT /*+ BROADCAST(dl) */ u.usr_id AS excluded_id
       FROM weaving_user u JOIN dl ON u.usr_twitter_username = dl.screen_name),
dmt AS (SELECT /*+ BROADCAST(dl) */
               CAST(u.usr_twitter_id AS BIGINT) AS excluded_id
        FROM weaving_user u JOIN dl ON u.usr_twitter_username = dl.screen_name)
"""

    def _curated_sql(self, include_retweets: bool) -> str:
        """Curated path (trends.go:274-334).  The reference only
        constrains is_retweet when retweets are EXCLUDED (trends.go:
        274-277); with include_retweets there is no kind filter.

        Divergence note: like the reference, retweets and favorites
        are collapsed with INDEPENDENT MAXes over the day's checks
        (trends.go:286-287) — not "both values from the single best
        check row"."""
        kind = "" if include_retweets else "WHERE h.is_retweet = false"
        return f"""
SELECT /*+ BROADCAST(tl), BROADCAST(dm) */ {RECORD},
    coalesce(h.is_retweet, false) AS isRetweet,
    CAST({popularity_sql("pop.p_total_retweets", "h.total_retweets")}
         AS INT) AS totalRetweets,
    CAST({popularity_sql("pop.p_total_favorites", "h.total_favorites")}
         AS INT) AS totalFavorites
FROM hd h
JOIN sd s ON s.ust_id = h.status_id
JOIN tl ON h.aggregate_id = tl.id
LEFT ANTI JOIN dm ON h.member_id = dm.excluded_id
LEFT JOIN pop ON pop.p_status_id = h.status_id
{kind}"""

    def _distinct_sql(self, include_retweets: bool) -> str:
        """Distinct-sources path (trends.go:335-393): one row per
        publisher — its most popular tweet of the day.

        J5 keys popularity on the HIGHLIGHT side even here (trends.go:
        396-399): never-highlighted statuses get no popularity row.
        Quirk kept (trends.go:343-344): the MAX counts run over the
        WHOLE publisher group — retweets necessarily equals the argmax
        winner's, but favorites may come from another status.
        ``bug_compat`` reproduces the favorites cascade bug (trends.go:
        344: the middle fallback reads h.total_RETWEETS)."""
        on_kind = "" if include_retweets else "AND h.is_retweet = false"
        doc = "s.ust_api_document"
        is_rt = is_retweet_derived_sql("h.is_retweet", doc)
        fav_mid = ("h.total_retweets" if self.p.bug_compat
                   else "h.total_favorites")
        retweets = popularity_sql("pop.p_total_retweets", "h.total_retweets",
                                  doc, "retweet_count")
        favorites = popularity_sql("pop.p_total_favorites", fav_mid,
                                   doc, "favorite_count")
        picked = ", ".join(PICKED)
        return f"""
SELECT pick.id AS id, pick.twitterId AS twitterId, username,
    pick.text AS text, pick.url AS url, pick.json AS json,
    pick.publishedAt AS publishedAt, pick.checkedAt AS checkedAt,
    pick.isRetweet AS isRetweet,
    max_rt AS totalRetweets, max_fav AS totalFavorites
FROM (
  SELECT username,
         max_by(struct({picked}), struct(totalRetweets, id)) AS pick,
         MAX(totalRetweets) AS max_rt, MAX(totalFavorites) AS max_fav
  FROM (
    SELECT /*+ BROADCAST(tl), BROADCAST(dmt) */ {RECORD},
        {is_rt} AS isRetweet,
        CAST({retweets} AS INT) AS totalRetweets,
        CAST({favorites} AS INT) AS totalFavorites
    FROM sd s
    LEFT JOIN hd h ON s.ust_id = h.status_id {on_kind}
    JOIN tl ON h.aggregate_id = tl.id
               OR (s.ust_full_name = tl.screen_name
                   AND tl.screen_name IS NOT NULL)
    LEFT ANTI JOIN dmt
      ON CAST(get_json_object({doc}, '$.user.id_str') AS BIGINT)
         = dmt.excluded_id
    LEFT JOIN pop ON pop.p_status_id = h.status_id
    WHERE {is_rt} = {"true" if include_retweets else "false"}
  )
  GROUP BY username
)"""

    def _variant_sql(self, name: str) -> str:
        """O1/O2: ORDER BY retweets DESC with a unique tiebreaker, then
        offset/limit (trends.go:395-406; the offset quirk is NOT
        replicated — see SURVEY §7 risk register)."""
        if name == "status":
            body = self._curated_sql(include_retweets=False)
        elif name == "retweet":
            body = self._curated_sql(include_retweets=True)
        elif name == "statusFromDistinctSources":
            body = self._distinct_sql(include_retweets=False)
        elif name == "retweetFromDistinctSources":
            body = self._distinct_sql(include_retweets=True)
        else:
            raise ValueError(f"unknown variant {name!r}; one of {VARIANTS}")
        limit, page = int(self.p.limit), int(self.p.page)
        out = f"SELECT * FROM ({body}\n) ORDER BY totalRetweets DESC, id"
        if limit > 0:
            out += f" LIMIT {limit}"
        if page > 0:
            out += f" OFFSET {page * limit}"
        return out

    def _sql(self, body: str, **args) -> DataFrame:
        args["day"] = self.p.since_date
        args["tz"] = self.p.tz
        for i, list_id in enumerate(self.p.list_public_ids, 1):
            args[f"l{i}"] = list_id
        return self.spark.sql(self._with() + body, args=args)

    # -- entry points -------------------------------------------------------

    def variant(self, name: str) -> DataFrame:
        return self._sql(self._variant_sql(name))

    def all_variants(self, names: tuple[str, ...] = VARIANTS) -> DataFrame:
        """The reference's three sequential runs (trends.go:151-198) as
        one unioned DataFrame with a statusType discriminator — a
        single job, single write (SURVEY §2.7)."""
        parts = [
            f"SELECT *, :t{i} AS statusType FROM ({self._variant_sql(n)}\n)"
            for i, n in enumerate(names)
        ]
        return self._sql("\nUNION ALL\n".join(parts),
                         **{f"t{i}": n for i, n in enumerate(names)})

    def count_highlights(self, distinct_sources: bool = False) -> int:
        """A1 parity (reference countHighlights, trends.go:450-529):
        COUNT(*) of the day's matching spine rows.  Faithful to the
        reference's count query, which applies only the spine join +
        IN-list + day filters (none of the retweet/deleted-member
        predicates) and LEFT-joins popularity WITHOUT pre-aggregation —
        so multiple same-day checks multiply the count, exactly as the
        reference's does.  The distinct count LEFT-joins the lists
        (trends.go:472-481), unlike the select's inner J4."""
        if distinct_sources:
            spine = """sd s
LEFT JOIN hd h ON s.ust_id = h.status_id
LEFT JOIN tl ON h.aggregate_id = tl.id"""
        else:
            spine = """hd h
JOIN sd s ON s.ust_id = h.status_id
JOIN tl ON h.aggregate_id = tl.id"""
        return self._sql(
            f"SELECT /*+ BROADCAST(tl) */ COUNT(*) FROM {spine}\n"
            "LEFT JOIN pd p ON p.status_id = h.status_id"
        ).collect()[0][0]

    def last_week_statuses(self, now: str) -> DataFrame:
        """F6 — the reference's -since-last-week mode emits invalid SQL
        (trends.go:531-534: NOW()::now - '7 DAYS::interval') and is
        dead; this is the corrected semantics: statuses whose shifted
        creation time falls within the 7 days before ``now``
        (parameterized instead of NOW() for determinism)."""
        shifted = f"ust_created_at - INTERVAL {int(self.p.shift_hours)} HOUR"
        return self.spark.sql(
            f"SELECT * FROM weaving_status WHERE {shifted}"
            " > CAST(:now AS TIMESTAMP) - INTERVAL 7 DAYS"
            f" AND {shifted} <= CAST(:now AS TIMESTAMP)",
            args={"now": now},
        )
