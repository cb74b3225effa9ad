"""Seeded, scalable generator for the worker's five domain tables.

The shapes follow the reference worker's SQL (highlight, weaving_status,
publishers_list, status_popularity, weaving_user) and plant the same
edge cases as the repository's test fixtures:

- invalid JSON documents (skipped by the sink, null on JSON access);
- NULL ``is_retweet`` that falls back to JSON presence of
  ``retweeted_status_result``;
- statuses in the 23:00-00:59 band, which straddle the shifted civil day;
- deleted publishers-list members, keyed both by member id (curated
  path) and by JSON user id (distinct path);
- quantized retweet counts, so the ORDER BY hits ties;
- screen-name-only list membership (the disjunctive join's right branch);
- highlights published two days after the status (day-consistency
  negatives) and popularity checks made only on a later day.

Scale parameters: days, statuses per day, publishers and popularity
checks per status.  The same (seed, scale) always gives the same bytes.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

TARGET_LIST = "target-list"
DEPRECATED_LIST = "deprecated-list"
START_DAY = dt.date(2024, 1, 1)
TABLES = (
    "highlight", "weaving_status", "publishers_list",
    "status_popularity", "weaving_user",
)


@dataclass(frozen=True)
class DomainScale:
    days: int
    statuses_per_day: int
    publishers: int = 40
    checks_per_status: int = 2

    def key(self) -> str:
        return (f"d{self.days}-s{self.statuses_per_day}"
                f"-p{self.publishers}-c{self.checks_per_status}")

    def day_list(self) -> list[str]:
        return [(START_DAY + dt.timedelta(days=i)).isoformat()
                for i in range(self.days)]


def _ts(day: dt.date, hour: int, minute: int) -> dt.datetime:
    return dt.datetime(day.year, day.month, day.day, hour, minute)


def generate(outdir: str, scale: DomainScale, seed: int) -> None:
    """Write the five tables as ``{outdir}/{table}.parquet``."""
    rng = random.Random(seed)
    os.makedirs(outdir, exist_ok=True)
    n_pub = max(scale.publishers, 6)
    pubs = [f"pub{i:03d}" for i in range(n_pub)]
    t0 = _ts(START_DAY, 0, 0)

    publishers_list = [
        # (id, public_id, screen_name, deleted_at)
        (1, TARGET_LIST, None, None),
        (2, DEPRECATED_LIST, pubs[1], None),  # screen-name-only member
        (3, "other-list", pubs[2], None),     # outside the IN-list
        (4, "deleted-list", pubs[3], t0),     # deleted member, both keys
        (5, "deleted-list-2", None, t0),      # deleted, no screen name
        (6, "deleted-list-3", pubs[5], t0),   # second deleted member
    ]
    weaving_user = [
        (i, pubs[i] if i < n_pub else f"user{i}", str(1000 + i))
        for i in range(n_pub + 10)
    ]

    statuses, highlights, popularity = [], [], []
    ust_id = 0
    for d in range(scale.days):
        day = START_DAY + dt.timedelta(days=d)
        for i in range(scale.statuses_per_day):
            ust_id += 1
            pub_idx = rng.randrange(n_pub)
            name = pubs[pub_idx]
            status_id = f"16345{ust_id:014d}"
            if i % 20 == 0:
                created = _ts(day, 23, rng.randrange(60))
            elif i % 20 == 1:
                created = _ts(day, 0, rng.randrange(60))
            else:
                created = _ts(day, rng.randrange(1, 23), rng.randrange(60))
            text = f"tweet «{ust_id}» émoji 😀 \"quoted\""
            doc: dict = {
                "id_str": status_id,
                "full_text": text,
                "favorite_count": rng.randrange(0, 500),
                "user": {"id_str": str(1000 + pub_idx)},
            }
            if rng.random() > 0.05:  # ~5% without retweet_count
                doc["retweet_count"] = rng.randrange(0, 80)
            if rng.random() < 0.25:
                doc["retweeted_status_result"] = {}
            doc_s = json.dumps(doc, ensure_ascii=False)
            if rng.random() < 0.02:  # ~2% invalid JSON
                doc_s = doc_s[: len(doc_s) // 2]
            statuses.append((ust_id, status_id, name, text, created, doc_s))

            if rng.random() >= 0.6:  # ~60% highlighted
                continue
            r = rng.random()
            aggregate_id = (1 if r < 0.7 else 2 if r < 0.8
                            else 3 if r < 0.9 else 6)
            pub_dt = created
            if rng.random() < 0.05:  # day-consistency negatives
                pub_dt = created + dt.timedelta(days=2)
            k = rng.random()
            is_retweet = None if k < 0.1 else (k < 0.3)
            total_rt = None if rng.random() < 0.2 else rng.randrange(40) * 25
            total_fav = None if rng.random() < 0.2 else rng.randrange(1000)
            highlights.append((ust_id, aggregate_id, pub_idx, is_retweet,
                               pub_dt, total_rt, total_fav))
            pr = rng.random()
            if pr < 0.6:  # same-day checks with monotone counts
                base = rng.randrange(40) * 25
                n_checks = rng.randrange(1, 2 * scale.checks_per_status)
                for c in range(n_checks):
                    popularity.append((
                        ust_id, pub_dt + dt.timedelta(minutes=30 * (c + 1)),
                        base + 50 * c, rng.randrange(500) + 100 * c,
                    ))
            elif pr < 0.7:  # checked only on a later day
                popularity.append((
                    ust_id, pub_dt + dt.timedelta(days=1),
                    rng.randrange(2000, 3000), rng.randrange(500),
                ))

    def col(rows, i, typ=None):
        return pa.array([r[i] for r in rows], typ)

    ts = pa.timestamp("us")
    tables = {
        "weaving_status": pa.table({
            "ust_id": col(statuses, 0, pa.int64()),
            "ust_status_id": col(statuses, 1),
            "ust_full_name": col(statuses, 2),
            "ust_text": col(statuses, 3),
            "ust_created_at": col(statuses, 4, ts),
            "ust_api_document": col(statuses, 5),
        }),
        "highlight": pa.table({
            "status_id": col(highlights, 0, pa.int64()),
            "aggregate_id": col(highlights, 1, pa.int64()),
            "member_id": col(highlights, 2, pa.int64()),
            "is_retweet": col(highlights, 3, pa.bool_()),
            "publication_date_time": col(highlights, 4, ts),
            "total_retweets": col(highlights, 5, pa.int32()),
            "total_favorites": col(highlights, 6, pa.int32()),
        }),
        "publishers_list": pa.table({
            "id": col(publishers_list, 0, pa.int64()),
            "public_id": col(publishers_list, 1),
            "screen_name": col(publishers_list, 2),
            "deleted_at": col(publishers_list, 3, ts),
        }),
        "status_popularity": pa.table({
            "status_id": col(popularity, 0, pa.int64()),
            "checked_at": col(popularity, 1, ts),
            "total_retweets": col(popularity, 2, pa.int32()),
            "total_favorites": col(popularity, 3, pa.int32()),
        }),
        "weaving_user": pa.table({
            "usr_id": col(weaving_user, 0, pa.int64()),
            "usr_twitter_username": col(weaving_user, 1),
            "usr_twitter_id": col(weaving_user, 2),
        }),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(outdir, f"{name}.parquet"))


if __name__ == "__main__":
    import sys

    out, seed, days, per_day, pubs, checks = sys.argv[1:7]
    generate(out, DomainScale(int(days), int(per_day), int(pubs), int(checks)),
             int(seed))
