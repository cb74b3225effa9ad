"""Deterministic generator for the five reference-domain tables
(FIXTURES.md; schemas inferred from /root/reference/trends.go SQL).

Every edge case from FIXTURES.md §8 is planted:
invalid JSON docs, NULL is_retweet with JSON-presence fallback,
multi-check same-day popularity, next-day-only popularity checks,
multi-tweet publishers (argmax), deleted-member publications (both key
variants), 23:00-00:00 UTC civil-day boundary rows, retweet-count
ties, screen-name-only list membership (J4 right branch).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

DAYS = ("2024-03-01", "2024-03-02", "2024-03-03")
TARGET_LIST = "target-list"
DEPRECATED_LIST = "deprecated-list"
N_PUBLISHERS = 40
STATUSES_PER_DAY = 300


def _ts(day: str, hour: int, minute: int, second: int = 0) -> dt.datetime:
    d = dt.date.fromisoformat(day)
    return dt.datetime(d.year, d.month, d.day, hour, minute, second)


def generate(outdir: str, seed: int = 42) -> dict[str, str]:
    rng = random.Random(seed)
    os.makedirs(outdir, exist_ok=True)

    pubs = [f"pub{i:02d}" for i in range(N_PUBLISHERS)]

    # --- publishers_list -------------------------------------------------
    publishers_list = [
        # (id, public_id, screen_name, deleted_at)
        (1, TARGET_LIST, None, None),
        (2, DEPRECATED_LIST, "pub01", None),  # J4 right branch for pub01
        (3, "other-list", "pub02", None),     # not in IN-list
        (4, "deleted-list", "pub03", _ts(DAYS[0], 1, 0)),   # drives F3
        (5, "deleted-list-2", None, _ts(DAYS[0], 2, 0)),    # F4 guard
        (6, "deleted-list-3", "pub05", _ts(DAYS[0], 3, 0)), # second F3 key
    ]

    # --- weaving_user ----------------------------------------------------
    # usr_id i <-> publisher pubs[i]; twitter id = str(1000+i)
    weaving_user = [
        (i, pubs[i] if i < N_PUBLISHERS else f"user{i}", str(1000 + i))
        for i in range(50)
    ]

    statuses, highlights, popularity = [], [], []
    ust_id = 0
    for day in DAYS:
        for i in range(STATUSES_PER_DAY):
            ust_id += 1
            pub_idx = rng.randrange(N_PUBLISHERS)
            name = pubs[pub_idx]
            status_id_str = f"16345{ust_id:014d}"
            # include 23:00-00:00 band rows (civil-day boundary)
            if i % 20 == 0:
                created = _ts(day, 23, rng.randrange(60))
            elif i % 20 == 1:
                created = _ts(day, 0, rng.randrange(60))
            else:
                created = _ts(day, rng.randrange(1, 23), rng.randrange(60))
            is_rt_doc = rng.random() < 0.25
            doc: dict = {
                "id_str": status_id_str,
                "full_text": f"tweet «{ust_id}» émoji 😀 \"quoted\"",
                "favorite_count": rng.randrange(0, 500),
                "user": {"id_str": str(1000 + pub_idx)},
            }
            if rng.random() > 0.05:  # ~5% missing retweet_count
                doc["retweet_count"] = rng.randrange(0, 80)
            if is_rt_doc:
                doc["retweeted_status_result"] = {}
            doc_s = json.dumps(doc, ensure_ascii=False)
            if rng.random() < 0.02:  # ~2% invalid JSON
                doc_s = doc_s[: len(doc_s) // 2]
            statuses.append(
                (ust_id, status_id_str, name,
                 f"tweet «{ust_id}» émoji 😀 \"quoted\"", created, doc_s)
            )

            if rng.random() < 0.6:  # ~60% highlighted
                r = rng.random()
                aggregate_id = 1 if r < 0.7 else (2 if r < 0.8 else
                                                  (3 if r < 0.9 else 6))
                pub_dt = created
                if rng.random() < 0.05:  # F5 negatives
                    pub_dt = created + dt.timedelta(days=2)
                is_rt_r = rng.random()
                is_retweet = (None if is_rt_r < 0.1
                              else (True if is_rt_r < 0.3 else False))
                # ties at the limit boundary: quantize counts
                total_rt = (None if rng.random() < 0.2
                            else rng.randrange(0, 40) * 25)
                total_fav = (None if rng.random() < 0.2
                             else rng.randrange(0, 1000))
                highlights.append(
                    (ust_id, aggregate_id, pub_idx, is_retweet, pub_dt,
                     total_rt, total_fav)
                )
                pr = rng.random()
                if pr < 0.6:  # same-day checks, monotone counts
                    base = rng.randrange(0, 40) * 25
                    for c in range(rng.randrange(1, 5)):
                        checked = pub_dt + dt.timedelta(
                            minutes=30 * (c + 1)
                        )
                        popularity.append(
                            (ust_id, checked, base + 50 * c,
                             rng.randrange(0, 500) + 100 * c)
                        )
                elif pr < 0.7:  # checked only on a LATER day (excluded)
                    popularity.append(
                        (ust_id, pub_dt + dt.timedelta(days=1),
                         rng.randrange(2000, 3000), rng.randrange(0, 500))
                    )

    return write_tables(outdir, statuses, highlights, publishers_list,
                        popularity, weaving_user)


def write_tables(outdir, statuses, highlights, publishers_list, popularity,
                 weaving_user) -> dict[str, str]:
    """Write the five tables from their row tuples (the shapes built by
    ``generate``)."""
    os.makedirs(outdir, exist_ok=True)
    paths = {}

    def write(name: str, table: pa.Table) -> None:
        p = os.path.join(outdir, f"{name}.parquet")
        pq.write_table(table, p)
        paths[name] = p

    write(
        "weaving_status",
        pa.table(
            {
                "ust_id": pa.array([r[0] for r in statuses], pa.int64()),
                "ust_status_id": pa.array([r[1] for r in statuses]),
                "ust_full_name": pa.array([r[2] for r in statuses]),
                "ust_text": pa.array([r[3] for r in statuses]),
                "ust_created_at": pa.array(
                    [r[4] for r in statuses], pa.timestamp("us")
                ),
                "ust_api_document": pa.array([r[5] for r in statuses]),
            }
        ),
    )
    write(
        "highlight",
        pa.table(
            {
                "status_id": pa.array([r[0] for r in highlights], pa.int64()),
                "aggregate_id": pa.array([r[1] for r in highlights], pa.int64()),
                "member_id": pa.array([r[2] for r in highlights], pa.int64()),
                "is_retweet": pa.array([r[3] for r in highlights], pa.bool_()),
                "publication_date_time": pa.array(
                    [r[4] for r in highlights], pa.timestamp("us")
                ),
                "total_retweets": pa.array(
                    [r[5] for r in highlights], pa.int32()
                ),
                "total_favorites": pa.array(
                    [r[6] for r in highlights], pa.int32()
                ),
            }
        ),
    )
    write(
        "publishers_list",
        pa.table(
            {
                "id": pa.array([r[0] for r in publishers_list], pa.int64()),
                "public_id": pa.array([r[1] for r in publishers_list]),
                "screen_name": pa.array([r[2] for r in publishers_list]),
                "deleted_at": pa.array(
                    [r[3] for r in publishers_list], pa.timestamp("us")
                ),
            }
        ),
    )
    write(
        "status_popularity",
        pa.table(
            {
                "status_id": pa.array([r[0] for r in popularity], pa.int64()),
                "checked_at": pa.array(
                    [r[1] for r in popularity], pa.timestamp("us")
                ),
                "total_retweets": pa.array(
                    [r[2] for r in popularity], pa.int32()
                ),
                "total_favorites": pa.array(
                    [r[3] for r in popularity], pa.int32()
                ),
            }
        ),
    )
    write(
        "weaving_user",
        pa.table(
            {
                "usr_id": pa.array([r[0] for r in weaving_user], pa.int64()),
                "usr_twitter_username": pa.array([r[1] for r in weaving_user]),
                "usr_twitter_id": pa.array([r[2] for r in weaving_user]),
            }
        ),
    )
    return paths


#: a plain day and the two 2024 Europe/Paris DST days (23 h, 25 h)
EDGE_DAYS = ("2024-03-02", "2024-03-31", "2024-10-27")


def generate_window_edges(outdir: str, days=EDGE_DAYS) -> dict[str, str]:
    """Statuses at every hour boundary from 00:00 the day before to 00:00
    two days after each of ``days``: 1 µs before the boundary, on it,
    and 30 min after — so every civil-day bound, under any whole-hour
    shift or the Europe/Paris zone, has a row just inside and just
    outside it.  Each status has its own
    publisher (the distinct variants keep every row) and is highlighted
    in the target list; every fifth highlight is published an hour
    later than its status (day-consistency across a boundary); each
    highlight has one popularity check at publication and one 1 µs
    before the next hour."""
    us = dt.timedelta(microseconds=1)
    instants = sorted(
        _ts(day, 0, 0) + dt.timedelta(hours=h - 24) + d
        for day in days
        for h in range(73)
        for d in (-us, dt.timedelta(0), dt.timedelta(minutes=30))
    )
    statuses, highlights, popularity = [], [], []
    for i, created in enumerate(instants, 1):
        kind = i % 3  # is_retweet False / True / NULL
        doc: dict = {"user": {"id_str": str(5000 + i)},
                     "retweet_count": i % 50, "favorite_count": i % 70}
        if kind == 2 and i % 2:
            doc["retweeted_status_result"] = {}
        statuses.append((i, f"9{i:018d}", f"edge{i:04d}", f"edge {i}",
                         created, json.dumps(doc)))
        pub_dt = created + dt.timedelta(hours=1) if i % 5 == 0 else created
        highlights.append((i, 1, i, (False, True, None)[kind], pub_dt,
                           (i * 7) % 40 * 25, (i * 11) % 1000))
        popularity.append((i, pub_dt, 2000 + i, i))
        popularity.append((i, pub_dt + dt.timedelta(hours=1) - us,
                           3000 + i, 2 * i))
    publishers_list = [
        (1, TARGET_LIST, None, None),
        (2, DEPRECATED_LIST, None, None),
        (4, "deleted-list", "edge0007", _ts(days[0], 0, 0)),
    ]
    weaving_user = [(7, "edge0007", "5007")]
    return write_tables(outdir, statuses, highlights, publishers_list,
                        popularity, weaving_user)
