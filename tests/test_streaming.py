"""Structured Streaming tests: file-source micro-batches through the
incremental operators, checked against the equivalent batch results.
"""

from __future__ import annotations

import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from org_revue_de_presse_trends_spark.catalog import load_table
from org_revue_de_presse_trends_spark.functions.expressions import civil_day
from org_revue_de_presse_trends_spark.streaming.incremental import (
    foreach_batch_day_overwrite,
    running_user_peaks,
    windowed_daily_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture
def events_stream_dir(spark, tmp_path):
    """events split into 2 parquet chunks to force multiple input files."""
    d = str(tmp_path / "stream_in")
    ev = load_table(spark, SF, "events")
    ev.filter(F.col("event_id") % 2 == 0).write.parquet(d, mode="append")
    ev.filter(F.col("event_id") % 2 == 1).write.parquet(d, mode="append")
    return d


def test_windowed_daily_counts_matches_batch(spark, events_stream_dir, tmp_path):
    ev_batch = spark.read.parquet(events_stream_dir)
    stream = spark.readStream.schema(ev_batch.schema).parquet(events_stream_dir)
    agg = windowed_daily_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("daily_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r["day"]), r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM daily_counts").collect()
    }
    expected = {
        (str(r["day"]), r["event_type"]): r["n"]
        for r in ev_batch.groupBy(
            civil_day(F.col("ts")).alias("day"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expected
    assert len(got) > 0


def test_foreach_batch_day_overwrite(spark, events_stream_dir, tmp_path):
    """Incremental runner: micro-batches trigger per-day recompute +
    dynamic partition overwrite; final lake equals the batch result."""
    lake = str(tmp_path / "lake")
    ev_batch = spark.read.parquet(events_stream_dir)

    def recompute_day(day: str):
        return (
            ev_batch.filter(civil_day(F.col("ts")) == F.lit(day).cast("date"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )

    stream = spark.readStream.schema(ev_batch.schema).parquet(events_stream_dir)
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_day_overwrite(recompute_day, lake, ts_col="ts")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (str(r["day"]), r["event_type"]): r["n_events"]
        for r in spark.read.parquet(lake).collect()
    }
    expected = {
        (str(r["day"]), r["event_type"]): r["n"]
        for r in ev_batch.groupBy(
            civil_day(F.col("ts")).alias("day"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expected


def test_session_window_agrees_with_lag_sessionization(spark):
    """session_window (merge-window) session count per user equals the
    lag-based batch sessionization's (they define sessions identically:
    a >gap silence starts a new one)."""
    from org_revue_de_presse_trends_spark.plans.registry import QUERIES
    from org_revue_de_presse_trends_spark.streaming.incremental import (
        session_stats,
    )

    sw = session_stats(load_table(spark, SF, "events"), gap="30 minutes")
    sw_counts = {
        r["user_id"]: r["n"]
        for r in sw.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    lag = QUERIES["sessionize_events"](spark, SF)
    lag_counts = {
        r["user_id"]: r["n"]
        for r in lag.groupBy("user_id")
        .agg(F.countDistinct("session_id").alias("n"))
        .collect()
    }
    assert sw_counts == lag_counts and len(sw_counts) > 0


def test_session_window_runs_streaming(spark, events_stream_dir, tmp_path):
    from org_revue_de_presse_trends_spark.streaming.incremental import (
        session_stats,
    )

    ev_batch = spark.read.parquet(events_stream_dir)
    stream = spark.readStream.schema(ev_batch.schema).parquet(events_stream_dir)
    q = (
        session_stats(stream, gap="30 minutes", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("sessions_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.sql("SELECT count(*) FROM sessions_stream").collect()[0][0]
    # append mode only emits sessions finalized by the watermark; the
    # tail sessions stay in state — presence of rows is the contract
    assert n > 0


def test_incremental_trends_matches_batch(spark, tmp_path):
    """End-to-end incremental mode for the ACTUAL trends pipeline:
    highlight rows arrive as a stream; each micro-batch recomputes the
    affected civil days' status variant and overwrites those lake
    partitions; the final lake equals per-day batch runs."""
    import sys

    sys.path.insert(0, os.path.dirname(__file__))
    from fixtures.gen import DAYS, DEPRECATED_LIST, TARGET_LIST, generate

    from org_revue_de_presse_trends_spark.plans.trends import (
        TrendsParams,
        TrendsPipeline,
        TrendsTables,
    )

    domain = str(tmp_path / "domain")
    generate(domain)
    load = lambda n: spark.read.parquet(f"{domain}/{n}.parquet")
    tables = TrendsTables(
        load("highlight"), load("weaving_status"), load("publishers_list"),
        load("status_popularity"), load("weaving_user"),
    )

    def recompute_day(day: str):
        params = TrendsParams(
            (TARGET_LIST, DEPRECATED_LIST), since_date=day, limit=10
        )
        return TrendsPipeline(tables, params).variant("status")

    # stream the highlight table in two chunks
    stream_in = str(tmp_path / "hl_stream")
    hl = load("highlight")
    hl.filter(F.col("status_id") % 2 == 0).write.parquet(stream_in, mode="append")
    hl.filter(F.col("status_id") % 2 == 1).write.parquet(stream_in, mode="append")
    lake = str(tmp_path / "lake")
    stream = spark.readStream.schema(hl.schema).parquet(stream_in)
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_day_overwrite(recompute_day, lake)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_trends"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = spark.read.parquet(lake)
    for day in DAYS:
        batch = {
            tuple(r)
            for r in recompute_day(day).collect()
        }
        streamed = {
            tuple(r)[:-1]  # drop the day partition column
            for r in got.filter(F.col("day") == day).collect()
        }
        assert streamed == batch, f"day {day} mismatch"
    # late-data day also present: fixtures shift some publications +2d
    days_in_lake = {str(r[0]) for r in got.select("day").distinct().collect()}
    assert set(DAYS) <= days_in_lake


def test_dedup_stream_drops_redelivered_events(spark, tmp_path):
    """Simulated at-least-once source (every event delivered twice,
    in separate files) → dropDuplicatesWithinWatermark emits each key
    once."""
    from org_revue_de_presse_trends_spark.streaming.incremental import (
        dedup_stream,
    )

    d = str(tmp_path / "dup_stream")
    ev = load_table(spark, SF, "events").select("event_id", "ts", "value")
    ev.write.parquet(d, mode="append")
    ev.write.parquet(d, mode="append")  # full redelivery
    assert spark.read.parquet(d).count() == 2000
    stream = spark.readStream.schema(
        spark.read.parquet(d).schema
    ).parquet(d)
    q = (
        dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("deduped_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT count(*) AS n, count(DISTINCT event_id) AS d "
        "FROM deduped_stream"
    ).collect()[0]
    assert rows["n"] == rows["d"] == 1000


def test_jdbc_incremental_sync_protocol(spark, tmp_path):
    """Bookmark protocol: successive polls read disjoint increments;
    the union of processed batches equals the source table; empty poll
    stops the loop."""
    from org_revue_de_presse_trends_spark.streaming.jdbc_sync import (
        IncrementalSync,
        run_sync,
    )

    ev = load_table(spark, SF, "events").select("event_id", "ts", "value")
    src = str(tmp_path / "src")
    ev.write.parquet(src)
    full = spark.read.parquet(src)

    # stand-in for the JDBC pushdown reader: WHERE event_id > bookmark,
    # capped so each poll sees a finite chunk (simulates arrival)
    polled_upper = {"n": 0}
    chunk = 400

    def read_increment(lower):
        polled_upper["n"] += chunk
        df = full.filter(F.col("event_id") <= polled_upper["n"])
        if lower is not None:
            df = df.filter(F.col("event_id") > lower)
        return df

    sync = IncrementalSync(read_increment, "event_id")
    seen: list[set] = []

    def process(df, batch_id):
        seen.append({r["event_id"] for r in df.collect()})

    n = run_sync(sync, process, max_polls=10)
    assert n == 3  # 1000 events / 400 per poll
    all_ids = set().union(*seen)
    assert all_ids == {r["event_id"] for r in full.collect()}
    # increments are disjoint (each id delivered exactly once)
    assert sum(len(s) for s in seen) == len(all_ids)
    assert sync.bookmark == max(all_ids)


def test_jdbc_increment_reader_builds_pushdown_query():
    from org_revue_de_presse_trends_spark.streaming.jdbc_sync import (
        jdbc_increment_reader,
    )

    captured = {}

    class FakeSpark:
        pass

    import org_revue_de_presse_trends_spark.streaming.jdbc_sync as mod
    import org_revue_de_presse_trends_spark.sources.jdbc as jdbc_mod

    orig = jdbc_mod.read_jdbc
    try:
        def fake_read(spark, opts):
            captured.update(opts)
            return None

        jdbc_mod.read_jdbc = fake_read
        # reader imports read_jdbc inside the closure module — patch and call
        reader = jdbc_increment_reader(
            FakeSpark(), {"url": "jdbc:postgresql://db/x", "user": "u",
                          "password": "p"},
            "weaving_status", "ust_id",
        )
        reader(12345)
    finally:
        jdbc_mod.read_jdbc = orig
    assert captured["query"] == "SELECT * FROM weaving_status WHERE ust_id > 12345"


def test_running_user_peaks_stateful(spark, events_stream_dir, tmp_path):
    ev_batch = spark.read.parquet(events_stream_dir)
    stream = spark.readStream.schema(ev_batch.schema).parquet(events_stream_dir)
    peaks = running_user_peaks(stream)
    q = (
        peaks.writeStream.format("memory")
        .queryName("user_peaks")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    rows = spark.sql(
        "SELECT user_id, max(peak_value) AS peak, max(n_events) AS n "
        "FROM user_peaks GROUP BY user_id"
    ).collect()
    got = {r["user_id"]: (r["peak"], r["n"]) for r in rows}
    expected = {
        r["user_id"]: (r["peak"], r["n"])
        for r in ev_batch.groupBy("user_id")
        .agg(F.max("value").alias("peak"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expected


def test_running_user_peaks_drops_rows_behind_watermark(spark, tmp_path):
    """Two micro-batches of one query.  The first batch's latest event
    (12:00) sets the watermark to 11:00; in the second batch a 10:45
    row is behind it and is dropped, an 11:10 row is counted."""
    import datetime as dt

    src = str(tmp_path / "in")
    schema = "user_id LONG, value DOUBLE, ts TIMESTAMP"

    def at(hh, mm):
        return dt.datetime(2024, 3, 1, hh, mm)

    def add(rows):
        spark.createDataFrame(rows, schema).write.parquet(src, mode="append")

    def peaks():
        """Each user's last update: the one with the most events."""
        return {
            r["user_id"]: (r["peak_value"], r["n_events"])
            for r in spark.sql(
                "SELECT * FROM user_peaks_late ORDER BY n_events"
            ).collect()
        }

    add([(1, 1.0, at(10, 30)), (2, 5.0, at(12, 0))])
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        running_user_peaks(stream).writeStream.format("memory")
        .queryName("user_peaks_late")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_late"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert peaks() == {1: (1.0, 1), 2: (5.0, 1)}
        add([(1, 100.0, at(10, 45)), (1, 2.0, at(11, 10))])
        q.processAllAvailable()
        assert peaks() == {1: (2.0, 2), 2: (5.0, 1)}
    finally:
        q.stop()


def test_enrich_stream_with_static_dim(spark, events_stream_dir, tmp_path):
    """Stream-static join: streaming events enriched with a static
    user dimension; result equals the batch join."""
    from org_revue_de_presse_trends_spark.streaming.incremental import (
        enrich_stream_with_dim,
    )

    ev_batch = spark.read.parquet(events_stream_dir)
    dim = (
        ev_batch.select("user_id").distinct()
        .withColumn("user_tier", (F.col("user_id") % 3).cast("int"))
    )
    stream = spark.readStream.schema(ev_batch.schema).parquet(events_stream_dir)
    enriched = enrich_stream_with_dim(stream, dim, on="user_id")
    q = (
        enriched.writeStream.format("memory")
        .queryName("enriched_events")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_enrich"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        """SELECT user_tier, COUNT(*) AS n FROM enriched_events
           GROUP BY user_tier"""
    ).collect()
    want = {
        r["user_tier"]: r["n"]
        for r in ev_batch.join(dim, "user_id")
        .groupBy("user_tier")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {r["user_tier"]: r["n"] for r in got} == want
    assert sum(want.values()) == ev_batch.count()


def test_foreach_batch_document_sink(spark, tmp_path):
    """Streamed highlight records land in the document store with the
    same tree layout as the batch sink, grouped by civil day."""
    from org_revue_de_presse_trends_spark.sources.document_sink import (
        LocalFSDocumentStore,
    )
    from org_revue_de_presse_trends_spark.streaming.incremental import (
        foreach_batch_document_sink,
    )

    cols = [
        "id", "twitterId", "username", "text", "url", "json",
        "publishedAt", "checkedAt", "isRetweet",
        "totalRetweets", "totalFavorites", "statusType",
    ]
    rows = [
        (i, str(100 + i), f"u{i}", "t", "u", '{"ok":1}',
         f"2024-03-0{1 + i % 2} 12:00:00", "2024-03-02 12:00:00",
         False, 10 * i, i, "status")
        for i in range(6)
    ]
    src = str(tmp_path / "hl_in")
    spark.createDataFrame(rows, cols).write.parquet(src)
    batch_df = spark.read.parquet(src)
    root = str(tmp_path / "store")
    stream = spark.readStream.schema(batch_df.schema).parquet(src)
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_document_sink(
                lambda: LocalFSDocumentStore(root), list_id="list-1"
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_sink"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    d1 = os.path.join(root, "highlights", "list-1", "2024-03-01", "status")
    d2 = os.path.join(root, "highlights", "list-1", "2024-03-02", "status")
    assert sorted(os.listdir(d1)) == ["100.json", "102.json", "104.json"]
    assert sorted(os.listdir(d2)) == ["101.json", "103.json", "105.json"]


# --- streaming JDBC sink leg (north-star source/sink pair) -----------------


def test_upsert_sql_dialects():
    from org_revue_de_presse_trends_spark.streaming.jdbc_sink import upsert_sql

    pg = upsert_sql("t", ["k", "a", "b"], ["k"], dialect="postgresql")
    assert pg == (
        'INSERT INTO "t" ("k", "a", "b") VALUES (%s, %s, %s)'
        ' ON CONFLICT ("k") DO UPDATE SET "a" = excluded."a",'
        ' "b" = excluded."b"'
    )
    lite = upsert_sql("t", ["k", "a"], ["k"], dialect="sqlite")
    assert lite.startswith('INSERT INTO "t" ("k", "a") VALUES (?, ?)')
    # all-key table degrades to DO NOTHING (nothing to update)
    assert upsert_sql("t", ["k1", "k2"], ["k1", "k2"]).endswith("DO NOTHING")
    with pytest.raises(ValueError):
        upsert_sql("t", ["a"], ["k"])
    with pytest.raises(ValueError):
        upsert_sql("t", ["k"], ["k"], dialect="mysql")


def test_streaming_jdbc_upsert_roundtrip(spark, events_stream_dir, tmp_path):
    """The north-star sink leg end-to-end: events stream -> foreachBatch
    JDBC upsert (real SQL via stdlib sqlite) -> re-read equals the batch
    result; a full replay of the stream leaves the table unchanged
    (idempotent => effectively exactly-once)."""
    import sqlite3

    from org_revue_de_presse_trends_spark.streaming.jdbc_sink import (
        jdbc_upsert_foreach_batch,
        sqlite_connection_factory,
    )

    db = str(tmp_path / "sink.db")
    with sqlite3.connect(db) as conn:
        conn.execute(
            'CREATE TABLE "events_sync" ("event_id" INTEGER PRIMARY KEY,'
            ' "user_id" INTEGER, "event_type" TEXT, "value" REAL)'
        )

    ev_batch = spark.read.parquet(events_stream_dir).select(
        "event_id", "user_id", "event_type", "value"
    )

    def run_stream(ckpt: str):
        stream = (
            spark.readStream.schema(
                spark.read.parquet(events_stream_dir).schema
            )
            .parquet(events_stream_dir)
            .select("event_id", "user_id", "event_type", "value")
        )
        q = (
            stream.writeStream.foreachBatch(
                jdbc_upsert_foreach_batch(
                    sqlite_connection_factory(db),
                    table="events_sync",
                    key_cols=["event_id"],
                    order_col="value",
                    dialect="sqlite",
                    max_partitions=4,
                )
            )
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_stream("ckpt_jdbc1")
    with sqlite3.connect(db) as conn:
        got = sorted(conn.execute("SELECT * FROM events_sync").fetchall())
    # batching-independent assertions (the stream may split into
    # several micro-batches, so "global latest" is not the contract):
    # every key lands exactly once, and the landed row is a real input
    # row for that key — stable under fixture regeneration even if
    # duplicate event_ids with differing payloads appear.
    rows_by_key: dict = {}
    for r in ev_batch.collect():
        rows_by_key.setdefault(r["event_id"], set()).add(
            (r["event_id"], r["user_id"], r["event_type"], r["value"])
        )
    assert len(got) == len(rows_by_key) > 0
    assert {t[0] for t in got} == set(rows_by_key)
    for t in got:
        assert t in rows_by_key[t[0]]

    # replay from a fresh checkpoint: at-least-once delivery of every
    # row again must converge to the identical table
    run_stream("ckpt_jdbc2")
    with sqlite3.connect(db) as conn:
        again = sorted(conn.execute("SELECT * FROM events_sync").fetchall())
    assert again == got


def test_upsert_collapses_to_latest_within_batch(spark, tmp_path):
    """Two updates to one key inside a micro-batch: the row with the
    highest order_col wins deterministically."""
    import sqlite3

    from org_revue_de_presse_trends_spark.streaming.jdbc_sink import (
        jdbc_upsert_foreach_batch,
        sqlite_connection_factory,
    )

    db = str(tmp_path / "latest.db")
    with sqlite3.connect(db) as conn:
        conn.execute(
            'CREATE TABLE "kv" ("k" INTEGER PRIMARY KEY, "seq" INTEGER,'
            ' "v" TEXT)'
        )
    batch = spark.createDataFrame(
        [(1, 10, "old"), (1, 20, "new"), (2, 5, "only")], ["k", "seq", "v"]
    )
    fb = jdbc_upsert_foreach_batch(
        sqlite_connection_factory(db),
        table="kv",
        key_cols=["k"],
        order_col="seq",
        dialect="sqlite",
    )
    fb(batch, 0)
    with sqlite3.connect(db) as conn:
        rows = sorted(conn.execute("SELECT k, seq, v FROM kv").fetchall())
    assert rows == [(1, 20, "new"), (2, 5, "only")]


def test_interval_stream_join_matches_batch(spark, events_stream_dir, tmp_path):
    """Stream-stream interval join (purchase ⋈ same-user clicks within
    the preceding 10 minutes): the streaming run over the file stream
    must produce exactly the batch join's row set, and the plan must
    be a watermarked stream-stream join (state bounded)."""
    from org_revue_de_presse_trends_spark.streaming.incremental import (
        interval_stream_join,
        split_events_for_interval_join,
    )

    ev_batch = spark.read.parquet(events_stream_dir)
    expected = sorted(
        (r["purchase_id"], r["click_id"])
        for r in interval_stream_join(
            *split_events_for_interval_join(ev_batch)
        ).collect()
    )
    assert len(expected) > 0  # fixture has click→purchase sequences

    stream = spark.readStream.schema(ev_batch.schema).parquet(
        events_stream_dir
    )
    joined = interval_stream_join(*split_events_for_interval_join(stream))
    assert joined.isStreaming
    q = (
        joined.writeStream.format("memory")
        .queryName("interval_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_isj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        (r["purchase_id"], r["click_id"])
        for r in spark.sql("SELECT * FROM interval_join").collect()
    )
    assert got == expected


def test_north_star_loop_e2e_source_transform_sink(spark, tmp_path):
    """The full north-star loop in one test: relational SOURCE polled
    by bookmark (real sqlite, real WHERE pushdown) → row-level
    transform → JDBC SINK upsert (real sqlite via executors) → the
    final table equals the straight batch computation — and replaying
    the entire stream from a fresh bookmark leaves it unchanged."""
    import sqlite3

    from org_revue_de_presse_trends_spark.streaming.jdbc_sink import (
        jdbc_upsert_foreach_batch,
        sqlite_connection_factory,
    )
    from org_revue_de_presse_trends_spark.streaming.jdbc_sync import (
        IncrementalSync,
        run_sync,
    )

    db = str(tmp_path / "loop.db")
    with sqlite3.connect(db) as conn:
        conn.execute(
            'CREATE TABLE "events_src" ("event_id" INTEGER PRIMARY KEY,'
            ' "user_id" INTEGER, "value" REAL)'
        )
        conn.execute(
            'CREATE TABLE "events_out" ("event_id" INTEGER PRIMARY KEY,'
            ' "user_id" INTEGER, "double_value" REAL)'
        )
        conn.executemany(
            "INSERT INTO events_src VALUES (?, ?, ?)",
            [(i, i % 3, float(i)) for i in range(1, 8)],
        )

    def read_increment(lower):
        # the production reader pushes this WHERE down over JDBC; here
        # the same predicate runs against real sqlite
        q = "SELECT * FROM events_src"
        if lower is not None:
            q += f" WHERE event_id > {int(lower)}"
        with sqlite3.connect(db) as conn:
            rows = conn.execute(q).fetchall()
        return spark.createDataFrame(
            rows or [], "event_id long, user_id long, value double"
        )

    def transform(df):
        return df.select(
            "event_id", "user_id",
            (F.col("value") * 2).alias("double_value"),
        )

    sink = jdbc_upsert_foreach_batch(
        sqlite_connection_factory(db),
        table="events_out",
        key_cols=["event_id"],
        dialect="sqlite",
        max_partitions=2,
    )

    def process(batch_df, batch_id):
        sink(transform(batch_df), batch_id)

    sync = IncrementalSync(read_increment, "event_id")
    assert run_sync(sync, process, max_polls=10) == 1
    assert sync.bookmark == 7
    # late-arriving source rows: only they cross on the next poll
    with sqlite3.connect(db) as conn:
        conn.executemany(
            "INSERT INTO events_src VALUES (?, ?, ?)",
            [(8, 2, 8.0), (9, 0, 9.0)],
        )
    assert run_sync(sync, process, max_polls=10) == 1
    assert sync.bookmark == 9

    def read_out():
        with sqlite3.connect(db) as conn:
            return sorted(conn.execute("SELECT * FROM events_out"))

    got = read_out()
    # the loop's result equals the one-shot batch computation
    expected = sorted(
        (r["event_id"], r["user_id"], r["double_value"])
        for r in transform(read_increment(None)).collect()
    )
    assert got == expected and len(got) == 9

    # full replay from a fresh bookmark: at-least-once delivery of
    # every row again converges to the identical table (idempotence)
    assert run_sync(IncrementalSync(read_increment, "event_id"),
                    process, max_polls=10) == 1
    assert read_out() == got


def test_collapse_to_latest_skips_unorderable_tiebreak_columns(spark):
    """A map-typed payload column must not make the implicit tiebreak
    throw at plan time: maps are excluded from the ORDER BY, the
    order_col still decides, and the map payload survives."""
    from org_revue_de_presse_trends_spark.streaming.jdbc_sink import (
        collapse_to_latest,
    )

    df = spark.createDataFrame(
        [(1, 10, {"a": 1}), (1, 20, {"b": 2}), (2, 5, {"c": 3})],
        "k int, seq int, payload map<string,int>",
    )
    out = collapse_to_latest(df, ["k"], "seq")
    rows = {r["k"]: (r["seq"], dict(r["payload"])) for r in out.collect()}
    assert rows == {1: (20, {"b": 2}), 2: (5, {"c": 3})}
    # array-of-map is unorderable too; array-of-int is orderable
    df2 = spark.createDataFrame(
        [(1, 1, [{"x": 1}], [3, 4])],
        "k int, seq int, am array<map<string,int>>, ai array<int>",
    )
    assert collapse_to_latest(df2, ["k"], "seq").count() == 1


def test_streaming_near_dup_index_loop_matches_batch(spark, tmp_path):
    """Continuous near-dup detection: documents stream in chunks, each
    micro-batch pairs against the signature index accumulated from
    earlier batches (foreach_batch_near_dup_index).  The union of the
    per-batch pair outputs must equal the FULL-batch LSH pair set —
    every pair is emitted exactly by the batch carrying its
    later-arriving member — and the persisted index must cover every
    streamed doc."""
    from org_revue_de_presse_trends_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from org_revue_de_presse_trends_spark.streaming.incremental import (
        foreach_batch_near_dup_index,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    src = str(tmp_path / "docs_in")
    # 3 chunks => first batch self-pairs, later ones pair vs the index
    for part in range(3):
        docs.filter(F.col("doc_id") % 3 == part).write.parquet(
            src, mode="append"
        )
    index_path = str(tmp_path / "sig_index")
    pairs_path = str(tmp_path / "pairs_out")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_near_dup_index(
                index_path, pairs_path, threshold=0.35
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(pairs_path).collect()
    }
    want = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, threshold=0.35).collect()
    }
    assert got == want
    # index covers every doc exactly once
    idx = spark.read.parquet(index_path)
    assert idx.count() == docs.count()
    assert idx.select("id").distinct().count() == docs.count()


def test_streaming_burst_detect_matches_batch(spark, tmp_path):
    """Streaming burst detection: events arrive in three chunks split
    by event_id (so every chunk carries LATE data for every day); the
    accumulated counts and the final burst verdict table must equal
    the batch computation over all events exactly — same formula, same
    exact-integer baselines."""
    from org_revue_de_presse_trends_spark.plans.events_analytics import (
        burst_flags,
    )
    from org_revue_de_presse_trends_spark.streaming.incremental import (
        foreach_batch_burst_detect,
    )

    ev = load_table(spark, SF, "events").select("ts", "event_type")
    src = str(tmp_path / "events_in")
    for part in range(3):
        ev.filter(F.crc32(F.col("ts").cast("string")) % 3 == part).write.parquet(
            src, mode="append"
        )
    counts_path = str(tmp_path / "burst_counts")
    bursts_path = str(tmp_path / "bursts_out")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_burst_detect(spark, counts_path, bursts_path)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_burst"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["event_type"], str(r["day"])): (
            r["n_events"], r["n_baseline_days"], r["baseline_mean"],
            r["burst"],
        )
        for r in spark.read.parquet(bursts_path).collect()
    }
    daily = (
        ev.select("event_type", civil_day(F.col("ts")).alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    want = {
        (r["event_type"], str(r["day"])): (
            r["n_events"], r["n_baseline_days"], r["baseline_mean"],
            r["burst"],
        )
        for r in burst_flags(daily).collect()
    }
    assert got == want and got, "streamed bursts diverge from batch"


def test_burst_detect_replay_idempotent_and_compacts(spark, tmp_path):
    """at-least-once safety: replaying a micro-batch (same batch_id)
    must not double-count — the per-batch delta overwrite is the
    idempotency mechanism — and compaction (temp-write + atomic rename
    of an upto= marker, then GC) must preserve the aggregate exactly.
    Drives the foreachBatch fn directly to control batch_ids."""
    from org_revue_de_presse_trends_spark.plans.events_analytics import (
        burst_flags,
    )
    from org_revue_de_presse_trends_spark.streaming.incremental import (
        foreach_batch_burst_detect,
    )

    ev = load_table(spark, SF, "events").select("ts", "event_type")
    counts_path = str(tmp_path / "counts")
    bursts_path = str(tmp_path / "bursts")
    # compact_every=1 → every multi-delta batch triggers compaction
    run = foreach_batch_burst_detect(
        spark, counts_path, bursts_path, compact_every=1
    )
    chunks = [
        ev.filter(F.crc32(F.col("ts").cast("string")) % 3 == p)
        for p in range(3)
    ]
    run(chunks[0], 0)
    run(chunks[0], 0)  # replay of batch 0 — must be a no-op net effect
    run(chunks[1], 1)  # triggers compaction (2 live deltas > 1)
    run(chunks[1], 1)  # replay AFTER compaction + GC of its delta
    run(chunks[2], 2)
    got = {
        (r["event_type"], str(r["day"])): (r["n_events"], r["burst"])
        for r in spark.read.parquet(bursts_path).collect()
    }
    daily = (
        ev.select("event_type", civil_day(F.col("ts")).alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    want = {
        (r["event_type"], str(r["day"])): (r["n_events"], r["burst"])
        for r in burst_flags(daily).collect()
    }
    assert got == want and got, "replayed/compacted bursts diverge"


def test_streaming_hll_replay_idempotent_and_matches_batch(spark, tmp_path):
    """Streaming HLL distinct-count: after chunked arrival with a
    replayed batch and a compaction cycle, the merged registers AND the
    estimate table must equal the one-shot batch sketch exactly —
    max-merge is idempotent by algebra, so no replay can inflate it."""
    from org_revue_de_presse_trends_spark.operators.hll import (
        hll_distinct,
        hll_registers,
    )
    from org_revue_de_presse_trends_spark.streaming.incremental import (
        foreach_batch_hll_distinct,
    )

    ev = load_table(spark, SF, "events").select("event_type", "user_id")
    sketch_path = str(tmp_path / "hll_sketch")
    est_path = str(tmp_path / "hll_est")
    run = foreach_batch_hll_distinct(
        spark, sketch_path, est_path, compact_every=1
    )
    chunks = [
        ev.filter(F.crc32(F.col("user_id").cast("string")) % 3 == i)
        for i in range(3)
    ]
    run(chunks[0], 0)
    run(chunks[0], 0)  # replay of batch 0 — max-merge must absorb it
    run(chunks[1], 1)  # triggers compaction (2 live deltas > 1)
    run(chunks[1], 1)  # replay AFTER compaction + GC of its delta
    run(chunks[2], 2)
    got = {
        (r["event_type"], r["bucket"]): r["r"]
        for r in spark.read.parquet(f"{sketch_path}/compact/upto=2")
        .unionByName(
            spark.read.parquet(f"{sketch_path}/delta/batch_id=2")
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("r").alias("r"))
        .collect()
    }
    want = {
        (r["event_type"], r["bucket"]): r["r"]
        for r in hll_registers(ev, ["event_type"], "user_id").collect()
    }
    assert got == want
    est = {
        r["event_type"]: (r["hll_zscaled"], r["hll_estimate"])
        for r in spark.read.parquet(est_path).collect()
    }
    batch = {
        r["event_type"]: (r["hll_zscaled"], r["hll_estimate"])
        for r in hll_distinct(ev, ["event_type"], "user_id").collect()
    }
    assert est == batch


def test_streaming_histogram_replay_idempotent_and_matches_batch(
    spark, tmp_path
):
    """Streaming histogram quantiles: chunked arrival with a replayed
    batch and a compaction cycle must end with the merged bins AND the
    quantile table exactly equal to the one-shot batch sketch —
    sum-merge is NOT idempotent, so this pins the per-batch-delta
    discipline doing its job (the contrast with the HLL sink's
    by-algebra safety)."""
    from org_revue_de_presse_trends_spark.operators.histogram import (
        histogram,
        histogram_quantiles_of,
    )
    from org_revue_de_presse_trends_spark.streaming.incremental import (
        foreach_batch_histogram_quantiles,
    )

    ev = load_table(spark, SF, "events").select("event_type", "value")
    sketch_path = str(tmp_path / "hist_sketch")
    q_path = str(tmp_path / "hist_q")
    run = foreach_batch_histogram_quantiles(
        spark, sketch_path, q_path, width=5.0, compact_every=1
    )
    chunks = [
        ev.filter(F.crc32(F.col("value").cast("string")) % 3 == i)
        for i in range(3)
    ]
    run(chunks[0], 0)
    run(chunks[0], 0)  # replay: delta overwrite absorbs it
    run(chunks[1], 1)  # compaction fires
    run(chunks[1], 1)  # replay after compaction + GC
    run(chunks[2], 2)
    got_bins = {
        (r["event_type"], r["bin"]): r["c"]
        for r in spark.read.parquet(f"{sketch_path}/compact/upto=2")
        .unionByName(
            spark.read.parquet(f"{sketch_path}/delta/batch_id=2")
        )
        .groupBy("event_type", "bin")
        .agg(F.sum("c").alias("c"))
        .collect()
    }
    want_bins = {
        (r["event_type"], r["bin"]): r["c"]
        for r in histogram(ev, "value", ["event_type"], width=5.0).collect()
    }
    assert got_bins == want_bins
    got_q = {
        r["event_type"]: (r["n"], r["q_0_5"], r["q_0_9"], r["q_0_99"])
        for r in spark.read.parquet(q_path).collect()
    }
    want_q = {
        r["event_type"]: (r["n"], r["q_0_5"], r["q_0_9"], r["q_0_99"])
        for r in histogram_quantiles_of(
            ev, "value", qs=(0.5, 0.9, 0.99),
            group_cols=["event_type"], width=5.0,
        ).collect()
    }
    assert got_q == want_q


def test_streaming_auc_replay_idempotent_and_matches_batch(
    spark, tmp_path
):
    """Streaming AUC: chunked arrival with a replayed batch and a
    compaction cycle must end with the merged (score, p, q) sketch AND
    the finalized AUC row exactly equal to the one-shot batch values —
    the eval layer's instance of the per-batch-delta discipline
    (sum-merge is not idempotent)."""
    from org_revue_de_presse_trends_spark.operators.evalmetrics import (
        auc,
        score_label_counts,
    )
    from org_revue_de_presse_trends_spark.streaming.incremental import (
        foreach_batch_auc,
    )

    ev = (
        load_table(spark, SF, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select("event_type", "value")
    )
    sketch_path = str(tmp_path / "auc_sketch")
    auc_path = str(tmp_path / "auc_row")
    run = foreach_batch_auc(
        spark, sketch_path, auc_path, compact_every=1
    )
    chunks = [
        ev.filter(F.crc32(F.col("value").cast("string")) % 3 == i)
        for i in range(3)
    ]
    run(chunks[0], 0)
    run(chunks[0], 0)  # replay: delta overwrite absorbs it
    run(chunks[1], 1)  # compaction fires
    run(chunks[1], 1)  # replay after compaction + GC
    run(chunks[2], 2)
    got_sketch = {
        r["score"]: (r["p"], r["q"])
        for r in spark.read.parquet(f"{sketch_path}/compact/upto=2")
        .unionByName(
            spark.read.parquet(f"{sketch_path}/delta/batch_id=2")
        )
        .groupBy("score")
        .agg(F.sum("p").alias("p"), F.sum("q").alias("q"))
        .collect()
    }
    want_sketch = {
        r["score"]: (r["p"], r["q"])
        for r in score_label_counts(
            ev, "value", F.expr("event_type = 'purchase'")
        ).collect()
    }
    assert got_sketch == want_sketch
    got = spark.read.parquet(auc_path).collect()[0]
    want = auc(ev, "value", F.expr("event_type = 'purchase'")).collect()[0]
    assert (got["n_pos"], got["n_neg"], got["auc"]) == (
        want["n_pos"], want["n_neg"], want["auc"],
    )
    assert got["auc"] is not None


def test_streaming_shard_manifest_matches_batch_export(spark, tmp_path):
    """Continuous shard export (r10 verdict item 3): documents arrive
    in three chunks with a replayed batch and a compaction + GC cycle;
    the CURRENT manifest must equal the one-shot batch manifest
    EXACTLY (sum-mergeable mod-2^61-1 checksums), and the documented
    reader-side loop — verify_export over the accumulated batch dirs
    against the current manifest — must come back clean."""
    from org_revue_de_presse_trends_spark.operators.export import (
        shard_manifest,
        verify_export,
    )
    from org_revue_de_presse_trends_spark.streaming.incremental import (
        foreach_batch_shard_manifest,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    data_path = str(tmp_path / "shard_data")
    manifest_path = str(tmp_path / "shard_manifest")
    run = foreach_batch_shard_manifest(
        spark, data_path, manifest_path, 4, "doc_id", ["text"],
        compact_every=1,
    )
    chunks = [
        docs.filter(F.crc32(F.col("text")) % 3 == i) for i in range(3)
    ]
    run(chunks[0], 0)
    run(chunks[0], 0)  # replay: delta + data overwrite absorb it
    run(chunks[1], 1)  # compaction fires (2 live deltas > 1)
    run(chunks[1], 1)  # replay AFTER compaction + GC of its delta
    run(chunks[2], 2)
    current = sorted(
        map(
            tuple,
            spark.read.parquet(f"{manifest_path}/current")
            .select("shard_id", "n_rows", "total_chars", "checksum")
            .collect(),
        )
    )
    want = sorted(
        map(tuple, shard_manifest(docs, 4, "doc_id", ["text"]).collect())
    )
    assert current == want and len(current) == 4
    # reader-side loop over the accumulated batch dirs
    assert (
        verify_export(
            spark,
            data_path,
            spark.read.parquet(f"{manifest_path}/current"),
            4,
            "doc_id",
            ["text"],
        ).count()
        == 0
    )
    # the compaction actually cycled: a marker exists and batch-0/1
    # deltas were GC'd
    import glob as _glob

    assert _glob.glob(f"{manifest_path}/compact/upto=*")
    assert not _glob.glob(f"{manifest_path}/delta/batch_id=0")


def test_streaming_line_dedup_matches_batch(spark, tmp_path):
    """Continuous C4-style line dedup: documents arrive in contiguous
    doc_id chunks (the keep-first total order), each batch dedups
    against the norm index from earlier batches.  The accumulated
    deduped documents must equal the one-shot batch operator on the
    full corpus, and replays — both re-running a committed batch and
    re-running after its index append — must be BIT-identical, never
    over-dropped."""
    from org_revue_de_presse_trends_spark.operators.linededup import (
        remove_duplicate_lines,
    )
    from org_revue_de_presse_trends_spark.streaming.incremental import (
        foreach_batch_line_dedup,
    )

    docs = (
        load_table(spark, SF, "documents")
        .selectExpr(
            "doc_id",
            "regexp_replace(text, '((?:\\\\S+ ){6})', '$1\n')"
            " || CASE WHEN doc_id % 4 = 0 THEN '\nShared boilerplate"
            " line here' ELSE '' END AS text",
        )
    )
    n = docs.count()
    cut1, cut2 = n // 3, 2 * n // 3
    chunks = [
        docs.where(F.col("doc_id") < cut1),
        docs.where((F.col("doc_id") >= cut1) & (F.col("doc_id") < cut2)),
        docs.where(F.col("doc_id") >= cut2),
    ]
    index_path = str(tmp_path / "line_index")
    out_path = str(tmp_path / "docs_out")
    run = foreach_batch_line_dedup(index_path, out_path, min_chars=10)
    run(chunks[0], 0)
    run(chunks[0], 0)  # replay AFTER batch 0's index append
    run(chunks[1], 1)
    run(chunks[1], 1)  # replay of a committed later batch
    run(chunks[2], 2)

    got_rows = spark.read.parquet(out_path).collect()
    # replays emit EXACT duplicates: one distinct row per (doc, batch)
    per_key = {}
    for r in got_rows:
        key = (r["doc_id"], r["batch_id"])
        val = (r["text_line_deduped"], r["n_lines"], r["n_kept"], r["n_dropped"])
        assert per_key.setdefault(key, val) == val, f"replay drift at {key}"
    got = {
        k[0]: v for k, v in per_key.items()
    }
    want = {
        r["doc_id"]: (
            r["text_line_deduped"], r["n_lines"], r["n_kept"], r["n_dropped"]
        )
        for r in remove_duplicate_lines(docs, min_chars=10).collect()
    }
    assert got == want
    # index holds each eligible norm exactly once per (norm, batch) —
    # replay duplicates collapse under distinct
    idx = spark.read.parquet(index_path)
    n_norms = idx.select("line_norm").distinct().count()
    assert idx.select("line_norm", "batch_id").distinct().count() == n_norms


def test_streaming_line_dedup_corrupt_index_propagates(spark, tmp_path):
    """Review-caught: only a MISSING index path means first batch —
    a corrupt index must raise, not silently dedup against nothing."""
    import pytest as _pytest

    from org_revue_de_presse_trends_spark.streaming.incremental import (
        foreach_batch_line_dedup,
    )

    index_path = tmp_path / "line_index"
    index_path.mkdir()
    (index_path / "part-garbage.parquet").write_bytes(b"not parquet")
    run = foreach_batch_line_dedup(
        str(index_path), str(tmp_path / "out"), min_chars=5
    )
    df = spark.createDataFrame(
        [(1, "some line of text here")], "doc_id long, text string"
    )
    with _pytest.raises(Exception) as exc_info:
        run(df, 1)
    assert "PATH_NOT_FOUND" not in str(exc_info.value)
