"""Incremental (Structured Streaming) mode — SURVEY §2.9 / stage 5.

Model follows "Structured Streaming: A Declarative API for Real-Time
Applications in Apache Spark" (SIGMOD 2018): the same DataFrame
transformations run batch or streaming; watermarks bound state;
idempotent sinks give end-to-end exactly-once.

The reference is a batch job rerun per civil day with full recompute +
partition overwrite (trends.go:656-662).  The streaming analogue keeps
the same *semantics* with late-data tolerance:

- ``windowed_daily_counts`` — the F1/P6 civil-day tumbling window as a
  watermarked streaming aggregation (state bounded by the watermark).
- ``foreach_batch_day_overwrite`` — the incremental trends runner:
  every micro-batch finds the civil days it touches and recomputes/
  overwrites exactly those lake partitions (dynamic partition
  overwrite), i.e. the reference's delete-then-write generalized to
  continuous arrival.  Exactly-once per partition comes from the
  overwrite being idempotent, the classic foreachBatch upsert pattern.
- ``running_user_peaks`` — applyInPandasWithState example: per-user
  running peak value with event-time timeout, the template for
  custom stateful operators the built-in windows can't express.
- ``foreach_batch_hll_distinct`` / ``foreach_batch_histogram_quantiles``
  / ``foreach_batch_auc`` — running sketches over unbounded streams
  (distinct counts by replay-safe max-merge; quantiles and exact
  tie-corrected AUC by per-batch-delta sum-merge), state bounded by
  the sketch size forever.
- ``foreach_batch_shard_manifest`` — continuous shard export with a
  live order-independent content manifest: the mod-2^61-1 checksums
  of ``operators/export.py`` are sum-mergeable by construction, so
  per-batch partial manifests fold exactly into the one-shot batch
  manifest.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.expressions import civil_day


def _numbered_subdirs(fs, hpath, root: str, prefix: str) -> dict[int, str]:
    """``<root>/<prefix><int>`` subdirectories, keyed by the int —
    the delta/compact-marker listing shared by the stateful
    foreachBatch sinks (``_tmp_*`` from an interrupted compaction is
    skipped by the int parse)."""
    rp = hpath(root)
    if not fs.exists(rp):
        return {}
    out = {}
    for st in fs.listStatus(rp):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(prefix):
            try:
                out[int(name[len(prefix):])] = str(st.getPath())
            except ValueError:
                continue
    return out


def windowed_daily_counts(
    events: DataFrame,
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Civil-day tumbling counts over a (possibly streaming) events
    frame.  civil_day(ts) = date(ts - 1h) buckets [01:00 D, 01:00 D+1)
    into day D, so the tumbling window starts at +1 hour and the day
    label is the window-start date."""
    with_wm = events.withWatermark(ts_col, watermark)
    return (
        with_wm.groupBy(
            F.window(F.col(ts_col), "1 day", startTime="1 hour").alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.to_date(F.col("w.start")).alias("day"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def foreach_batch_document_sink(
    store_factory,
    list_id: str,
    ts_col: str = "publishedAt",
    shift_hours: int = 1,
):
    """Build a foreachBatch function that fans each micro-batch's
    highlight records out to the document store — the reference's
    Firebase write (trends.go:656-745) run continuously.

    Per micro-batch, records are grouped by their civil day and each
    day's slice goes through ``write_highlights`` (one atomic replace
    of each (list, day, type) subtree → idempotent, so micro-batch
    retries are exactly-once per subtree, matching the lake path's
    semantics).
    """
    from ..sources.document_sink import write_highlights

    def run(batch_df: DataFrame, batch_id: int) -> None:
        days = [
            str(r[0])
            for r in batch_df.select(
                civil_day(F.col(ts_col).cast("timestamp"), shift_hours).alias("d")
            )
            .distinct()
            .collect()
        ]
        for day in sorted(days):
            slice_df = batch_df.filter(
                civil_day(F.col(ts_col).cast("timestamp"), shift_hours)
                == F.lit(day).cast("date")
            )
            write_highlights(
                slice_df, store_factory, list_id=list_id, since_date=day
            )

    return run


def enrich_stream_with_dim(
    stream: DataFrame,
    dim: DataFrame,
    on,
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static equi-join: every micro-batch joins against the
    static dimension snapshot — stateless (no watermark required), the
    standard enrichment shape for joining a stream to a slowly-changing
    dimension.  The dim side is broadcast by default: a shuffled
    stream-static join would re-shuffle EVERY micro-batch; a broadcast
    ships the dim once per executor."""
    d = F.broadcast(dim) if broadcast_dim else dim
    return stream.join(d, on, how)


def foreach_batch_day_overwrite(
    recompute_day: Callable[[str], DataFrame],
    lake_path: str,
    ts_col: str = "publication_date_time",
    shift_hours: int = 1,
) -> Callable[[DataFrame, int], None]:
    """Build a foreachBatch function: for each micro-batch, derive the
    set of affected civil days, recompute each day's full result via
    ``recompute_day(day)`` (the batch pipeline — full-recompute
    semantics exactly like the reference's daily rerun), and
    dynamic-overwrite those day partitions in the lake.

    Late data is handled structurally: a record for day D-3 simply puts
    D-3 back into the affected set and that partition is rebuilt."""
    from ..sources.lake import write_partitioned

    def run(batch_df: DataFrame, batch_id: int) -> None:
        days = [
            str(r[0])
            for r in batch_df.select(
                civil_day(F.col(ts_col), shift_hours).alias("d")
            )
            .distinct()
            .collect()
        ]
        for day in sorted(days):
            out = recompute_day(day).withColumn("day", F.lit(day))
            write_partitioned(out, lake_path, partition_by=("day",))

    return run


def session_stats(
    events: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    watermark: str | None = None,
) -> DataFrame:
    """Per-user session aggregation via native ``session_window``
    (dynamic-gap merge windows).  Works identically on batch and
    streaming frames; pass ``watermark`` when streaming so state for
    closed sessions is dropped.  The batch lag-based formulation
    (plans.driver_queries_ext.sessionize_events) is the oracle-checked
    twin — tests assert the two agree on session counts."""
    src = events
    if watermark is not None:
        src = src.withWatermark(ts_col, watermark)
    return (
        src.groupBy(
            F.session_window(F.col(ts_col), gap).alias("w"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def dedup_stream(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact deduplication: drop repeated keys arriving
    within the watermark horizon (state is bounded — keys older than
    the watermark are evicted, unlike an unbounded dropDuplicates).
    The streaming member of the operators.dedup family: at-least-once
    upstream delivery becomes exactly-once records downstream."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def running_user_peaks(
    events: DataFrame,
    ts_col: str = "ts",
    timeout_minutes: int = 60,
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running peak event value + count, state expiring after
    ``timeout_minutes`` of event-time inactivity — once the watermark
    (``timeout_minutes`` behind the latest ``ts_col`` seen) passes the
    user's last event + ``timeout_minutes``.

    The timeout is on event time, not processing time: under
    ``trigger(availableNow=True)`` a processing-time timeout keeps the
    query running no-data batches forever.

    Late rows are dropped: a row whose ``ts_col`` is behind the
    watermark of the batch it arrives in counts in neither
    ``peak_value`` nor ``n_events``.  The lateness tolerance is thus
    ``timeout_minutes``, the same horizon as state expiry; a batch
    frame has no watermark and drops nothing."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    output_schema = "user_id LONG, peak_value DOUBLE, n_events LONG"
    state_schema = "peak_value DOUBLE, n_events LONG, last_ms LONG"
    timeout_ms = timeout_minutes * 60 * 1000

    def update(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        peak, n, last = state.get if state.exists else (float("-inf"), 0, 0)
        for pdf in pdf_iter:
            if len(pdf):
                peak = max(peak, float(pdf["value"].max()))
                n += len(pdf)
                last = max(last, int(pdf["event_ms"].max()))
        state.update((peak, n, last))
        # late rows never reach here, so this is at or past the watermark
        state.setTimeoutTimestamp(last + timeout_ms)
        yield pd.DataFrame(
            {"user_id": [key[0]], "peak_value": [peak], "n_events": [n]}
        )

    return (
        events.withWatermark(ts_col, f"{timeout_minutes} minutes")
        .select("user_id", "value", ts_col,
                F.unix_millis(F.col(ts_col)).alias("event_ms"))
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def interval_stream_join(
    purchases: DataFrame,
    clicks: DataFrame,
    within: str = "10 minutes",
    watermark: str = "30 minutes",
    user_col: str = "user_id",
) -> DataFrame:
    """Stream-stream interval join: each purchase matched to the SAME
    user's clicks in the event-time window [purchase_ts − within,
    purchase_ts] — the streaming member of the as-of/range-join family
    (operators/asof.py and operators/rangejoin.py are the batch twins).

    Both inputs carry watermarks and the join condition bounds click
    time RELATIVE to purchase time, which is exactly what lets Spark
    evict buffered rows: a click older than (purchase watermark +
    within) can never match again (SIGMOD 2018 §4.3's state cleanup
    argument).  Without the time-range conjunct the state store grows
    unboundedly and Spark rejects append mode.

    Works identically on batch frames (the watermark is a no-op there)
    — tests pin batch/stream agreement.
    """
    p = purchases.withWatermark("p_ts", watermark)
    c = clicks.withWatermark("c_ts", watermark)
    cond = (
        (F.col(f"p_{user_col}") == F.col(f"c_{user_col}"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {within}"))
    )
    return p.join(c, cond, "inner").select(
        F.col("p_event_id").alias("purchase_id"),
        F.col(f"p_{user_col}").alias(user_col),
        F.col("p_ts").alias("purchase_ts"),
        F.col("c_event_id").alias("click_id"),
        F.col("c_ts").alias("click_ts"),
    )


def split_events_for_interval_join(
    events: DataFrame, user_col: str = "user_id"
) -> tuple[DataFrame, DataFrame]:
    """Project the events frame into the (purchases, clicks) inputs of
    ``interval_stream_join`` with disjoint column names (stream-stream
    joins need both sides' event-time columns in the output)."""
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"),
        F.col(user_col).alias(f"p_{user_col}"),
        F.col("ts").alias("p_ts"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_event_id"),
        F.col(user_col).alias(f"c_{user_col}"),
        F.col("ts").alias("c_ts"),
    )
    return purchases, clicks


def foreach_batch_near_dup_index(
    index_path: str,
    pairs_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
):
    """foreachBatch body for CONTINUOUS near-dup detection: each
    micro-batch of documents is LSH-paired against the signature index
    accumulated from every earlier batch (operators/dedup.minhash_index
    + minhash_lsh_pairs_incremental), the batch's pairs append to
    ``pairs_path``, and the batch's signatures append to
    ``index_path``.

    Growth shape: per batch the expensive text→signature stage touches
    only the batch; the index contributes 512 B/doc of signatures read
    from the lake.  Replayed batches (restart inside an epoch) are
    tolerated by the fresh-signature anti-join: re-paired rows re-emit
    the same pairs, which downstream consumers dedup on (id_a, id_b) —
    the same at-least-once contract as every foreachBatch sink here.

    Pair output columns: (id_a, id_b, est_jaccard, a_is_new, b_is_new,
    batch_id).
    """
    from ..operators.dedup import minhash_index, minhash_lsh_pairs_incremental

    def run(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            index = spark.read.parquet(index_path)
            have_index = True
        except Exception:  # first batch: no index yet
            have_index = False
        sig = minhash_index(batch_df, text_col=text_col, id_col=id_col)
        if have_index:
            pairs = minhash_lsh_pairs_incremental(
                batch_df,
                index,
                text_col=text_col,
                id_col=id_col,
                threshold=threshold,
            )
        else:
            from ..operators.dedup import minhash_lsh_pairs

            pairs = minhash_lsh_pairs(
                batch_df,
                text_col=text_col,
                id_col=id_col,
                threshold=threshold,
            ).select(
                "id_a",
                "id_b",
                "est_jaccard",
                F.lit(True).alias("a_is_new"),
                F.lit(True).alias("b_is_new"),
            )
        pairs.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(pairs_path)
        # signatures append AFTER pairs so a crash between the writes
        # replays the batch against the old index (duplicate pairs,
        # never missed ones)
        sig.write.mode("append").parquet(index_path)

    return run


def foreach_batch_line_dedup(
    index_path: str,
    out_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 10,
):
    """foreachBatch body for CONTINUOUS C4-style line dedup: each
    micro-batch of documents is line-deduped against the normalized-
    line index accumulated from every earlier batch
    (operators/linededup.remove_duplicate_lines_incremental), the
    batch's deduped documents append to ``out_path`` and the batch's
    newly-seen norms append to ``index_path``.

    Chunked ingestion in doc_id order equals the one-shot batch
    operator on the concatenated corpus (pinned in
    tests/test_streaming.py).  Replay is BIT-IDENTICAL, not merely
    at-least-once: index rows are stamped with their batch_id and the
    anti-join reads only rows with ``batch_id < current``, so a
    replayed batch — whether the crash hit before or after the index
    append — sees exactly the pre-batch index and re-emits the same
    deduped documents (downstream dedups exact duplicate rows on
    (doc_id, batch_id)).  Duplicate index rows from a post-append
    replay are absorbed by the anti-join's distinct.

    Growth shape: per batch only the batch's text is split; history
    contributes one anti-join against a single-column index.
    """
    from ..operators.linededup import (
        line_index,
        remove_duplicate_lines_incremental,
    )

    def run(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        spark = batch_df.sparkSession
        try:
            index = spark.read.parquet(index_path).where(
                F.col("batch_id") < batch_id
            )
            have_index = index.limit(1).count() > 0
        except AnalysisException as exc:
            # ONLY a missing index path means "first batch"; any other
            # read failure (corrupt footer, transient FS error) must
            # propagate — swallowing it would silently dedup the batch
            # against nothing and re-emit history (review-caught)
            msg = str(exc)
            if "PATH_NOT_FOUND" not in msg and "does not exist" not in msg:
                raise
            have_index = False
        if have_index:
            deduped, new_index = remove_duplicate_lines_incremental(
                batch_df,
                index,
                id_col=id_col,
                text_col=text_col,
                min_chars=min_chars,
            )
        else:
            from ..operators.linededup import remove_duplicate_lines

            deduped = remove_duplicate_lines(
                batch_df,
                id_col=id_col,
                text_col=text_col,
                min_chars=min_chars,
            )
            new_index = line_index(
                batch_df,
                id_col=id_col,
                text_col=text_col,
                min_chars=min_chars,
            )
        deduped.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out_path)
        new_index.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(index_path)

    return run


def foreach_batch_burst_detect(
    spark,
    counts_path: str,
    bursts_path: str,
    ts_col: str = "ts",
    shift_hours: int = 1,
    compact_every: int = 8,
) -> Callable[[DataFrame, int], None]:
    """Streaming burst detection: accumulate per-(event_type, civil
    day) counts across micro-batches and recompute burst verdicts with
    the SAME formula as the batch query (``plans.events_analytics.
    burst_flags``) after every batch.

    IDEMPOTENT under foreachBatch's at-least-once replay: each batch
    writes its (type, day) count increments to a per-batch delta dir
    ``<counts>/delta/batch_id=N`` (a replayed batch overwrites its own
    delta with identical content — never a double-counting sum-merge
    into a shared table), and the counts are the aggregate over deltas
    at read time.  LATE events simply add mass to their (old) day's
    key in the new delta, so affected baselines re-evaluate on the
    next batch.

    Read fan-in stays bounded via compaction markers: once more than
    ``compact_every`` deltas are live, the full aggregate is written to
    ``<counts>/compact/upto=N+1`` (covering every batch_id < N+1) via
    a temp dir + atomic FileSystem.rename, and readers take the MAX
    marker and ignore all deltas/markers below it — so a crash between
    the rename and delta GC leaves stale dirs that are ignored, never
    double-counted, and GC is safe at any time.  Both tables are
    bounded at types × days rows; burst verdicts are recomputed from
    the counts every batch (derived state — a replay regenerates it).
    """
    from ..plans.events_analytics import burst_flags

    def run(batch_df: DataFrame, batch_id: int) -> None:
        hpath = spark._jvm.org.apache.hadoop.fs.Path
        fs = hpath(counts_path).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        delta_root = f"{counts_path}/delta"
        compact_root = f"{counts_path}/compact"
        b = (
            batch_df.select(
                "event_type",
                civil_day(F.col(ts_col), shift_hours).alias("day"),
            )
            .groupBy("event_type", "day")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # (1) idempotent per-batch delta: replay rewrites the same dir
        b.write.mode("overwrite").parquet(
            f"{delta_root}/batch_id={batch_id}"
        )

        def _subdirs(root: str, prefix: str) -> dict[int, str]:
            return _numbered_subdirs(fs, hpath, root, prefix)

        # (2) aggregate-on-read: max compact marker + deltas above it
        compacts = _subdirs(compact_root, "upto=")
        upto = max(compacts) if compacts else 0
        deltas = _subdirs(delta_root, "batch_id=")
        live = [p for k, p in deltas.items() if k >= upto]
        paths = ([compacts[upto]] if compacts else []) + live
        counts = (
            spark.read.parquet(*paths)
            .groupBy("event_type", "day")
            .agg(F.sum("c").alias("c"))
        )
        # (3) verdicts: full recompute from counts, bounded rows
        burst_flags(counts).write.mode("overwrite").parquet(bursts_path)
        # (4) compaction: fold everything committed so far (including
        # this batch) under one marker; temp-write + atomic rename so a
        # reader never sees a partial marker dir.  Skip if the marker
        # already exists (replay — deterministic, identical content).
        if len(live) > compact_every:
            dst = hpath(f"{compact_root}/upto={batch_id + 1}")
            if not fs.exists(dst):
                tmp = f"{compact_root}/_tmp_upto={batch_id + 1}"
                counts.write.mode("overwrite").parquet(tmp)
                if not fs.rename(hpath(tmp), dst):
                    raise IOError(
                        f"compact rename failed: {tmp} -> {dst}"
                    )
            # (5) GC superseded dirs — reader already ignores them
            for k, p in deltas.items():
                if k <= batch_id:
                    fs.delete(hpath(p), True)
            for k, p in compacts.items():
                fs.delete(hpath(p), True)

    return run


def foreach_batch_shard_manifest(
    spark,
    data_path: str,
    manifest_path: str,
    n_shards: int,
    id_col: str,
    payload_cols: list[str],
    compact_every: int = 8,
) -> Callable[[DataFrame, int], None]:
    """Continuous shard export: append-only document ingest into
    deterministic md5 shards WITH a live order-independent content
    manifest (`operators/export.py` extended to streams — the
    checksums are sum-mergeable mod 2^61-1 by construction, so a
    stream of per-batch partial manifests folds EXACTLY into the
    manifest a one-shot batch export would compute).

    IDEMPOTENT under foreachBatch's at-least-once replay (the
    ``foreach_batch_burst_detect`` delta + compaction-marker
    discipline):

    - data: each batch writes its rows to ``<data>/batch_id=N/
      shard_id=K/`` (overwrite — a replayed batch rewrites identical
      content, never appends twice).  The corpus is the union of batch
      dirs; a row's shard is a pure function of its id, so shard K's
      bytes are ``<data>/batch_id=*/shard_id=K`` regardless of
      arrival order.
    - manifest: the batch's per-shard partial manifest goes to
      ``<manifest>/delta/batch_id=N``; the CURRENT manifest
      (``<manifest>/current``) is recomputed every batch as the exact
      modular merge (`merge_manifest_groups`) of the max compaction
      marker + live deltas — derived state, regenerated on replay.
    - compaction: > ``compact_every`` live deltas fold into
      ``<manifest>/compact/upto=N+1`` via temp-write + atomic rename;
      readers take the MAX marker and ignore older dirs, so GC is safe
      at any time.

    A reader verifies the running export with ``verify_export(spark,
    data_path, read current manifest, ...)`` — the same sidecar loop
    as the batch CLI."""
    from ..operators.export import (
        merge_manifest_groups,
        shard_id_sql,
        shard_manifest,
    )

    def run(batch_df: DataFrame, batch_id: int) -> None:
        hpath = spark._jvm.org.apache.hadoop.fs.Path
        fs = hpath(manifest_path).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        delta_root = f"{manifest_path}/delta"
        compact_root = f"{manifest_path}/compact"
        # (1) idempotent per-batch data dir, sharded like the batch CLI
        (
            batch_df.selectExpr(
                "*",
                f"{shard_id_sql('spark', id_col, n_shards)} AS shard_id",
            )
            .write.mode("overwrite")
            .partitionBy("shard_id")
            .parquet(f"{data_path}/batch_id={batch_id}")
        )
        # (2) idempotent per-batch partial manifest (already-reduced
        # residues; modular addition makes them exactly mergeable)
        shard_manifest(
            batch_df.select(id_col, *payload_cols),
            n_shards,
            id_col,
            payload_cols,
        ).write.mode("overwrite").parquet(f"{delta_root}/batch_id={batch_id}")
        # (3) current manifest = exact merge of marker + live deltas
        compacts = _numbered_subdirs(fs, hpath, compact_root, "upto=")
        upto = max(compacts) if compacts else 0
        deltas = _numbered_subdirs(fs, hpath, delta_root, "batch_id=")
        live = [p for k, p in deltas.items() if k >= upto]
        paths = ([compacts[upto]] if compacts else []) + live
        merged = merge_manifest_groups(spark.read.parquet(*paths))
        merged.write.mode("overwrite").parquet(f"{manifest_path}/current")
        # (4) compaction + GC (reader already ignores superseded dirs)
        if len(live) > compact_every:
            dst = hpath(f"{compact_root}/upto={batch_id + 1}")
            if not fs.exists(dst):
                tmp = f"{compact_root}/_tmp_upto={batch_id + 1}"
                merged.write.mode("overwrite").parquet(tmp)
                if not fs.rename(hpath(tmp), dst):
                    raise IOError(f"compact rename failed: {tmp} -> {dst}")
            for k, p in deltas.items():
                if k <= batch_id:
                    fs.delete(hpath(p), True)
            for k, p in compacts.items():
                fs.delete(hpath(p), True)

    return run


def foreach_batch_hll_distinct(
    spark,
    sketch_path: str,
    estimates_path: str,
    group_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "user_id",
    p: int = 8,
    compact_every: int = 8,
) -> Callable[[DataFrame, int], None]:
    """Streaming distinct-count: per-batch HyperLogLog registers
    (operators/hll.py) accumulated across micro-batches, with the
    per-group estimate table recomputed after every batch — distinct
    users per event type over an unbounded stream WITHOUT ever storing
    the key set (``dropDuplicates`` state grows with |keys|; this
    state is ≤ groups × 2**p rows forever).

    Replay safety is BY ALGEBRA, not bookkeeping: sketches merge by
    per-bucket MAX, which is idempotent — a replayed batch max-merges
    to exactly the same registers, so at-least-once delivery can never
    inflate the estimate (unlike SUM-merged counts, where the
    per-batch-delta overwrite is what prevents double counting).  The
    burst-detect delta/compact layout is reused anyway, but here it
    only bounds read fan-in: per-batch register deltas under
    ``<sketch>/delta/batch_id=N``, a max-merged snapshot under
    ``<sketch>/compact/upto=K`` (temp-write + atomic rename; readers
    take the max marker and ignore older dirs; GC safe at any time).

    The estimate table is derived state — overwritten from the merged
    registers every batch, so a replay regenerates it."""
    from ..operators.hll import hll_estimate, hll_registers

    gcols = list(group_cols)

    def run(batch_df: DataFrame, batch_id: int) -> None:
        hpath = spark._jvm.org.apache.hadoop.fs.Path
        fs = hpath(sketch_path).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        delta_root = f"{sketch_path}/delta"
        compact_root = f"{sketch_path}/compact"
        reg = hll_registers(batch_df, gcols, value_col, p=p)
        # idempotent per-batch delta (replay rewrites identical rows —
        # and even a duplicate register row is harmless under max)
        reg.write.mode("overwrite").parquet(
            f"{delta_root}/batch_id={batch_id}"
        )
        compacts = _numbered_subdirs(fs, hpath, compact_root, "upto=")
        upto = max(compacts) if compacts else 0
        deltas = _numbered_subdirs(fs, hpath, delta_root, "batch_id=")
        live = [path for k, path in deltas.items() if k >= upto]
        paths = ([compacts[upto]] if compacts else []) + live
        merged = (
            spark.read.parquet(*paths)
            .groupBy(*gcols, "bucket")
            .agg(F.max("r").alias("r"))
        )
        hll_estimate(merged, gcols, p=p).write.mode(
            "overwrite"
        ).parquet(estimates_path)
        if len(live) > compact_every:
            dst = hpath(f"{compact_root}/upto={batch_id + 1}")
            if not fs.exists(dst):
                tmp = f"{compact_root}/_tmp_upto={batch_id + 1}"
                merged.write.mode("overwrite").parquet(tmp)
                if not fs.rename(hpath(tmp), dst):
                    raise IOError(
                        f"compact rename failed: {tmp} -> {dst}"
                    )
            for k, path in deltas.items():
                if k <= batch_id:
                    fs.delete(hpath(path), True)
            for k, path in compacts.items():
                fs.delete(hpath(path), True)

    return run


def foreach_batch_histogram_quantiles(
    spark,
    sketch_path: str,
    quantiles_path: str,
    group_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    width: float = 1.0,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    compact_every: int = 8,
) -> Callable[[DataFrame, int], None]:
    """Streaming histogram quantiles: per-batch fixed-width bin counts
    (operators/histogram.py) accumulated across micro-batches, the
    per-group quantile table recomputed after every batch — running
    p50/p90/p99 over an unbounded stream with state ≤ groups × |bins|
    rows forever.

    The idempotency contrast with ``foreach_batch_hll_distinct`` is
    the point: histogram counts merge by SUM, which is NOT idempotent,
    so replay safety comes from the per-batch-delta discipline (a
    replayed batch OVERWRITES its own ``delta/batch_id=N`` with
    identical rows — never a sum-merge into a shared table), exactly
    the burst-detect bookkeeping; HLL registers merge by MAX and are
    replay-safe by algebra alone.  Same compaction markers
    (temp-write + atomic rename, readers take the max marker, GC safe
    anytime) bound read fan-in."""
    from ..operators.histogram import histogram, histogram_quantiles

    gcols = list(group_cols)

    def run(batch_df: DataFrame, batch_id: int) -> None:
        hpath = spark._jvm.org.apache.hadoop.fs.Path
        fs = hpath(sketch_path).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        delta_root = f"{sketch_path}/delta"
        compact_root = f"{sketch_path}/compact"
        h = histogram(batch_df, value_col, gcols, width=width)
        h.write.mode("overwrite").parquet(
            f"{delta_root}/batch_id={batch_id}"
        )
        compacts = _numbered_subdirs(fs, hpath, compact_root, "upto=")
        upto = max(compacts) if compacts else 0
        deltas = _numbered_subdirs(fs, hpath, delta_root, "batch_id=")
        live = [path for k, path in deltas.items() if k >= upto]
        paths = ([compacts[upto]] if compacts else []) + live
        merged = (
            spark.read.parquet(*paths)
            .groupBy(*gcols, "bin")
            .agg(F.sum("c").alias("c"))
        )
        histogram_quantiles(
            merged, qs=qs, group_cols=gcols, width=width
        ).write.mode("overwrite").parquet(quantiles_path)
        if len(live) > compact_every:
            dst = hpath(f"{compact_root}/upto={batch_id + 1}")
            if not fs.exists(dst):
                tmp = f"{compact_root}/_tmp_upto={batch_id + 1}"
                merged.write.mode("overwrite").parquet(tmp)
                if not fs.rename(hpath(tmp), dst):
                    raise IOError(
                        f"compact rename failed: {tmp} -> {dst}"
                    )
            for k, path in deltas.items():
                if k <= batch_id:
                    fs.delete(hpath(path), True)
            for k, path in compacts.items():
                fs.delete(hpath(path), True)

    return run


def foreach_batch_auc(
    spark,
    sketch_path: str,
    auc_path: str,
    score_col: str = "value",
    label_expr: str = "event_type = 'purchase'",
    scale: int = 10**2,
    compact_every: int = 8,
) -> Callable[[DataFrame, int], None]:
    """Streaming classifier evaluation: running exact tie-corrected
    AUC over an unbounded stream with state ≤ |distinct quantized
    scores| rows forever.

    Each micro-batch writes its (score, p, q) sketch
    (operators/evalmetrics.score_label_counts) as a per-batch delta;
    the merged sketch is the union SUM-merged per score, finalized by
    ``auc_from_counts`` into the running (n_pos, n_neg, auc) row after
    every batch.  SUM-merge is NOT idempotent, so replay safety is the
    per-batch-delta discipline (a replayed batch overwrites its own
    ``delta/batch_id=N`` with identical rows — never a sum into a
    shared table), with the same compaction markers as the histogram
    sink (temp-write + atomic rename, readers take the max ``upto=``
    marker, GC safe at any point)."""
    from ..operators.evalmetrics import auc_from_counts, score_label_counts

    def run(batch_df: DataFrame, batch_id: int) -> None:
        hpath = spark._jvm.org.apache.hadoop.fs.Path
        fs = hpath(sketch_path).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        delta_root = f"{sketch_path}/delta"
        compact_root = f"{sketch_path}/compact"
        sk = score_label_counts(
            batch_df, score_col, F.expr(label_expr), scale
        )
        sk.write.mode("overwrite").parquet(
            f"{delta_root}/batch_id={batch_id}"
        )
        compacts = _numbered_subdirs(fs, hpath, compact_root, "upto=")
        upto = max(compacts) if compacts else 0
        deltas = _numbered_subdirs(fs, hpath, delta_root, "batch_id=")
        live = [path for k, path in deltas.items() if k >= upto]
        paths = ([compacts[upto]] if compacts else []) + live
        merged = (
            spark.read.parquet(*paths)
            .groupBy("score")
            .agg(
                F.sum("p").cast("long").alias("p"),
                F.sum("q").cast("long").alias("q"),
            )
        )
        auc_from_counts(merged).write.mode("overwrite").parquet(auc_path)
        if len(live) > compact_every:
            dst = hpath(f"{compact_root}/upto={batch_id + 1}")
            if not fs.exists(dst):
                tmp = f"{compact_root}/_tmp_upto={batch_id + 1}"
                merged.write.mode("overwrite").parquet(tmp)
                if not fs.rename(hpath(tmp), dst):
                    raise IOError(
                        f"compact rename failed: {tmp} -> {dst}"
                    )
            for k, path in deltas.items():
                if k <= batch_id:
                    fs.delete(hpath(path), True)
            for k, path in compacts.items():
                fs.delete(hpath(path), True)

    return run
