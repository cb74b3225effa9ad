"""Deterministic shard export + order-independent content manifests —
the data-integrity step of a training-data export (WebDataset/
tfrecord-style pipelines ship a shard manifest next to the shards;
public practice, e.g. the shard-listing `.json`/`nvinfo` sidecars of
WebDataset and Megatron data tooling).

Two guarantees a 100 TB export needs and plain `write.parquet` lacks:

1. **Layout-independent shard assignment** — a row's shard is a pure
   function of its ID (md5-bucket, the `operators/packing.py` hash-bin
   discipline), never of `spark_partition_id`/input split order, so a
   re-run of the same corpus on any cluster layout produces the same
   shard membership.
2. **Order-independent content checksums** — per shard, the exact
   integer SUM of a 60-bit per-row md5 digest, reduced mod 2^61-1.
   Modular addition is commutative/associative, so the checksum is
   independent of row order, partitioning, and engine; two exports
   can be compared shard-by-shard WITHOUT sorting either one.  The
   sum accumulates in decimal(38,0) (HUGEINT in DuckDB) before the
   one mod, so no intermediate overflows under ANSI (60-bit rows
   overflow BIGINT at ~8k rows).

Cross-engine determinism: the row digest is the base-16 value of the
first 15 md5 hex chars (`urls.md5_bucket_sql` — the dsir/kmv/bloom
recipe) over a canonical `id \\x1f payload` string with an explicit
NULL sentinel (concat_ws would silently SKIP nulls, making
`("a", NULL)` collide with `("a", "")`).  Payload columns must be
strings or integers — float-to-string formatting differs between
engines and is rejected at plan build.

Scale shape: manifesting is one map + one |shards|-row map-side-
combined aggregate; writing is one hash repartition to n_shards
followed by a partitioned write.  Nothing collects but the manifest
itself (|shards| rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .urls import md5_bucket_sql

#: checksum modulus: the Mersenne prime 2^61 - 1 (fits BIGINT in both
#: engines; sums are reduced once, AFTER the exact decimal accumulation)
CHECKSUM_MOD = (1 << 61) - 1

#: unit separator — the canonical-string field delimiter, embedded as
#: the REAL control character (DuckDB string literals do not process
#: backslash escapes, so '\\u001f' would be six literal chars there
#: and one char in Spark — a silent cross-engine divergence)
_SEP = "\x1f"
#: explicit NULL sentinel (concat_ws drops nulls silently; starts with
#: the separator so it cannot equal any payload that lacks US chars —
#: payloads containing \\x1f are the caller's delimiter problem,
#: documented above)
_NULL = "\x1fNULL"

_INTISH = ("int", "bigint", "smallint", "tinyint")


def _canonical_expr(engine: str, id_col: str, payload_cols: list[str]) -> str:
    """`id <US> col1 <US> col2 ...` with NULL sentinels, per engine.

    The id is NULL-guarded like the payloads: without the coalesce a
    NULL id nulls the whole || chain in BOTH engines, so the row would
    count in n_rows but silently vanish from checksum/total_chars —
    payload corruption on NULL-id rows invisible to the manifest."""
    e_str = "STRING" if engine == "spark" else "VARCHAR"
    parts = [f"coalesce(CAST({id_col} AS {e_str}), '{_NULL}')"]
    parts += [
        f"coalesce(CAST({c} AS {e_str}), '{_NULL}')" for c in payload_cols
    ]
    sep = f"'{_SEP}'"
    joined = f" || {sep} || ".join(parts)
    return f"({joined})"


def row_checksum_sql(engine: str, id_col: str, payload_cols: list[str]) -> str:
    """60-bit per-row content digest, identical in Spark and DuckDB."""
    return md5_bucket_sql(
        engine, _canonical_expr(engine, id_col, payload_cols), 15
    )


def shard_id_sql(engine: str, id_col: str, n_shards: int) -> str:
    """Layout-independent shard assignment: md5-bucket of the ID.

    NULL ids take the sentinel bucket (same coalesce as the canonical
    string) so every row gets a real shard — an un-guarded NULL would
    land in the Hive default partition on write and desync from the
    manifest, which DOES count the row."""
    e_str = "STRING" if engine == "spark" else "VARCHAR"
    guarded = f"coalesce(CAST({id_col} AS {e_str}), '{_NULL}')"
    return (
        f"({md5_bucket_sql(engine, guarded, 6)} % {int(n_shards)})"
    )


def _check_payload_types(
    df: DataFrame, id_col: str, payload_cols: list[str]
) -> None:
    types = dict(df.dtypes)
    for c in [id_col, *payload_cols]:
        t = types.get(c, "?")
        if t != "string" and t not in _INTISH:
            kind = (
                "float" if t in ("float", "double")
                else "decimal" if t.startswith("decimal")
                else "temporal" if t in ("date", "timestamp", "timestamp_ntz")
                else "non-scalar/unsupported"
            )
            raise ValueError(
                f"column {c!r} has type {t} ({kind}): only string/integer "
                "columns checksum identically across engines (their "
                "CAST-to-string rendering is engine-independent; "
                f"{kind} formatting is not)"
            )


def shard_manifest(
    df: DataFrame,
    n_shards: int,
    id_col: str,
    payload_cols: list[str],
    extra_group_cols: list[str] | None = None,
) -> DataFrame:
    """(shard_id, n_rows, total_chars, checksum) per shard — the
    sidecar a reader uses to verify an export without sorting it.
    ``extra_group_cols`` (e.g. the train/val/test split) prepend to
    the grouping so a split-partitioned export gets one manifest row
    per (split, shard).

    checksum = SUM(60-bit row digest) accumulated exactly in
    decimal(38,0), reduced mod 2^61-1, cast BIGINT; total_chars =
    exact sum of payload canonical-string lengths (a cheap secondary
    invariant that catches truncation even under digest collisions).
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    _check_payload_types(df, id_col, payload_cols)
    extra = list(extra_group_cols or [])
    canon = _canonical_expr("spark", id_col, payload_cols)
    return (
        df.selectExpr(
            *extra,
            f"{shard_id_sql('spark', id_col, n_shards)} AS shard_id",
            f"{row_checksum_sql('spark', id_col, payload_cols)} AS __ck",
            f"length({canon}) AS __len",
        )
        .groupBy(*extra, "shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("__len").cast("long")).alias("total_chars"),
            F.expr(
                "CAST(SUM(CAST(__ck AS DECIMAL(38,0)))"
                f" % {CHECKSUM_MOD} AS BIGINT)"
            ).alias("checksum"),
        )
    )


def manifest_oracle_sql(
    engine: str,
    n_shards: int,
    id_col: str,
    payload_cols: list[str],
    table_sql: str,
) -> str:
    """The manifest as one SQL string (both engines — the Spark form
    is the exact expression tree shard_manifest builds, pinned by the
    cross-engine test; the DuckDB form is the oracle)."""
    canon = _canonical_expr(engine, id_col, payload_cols)
    ck = row_checksum_sql(engine, id_col, payload_cols)
    sid = shard_id_sql(engine, id_col, n_shards)
    dec = "DECIMAL(38,0)" if engine == "spark" else "HUGEINT"
    return f"""
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(clen AS BIGINT)) AS BIGINT) AS total_chars,
           CAST(SUM(CAST(ck AS {dec})) % {CHECKSUM_MOD} AS BIGINT)
             AS checksum
    FROM (
        SELECT {sid} AS shard_id, {ck} AS ck, length({canon}) AS clen
        FROM ({table_sql})
    )
    GROUP BY shard_id
    """


def merge_manifest_groups(manifest: DataFrame) -> DataFrame:
    """Re-aggregate a group-split manifest (e.g. the CLI's
    per-(split, shard) rows) down to one row per shard_id.

    Exact by construction: n_rows/total_chars sum plainly, and the
    checksum is a sum mod 2^61-1, so adding the per-group residues and
    re-reducing gives the same value the ungrouped manifest computes
    (modular addition is associative; each residue < 2^61 and group
    counts are tiny, so the decimal(38,0) re-accumulation never
    overflows)."""
    return manifest.groupBy("shard_id").agg(
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum("total_chars").cast("long").alias("total_chars"),
        F.expr(
            "CAST(SUM(CAST(checksum AS DECIMAL(38,0)))"
            f" % {CHECKSUM_MOD} AS BIGINT)"
        ).alias("checksum"),
    )


def verify_export(
    spark,
    path: str,
    manifest: DataFrame,
    n_shards: int,
    id_col: str,
    payload_cols: list[str],
    extra_group_cols: list[str] | None = None,
) -> DataFrame:
    """Reader-side integrity check: recompute the manifest from the
    files at ``path`` and FULL-OUTER-join it against the expected one
    — returns only mismatched shards (empty = export verified), with
    both sides' counts/checksums so a corrupt, truncated, or missing
    shard names itself.  The outer join (not inner) is the totality
    rule: a shard absent on either side must surface, not vanish.

    ``extra_group_cols`` must match how ``manifest`` was grouped: a
    split-grouped manifest (the CLI's manifest.json) verifies against
    a split-partitioned export with ``extra_group_cols=["split"]`` —
    joining a grouped manifest on shard_id alone would duplicate want
    rows per shard and flag every shard as corrupt.  Alternatively
    pre-merge with :func:`merge_manifest_groups` and verify per-shard
    only."""
    extra = list(extra_group_cols or [])
    keys = [*extra, "shard_id"]
    got = shard_manifest(
        spark.read.parquet(path).select(id_col, *payload_cols, *extra),
        n_shards,
        id_col,
        payload_cols,
        extra_group_cols=extra,
    ).select(
        *keys,
        F.col("n_rows").alias("got_rows"),
        F.col("total_chars").alias("got_chars"),
        F.col("checksum").alias("got_checksum"),
    )
    want = manifest.select(
        *keys,
        F.col("n_rows").alias("want_rows"),
        F.col("total_chars").alias("want_chars"),
        F.col("checksum").alias("want_checksum"),
    )
    return want.join(got, keys, "full_outer").filter(
        ~(
            F.col("got_rows").eqNullSafe(F.col("want_rows"))
            & F.col("got_chars").eqNullSafe(F.col("want_chars"))
            & F.col("got_checksum").eqNullSafe(F.col("want_checksum"))
        )
    )


def _bijective_partition_keys(spark, n: int) -> list[int]:
    """For each bucket b in [0, n), a BIGINT k with
    ``pmod(hash(k), n) == b`` — computed BY Spark (one tiny job over a
    range, bounded by n, never by data) so the probe hash can never
    drift from the Murmur3 the exchange actually uses."""
    found: dict[int, int] = {}
    start = 0
    while len(found) < n:
        rows = (
            spark.range(start, start + 64 * n)
            .select(
                "id", F.pmod(F.hash(F.col("id")), F.lit(n)).alias("b")
            )
            .groupBy("b")
            .agg(F.min("id").alias("k"))
            .collect()
        )
        for r in rows:
            found.setdefault(r["b"], r["k"])
        start += 64 * n
    return [found[b] for b in range(n)]


def repartition_for_shards(
    df: DataFrame,
    n_shards: int,
    files_per_shard: int = 1,
    id_col: str | None = None,
) -> DataFrame:
    """Exactly-one-task-per-(shard, file-slot) repartition for the
    write stage.  ``df`` must carry a ``shard_id`` column.

    A plain ``repartition(n_shards, shard_id)`` hash-partitions the
    n_shards distinct values into n_shards buckets — NOT a bijection:
    ~1/e of tasks end up empty and some tasks write 2-3 whole shards'
    bytes (parallelism silently ~63% of nominal; at 100 TB a
    doubled-up task is the write-stage straggler).  Instead we map
    each (shard_id, slot) to a pre-searched key whose Murmur3 lands in
    its own partition, so the exchange is exactly balanced: task i
    writes shard i//files_per_shard, slot i%files_per_shard, nothing
    else.  ``files_per_shard > 1`` splits each shard across that many
    tasks (slot = md5 of the row id, layout-independent; pass
    ``id_col``) when one shard's bytes exceed a healthy task output."""
    if files_per_shard < 1:
        raise ValueError("files_per_shard must be >= 1")
    n = int(n_shards) * int(files_per_shard)
    keys = _bijective_partition_keys(df.sparkSession, n)
    arr = "array(" + ",".join(f"CAST({k} AS BIGINT)" for k in keys) + ")"
    if files_per_shard == 1:
        bucket = "CAST(shard_id AS INT)"
    else:
        if id_col is None:
            raise ValueError("files_per_shard > 1 requires id_col")
        guarded = (
            f"coalesce(CAST({id_col} AS STRING), '{_NULL}')"
        )
        slot = md5_bucket_sql("spark", f"'slot' || {guarded}", 6)
        bucket = (
            f"CAST(shard_id AS INT) * {int(files_per_shard)}"
            f" + CAST({slot} % {int(files_per_shard)} AS INT)"
        )
    return (
        df.withColumn("__pk", F.expr(f"element_at({arr}, ({bucket}) + 1)"))
        .repartition(n, F.col("__pk"))
        .drop("__pk")
    )


def write_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str,
    payload_cols: list[str],
    mode: str = "overwrite",
    files_per_shard: int = 1,
) -> DataFrame:
    """Write `df` as `path/shard_id=K/` parquet shards plus return the
    manifest (computed from the INPUT frame; a reader recomputing it
    from the written files must reproduce it — that round-trip is the
    export-integrity test).  The repartition is an exact bijection
    onto write tasks (see :func:`repartition_for_shards`), so every
    shard directory is written by exactly ``files_per_shard`` tasks."""
    manifest = shard_manifest(df, n_shards, id_col, payload_cols)
    out = df.selectExpr(
        "*", f"{shard_id_sql('spark', id_col, n_shards)} AS shard_id"
    )
    (
        repartition_for_shards(out, n_shards, files_per_shard, id_col)
        .write.mode(mode)
        .partitionBy("shard_id")
        .parquet(path)
    )
    return manifest


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    payload_cols: list[str],
) -> DataFrame:
    """Content diff between two corpus versions: one row per id whose
    CONTENT differs — ``status`` in ``added`` (id only in new),
    ``removed`` (only in old), ``changed`` (both, different canonical
    digest).  Unchanged rows are absent (the overwhelmingly common
    case in a re-crawl, so the output is |delta|-sized, never
    |corpus|-sized).

    Mechanics: each side reduces to (id, 60-bit row digest, canonical
    length) — one narrow map over the scan — then a single full-outer
    hash join on id classifies.  Totality: the outer join surfaces
    ids missing on either side (the verify_export rule).  Equality is
    digest equality (collision probability 2⁻⁶⁰ per row — the
    doc_duplicate_spans discipline); length is carried as the cheap
    secondary invariant.  NULL ids ride the same sentinel coalesce as
    the manifest, so two NULL-id rows compare as one id."""
    _check_payload_types(old, id_col, payload_cols)
    _check_payload_types(new, id_col, payload_cols)
    ck = row_checksum_sql("spark", id_col, payload_cols)
    canon = _canonical_expr("spark", id_col, payload_cols)
    key = f"coalesce(CAST({id_col} AS STRING), '{_NULL}')"

    def side(df: DataFrame, tag: str) -> DataFrame:
        return df.selectExpr(
            f"{key} AS __key",
            f"{id_col} AS {tag}_id",
            f"{ck} AS {tag}_ck",
            f"length({canon}) AS {tag}_len",
        )

    o = side(old, "old")
    nw = side(new, "new")
    return (
        o.join(nw, "__key", "full_outer")
        .withColumn(
            "status",
            F.expr(
                "CASE WHEN old_ck IS NULL THEN 'added' "
                "WHEN new_ck IS NULL THEN 'removed' "
                "WHEN old_ck = new_ck AND old_len = new_len THEN NULL "
                "ELSE 'changed' END"
            ),
        )
        .filter(F.col("status").isNotNull())
        .selectExpr(
            f"coalesce(new_id, old_id) AS {id_col}",
            "status",
        )
    )


def manifest_diff(want: DataFrame, got: DataFrame) -> DataFrame:
    """Shard-level diff of two manifests: shards whose
    (n_rows, total_chars, checksum) triple moved, with both sides'
    values (NULL on the absent side).  |shards|-sized — safe to
    collect; :func:`corpus_diff_pruned` uses it to skip unchanged
    shards entirely."""
    w = want.select(
        "shard_id",
        F.col("n_rows").alias("want_rows"),
        F.col("total_chars").alias("want_chars"),
        F.col("checksum").alias("want_checksum"),
    )
    g = got.select(
        "shard_id",
        F.col("n_rows").alias("got_rows"),
        F.col("total_chars").alias("got_chars"),
        F.col("checksum").alias("got_checksum"),
    )
    return w.join(g, "shard_id", "full_outer").filter(
        ~(
            F.col("got_rows").eqNullSafe(F.col("want_rows"))
            & F.col("got_chars").eqNullSafe(F.col("want_chars"))
            & F.col("got_checksum").eqNullSafe(F.col("want_checksum"))
        )
    )


def corpus_diff_pruned(
    spark,
    old_path: str,
    new_path: str,
    old_manifest: DataFrame,
    new_manifest: DataFrame,
    id_col: str,
    payload_cols: list[str],
) -> DataFrame:
    """:func:`corpus_diff` between two ``write_shards`` exports,
    reading ONLY the shards whose manifest row moved.

    The 100 TB story: shard assignment is a pure function of the id
    and checksums are order-independent, so a shard whose
    (n_rows, total_chars, checksum) is identical in both manifests
    provably contains no added/removed/changed row (any content
    change moves the checksum up to the 2⁻⁶⁰ digest-collision bound,
    and any membership change moves n_rows or the checksum).  A daily
    re-crawl diff therefore scans only the moved shards: the shard_id
    IN (...) filter lands on the Hive partition column, so partition
    pruning skips unchanged shards at file-listing time — zero bytes
    read from them.  The changed-shard list is |shards|-sized
    (manifest algebra, one tiny collect), never corpus-sized."""
    moved = [
        r["shard_id"]
        for r in manifest_diff(old_manifest, new_manifest)
        .select("shard_id")
        .collect()
    ]
    if not moved:
        from pyspark.sql import types as T

        id_field = spark.read.parquet(new_path).select(id_col).schema[0]
        schema = T.StructType(
            [id_field, T.StructField("status", T.StringType())]
        )
        return spark.createDataFrame([], schema)
    o = spark.read.parquet(old_path).filter(F.col("shard_id").isin(moved))
    n = spark.read.parquet(new_path).filter(F.col("shard_id").isin(moved))
    return corpus_diff(
        o.select(id_col, *payload_cols),
        n.select(id_col, *payload_cols),
        id_col,
        payload_cols,
    )


def manifest_to_json_dict(
    manifest_rows, n_shards: int, id_col: str, payload_cols: list[str]
) -> dict:
    """The manifest.json sidecar payload.  checksum and total_chars
    are serialized as DECIMAL STRINGS: checksums range up to 2^61-1,
    above JavaScript's 2^53 safe-integer limit, so a JSON.parse-based
    downstream reader would silently round a raw integer and every
    shard would then fail verification."""
    return {
        "n_shards": int(n_shards),
        "id_col": id_col,
        "payload_cols": list(payload_cols),
        "shards": [
            {
                k: (str(v) if k in ("checksum", "total_chars") else v)
                for k, v in r.asDict().items()
            }
            for r in manifest_rows
        ],
    }


def read_manifest_json(spark, path: str) -> DataFrame:
    """Load a manifest.json sidecar back into the DataFrame shape
    :func:`verify_export` expects (string-serialized counters are
    restored to BIGINT; any extra group columns, e.g. ``split``, are
    preserved ahead of shard_id)."""
    import json as _json

    with open(path) as f:
        doc = _json.load(f)
    shards = doc["shards"]
    if not shards:
        raise ValueError(f"manifest at {path} lists no shards")
    extra = [
        k
        for k in shards[0]
        if k not in ("shard_id", "n_rows", "total_chars", "checksum")
    ]
    rows = [
        tuple(
            [*(s[k] for k in extra), int(s["shard_id"]), int(s["n_rows"]),
             int(s["total_chars"]), int(s["checksum"])]
        )
        for s in shards
    ]
    schema = ", ".join(
        [*(f"{k} string" for k in extra),
         "shard_id long", "n_rows long", "total_chars long",
         "checksum long"]
    )
    return spark.createDataFrame(rows, schema)
