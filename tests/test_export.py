"""Deterministic shard export + order-independent content manifests
(operators/export.py): layout independence, write round-trip
integrity, NULL/empty distinguishability, and the float guard.  The
cross-engine value-exactness of q:doc_shard_manifest rides the
driver-contract gate like every oracled query."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from org_revue_de_presse_trends_spark.catalog import load_table
from org_revue_de_presse_trends_spark.operators import export as X

SF = "/root/testdata/sf0.001"


def _manifest_rows(df, n_shards=4, payload=("text",)):
    return sorted(
        map(
            tuple,
            X.shard_manifest(df, n_shards, "doc_id", list(payload)).collect(),
        )
    )


def test_manifest_is_layout_independent(spark):
    """The whole point: same corpus, any partitioning/row order →
    identical manifest."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    base = _manifest_rows(docs)
    scrambled = _manifest_rows(
        docs.repartition(17, F.col("text")).sortWithinPartitions(
            F.col("doc_id").desc()
        )
    )
    assert base == scrambled
    # every shard non-empty at 500 docs / 4 shards, counts sum to 500
    assert len(base) == 4
    assert sum(r[1] for r in base) == docs.count()


def test_single_row_change_moves_exactly_its_shard(spark):
    """Checksums localize corruption: flipping one row's payload must
    change that row's shard checksum and nothing else."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    mutated = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 7, F.concat(F.col("text"), F.lit("!")))
        .otherwise(F.col("text")),
    )
    a = {r[0]: r for r in _manifest_rows(docs)}
    b = {r[0]: r for r in _manifest_rows(mutated)}
    diff = [s for s in a if a[s] != b[s]]
    assert len(diff) == 1
    s = diff[0]
    assert a[s][1] == b[s][1]  # same row count
    assert a[s][2] + 1 == b[s][2]  # one more char
    assert a[s][3] != b[s][3]  # checksum moved


def test_null_payload_distinct_from_empty_string(spark):
    """concat_ws would silently collapse NULL and '' — the explicit
    sentinel must keep them apart."""
    rows = [(1, None), (2, "")]
    a = spark.createDataFrame(rows, "doc_id long, text string")
    b = spark.createDataFrame([(1, ""), (2, None)], "doc_id long, text string")
    ma = _manifest_rows(a, n_shards=1)
    mb = _manifest_rows(b, n_shards=1)
    assert ma != mb


def test_write_shards_round_trip_reproduces_manifest(spark, tmp_path):
    """Export integrity: the manifest computed from the WRITTEN files
    equals the one computed from the input, and a rerun overwrite is
    manifest-identical."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    path = str(tmp_path / "shards")
    m1 = sorted(
        map(tuple, X.write_shards(docs, path, 4, "doc_id", ["text"]).collect())
    )
    back = spark.read.parquet(path)
    assert sorted(
        map(
            tuple,
            X.shard_manifest(
                back.select("doc_id", "text"), 4, "doc_id", ["text"]
            ).collect(),
        )
    ) == m1
    # written shard dirs agree with the manifest's membership
    got = {
        (r["shard_id"], r["n"])
        for r in back.groupBy("shard_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == {(r[0], r[1]) for r in m1}
    m2 = sorted(
        map(tuple, X.write_shards(docs, path, 4, "doc_id", ["text"]).collect())
    )
    assert m1 == m2


def test_verify_export_flags_only_corrupt_shards(spark, tmp_path):
    """The reader-side check: clean export verifies empty; a corrupted
    shard (and only it) names itself, with a missing shard surfacing
    through the FULL outer join."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    path = str(tmp_path / "shards")
    manifest = X.write_shards(docs, path, 4, "doc_id", ["text"])
    assert (
        X.verify_export(spark, path, manifest, 4, "doc_id", ["text"]).count()
        == 0
    )
    # corrupt: rewrite with one doc's text flipped — exactly one shard
    # must flag, with both sides' checksums present
    mutated = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 7, F.lit("corrupted")).otherwise(
            F.col("text")
        ),
    )
    X.write_shards(mutated, path, 4, "doc_id", ["text"])
    bad = X.verify_export(
        spark, path, manifest, 4, "doc_id", ["text"]
    ).collect()
    assert len(bad) == 1
    assert bad[0]["got_checksum"] != bad[0]["want_checksum"]
    # a manifest expecting a shard the files lack must surface it
    extra = manifest.unionByName(
        spark.createDataFrame(
            [(99, 1, 1, 1)],
            "shard_id long, n_rows long, total_chars long, checksum long",
        )
    )
    flagged = {
        r["shard_id"]
        for r in X.verify_export(
            spark, path, extra, 4, "doc_id", ["text"]
        ).collect()
    }
    assert 99 in flagged


def test_manifest_cross_engine_on_adversarial_strings(spark, duck, tmp_path):
    """The contract gate pins the oracle on fixture ASCII; this pins
    the SAME bit-for-bit cross-engine manifest on the strings the
    canonicalization actually has to survive: unicode (multi-byte,
    astral-plane — char-count AND md5-over-UTF-8 must agree), the
    separator control char inside a payload, empty vs NULL, and a long
    repetitive string."""
    rows = [
        (1, "plain ascii"),
        (2, "accentué déjà vu"),
        (3, "汉字 и кириллица"),
        (4, "astral \U0001f600\U0001f680 plane"),
        (5, "embedded \x1f separator"),
        (6, ""),
        (7, None),
        (8, "x" * 5000),
        (9, "trailing space "),
        (10, "quote ' and \" chars"),
        (None, "null id row"),
    ]
    p = str(tmp_path / "adv.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(p)
    sdf = X.shard_manifest(
        spark.read.parquet(p), 3, "doc_id", ["text"]
    )
    got = sorted(map(tuple, sdf.collect()))
    oracle = X.manifest_oracle_sql(
        "duckdb", 3, "doc_id", ["text"],
        f"SELECT doc_id, text FROM '{p}/*.parquet'",
    )
    want = sorted(map(tuple, duck.execute(oracle).fetchall()))
    assert got == want
    assert sum(r[1] for r in got) == len(rows)


def test_null_id_rows_are_fully_manifested(spark):
    """r10 advice: a NULL id must not null the canonical chain — the
    row has to land in a REAL shard and move the checksum, or payload
    corruption on NULL-id rows is invisible to the manifest."""
    a = spark.createDataFrame(
        [(None, "payload A"), (1, "x")], "doc_id long, text string"
    )
    b = spark.createDataFrame(
        [(None, "payload B"), (1, "x")], "doc_id long, text string"
    )
    ma = _manifest_rows(a, n_shards=4)
    mb = _manifest_rows(b, n_shards=4)
    assert ma != mb  # NULL-id payload change moves a checksum
    assert all(r[0] is not None for r in ma)  # real shard, never NULL
    assert sum(r[1] for r in ma) == 2  # and it is counted


def test_merge_manifest_groups_equals_ungrouped(spark):
    """The CLI's per-(split, shard) manifest re-aggregates EXACTLY to
    the per-shard one — modular addition of the residues commutes with
    the grouping."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    docs = docs.withColumn("split", F.expr("CASE WHEN doc_id % 3 = 0 THEN 'a' WHEN doc_id % 3 = 1 THEN 'b' ELSE 'c' END"))
    grouped = X.shard_manifest(
        docs, 4, "doc_id", ["text"], extra_group_cols=["split"]
    )
    assert grouped.count() > 4  # actually split-grouped
    merged = sorted(map(tuple, X.merge_manifest_groups(grouped).collect()))
    plain = _manifest_rows(docs.select("doc_id", "text"))
    assert merged == plain


def test_verify_export_with_extra_group_cols(spark, tmp_path):
    """End-to-end on a split-partitioned layout: a split-grouped
    manifest verifies clean with extra_group_cols=['split'] (the r10
    advice bug: joined on shard_id alone, every clean shard flagged),
    and a corrupt row flags exactly its (split, shard) cell."""
    docs = (
        load_table(spark, SF, "documents")
        .select("doc_id", "text")
        .withColumn(
            "split", F.expr("CASE WHEN doc_id % 2 = 0 THEN 'train' ELSE 'val' END")
        )
    )
    path = str(tmp_path / "split_shards")
    manifest = X.shard_manifest(
        docs, 4, "doc_id", ["text"], extra_group_cols=["split"]
    ).localCheckpoint()
    sharded = docs.selectExpr(
        "*", f"{X.shard_id_sql('spark', 'doc_id', 4)} AS shard_id"
    )
    (
        X.repartition_for_shards(sharded, 4)
        .write.mode("overwrite")
        .partitionBy("split", "shard_id")
        .parquet(path)
    )
    assert (
        X.verify_export(
            spark, path, manifest, 4, "doc_id", ["text"],
            extra_group_cols=["split"],
        ).count()
        == 0
    )
    # corrupt one row -> exactly one (split, shard) cell flags
    mutated = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 7, F.lit("corrupted")).otherwise(
            F.col("text")
        ),
    )
    sharded2 = mutated.selectExpr(
        "*", f"{X.shard_id_sql('spark', 'doc_id', 4)} AS shard_id"
    )
    (
        X.repartition_for_shards(sharded2, 4)
        .write.mode("overwrite")
        .partitionBy("split", "shard_id")
        .parquet(path)
    )
    bad = X.verify_export(
        spark, path, manifest, 4, "doc_id", ["text"],
        extra_group_cols=["split"],
    ).collect()
    assert len(bad) == 1
    assert bad[0]["got_checksum"] != bad[0]["want_checksum"]


def test_manifest_json_round_trip(spark, tmp_path):
    """manifest_to_json_dict serializes the >2^53 counters as decimal
    strings; read_manifest_json restores them to exact BIGINTs —
    including a checksum above JS's safe-integer range."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    rows = X.shard_manifest(docs, 3, "doc_id", ["text"]).collect()
    doc = X.manifest_to_json_dict(rows, 3, "doc_id", ["text"])
    assert all(isinstance(s["checksum"], str) for s in doc["shards"])
    import json as _json

    p = str(tmp_path / "manifest.json")
    with open(p, "w") as f:
        _json.dump(doc, f)
    back = {
        r["shard_id"]: (r["n_rows"], r["total_chars"], r["checksum"])
        for r in X.read_manifest_json(spark, p).collect()
    }
    assert back == {
        r["shard_id"]: (r["n_rows"], r["total_chars"], r["checksum"])
        for r in rows
    }
    # at least one fixture checksum actually exceeds 2^53 (the trap is
    # live, not hypothetical)
    assert any(ck > (1 << 53) for (_n, _c, ck) in back.values())


def test_write_tasks_bijective_onto_shards(spark, tmp_path):
    """r10 verdict: repartition(n, shard_id) is not a bijection (~1/e
    of tasks empty, some writing 2-3 shards).  The pre-searched-key
    repartition gives every shard directory exactly files_per_shard
    part files — one task per (shard, slot), no stragglers."""
    import glob as _glob

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    path = str(tmp_path / "bij")
    X.write_shards(docs, path, 8, "doc_id", ["text"])
    for s in range(8):
        files = _glob.glob(f"{path}/shard_id={s}/part-*.parquet")
        assert len(files) == 1, f"shard {s}: {len(files)} part files"
    # files_per_shard=2 splits each shard across exactly two tasks
    path2 = str(tmp_path / "bij2")
    X.write_shards(docs, path2, 4, "doc_id", ["text"], files_per_shard=2)
    for s in range(4):
        files = _glob.glob(f"{path2}/shard_id={s}/part-*.parquet")
        assert len(files) == 2, f"shard {s}: {len(files)} part files"
    # and the content is unchanged by the slot split
    a = _manifest_rows(spark.read.parquet(path).select("doc_id", "text"), 8)
    b = _manifest_rows(docs, 8)
    assert a == b


def _recrawl_for_diff(docs):
    """A small planted delta: drop 7, change 11's text, add 9001."""
    kept = docs.filter(F.col("doc_id") != 7)
    changed = kept.withColumn(
        "text",
        F.when(F.col("doc_id") == 11, F.concat(F.col("text"), F.lit("!")))
        .otherwise(F.col("text")),
    )
    spark = docs.sparkSession
    added = spark.createDataFrame(
        [(9001, "brand new doc")], "doc_id long, text string"
    )
    return changed.unionByName(added)


def test_corpus_diff_statuses(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    new = _recrawl_for_diff(docs)
    got = {
        r["doc_id"]: r["status"]
        for r in X.corpus_diff(docs, new, "doc_id", ["text"]).collect()
    }
    assert got == {7: "removed", 11: "changed", 9001: "added"}
    # identical corpora diff empty — even reordered/repartitioned
    assert (
        X.corpus_diff(
            docs, docs.repartition(13, F.col("text")), "doc_id", ["text"]
        ).count()
        == 0
    )


def test_corpus_diff_pruned_equals_full_and_prunes(spark, tmp_path):
    """The 100 TB path: the manifest-pruned diff must (a) equal the
    full diff exactly, and (b) actually SKIP unchanged shards — pinned
    by inputFiles(): only moved shard directories are listed."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    new = _recrawl_for_diff(docs)
    p_old = str(tmp_path / "v1")
    p_new = str(tmp_path / "v2")
    m_old = X.write_shards(docs, p_old, 8, "doc_id", ["text"]).localCheckpoint()
    m_new = X.write_shards(new, p_new, 8, "doc_id", ["text"]).localCheckpoint()
    full = sorted(
        map(tuple, X.corpus_diff(docs, new, "doc_id", ["text"]).collect())
    )
    pruned_df = X.corpus_diff_pruned(
        spark, p_old, p_new, m_old, m_new, "doc_id", ["text"]
    )
    assert sorted(map(tuple, pruned_df.collect())) == full
    # at most 3 shards moved (the 3 planted ids); every listed input
    # file must belong to a moved shard directory
    moved = {
        r["shard_id"] for r in X.manifest_diff(m_old, m_new).collect()
    }
    assert 1 <= len(moved) <= 3
    o = spark.read.parquet(p_old).filter(F.col("shard_id").isin(list(moved)))
    files = [
        r[0] for r in o.select(F.input_file_name()).distinct().collect()
    ]
    assert files and all(
        any(f"shard_id={s}/" in f for s in moved) for f in files
    )
    # identical manifests -> zero-row result WITHOUT reading any data
    empty = X.corpus_diff_pruned(
        spark, p_old, p_old, m_old, m_old, "doc_id", ["text"]
    )
    assert empty.count() == 0 and empty.columns == ["doc_id", "status"]


def test_guards(spark):
    docs = load_table(spark, SF, "documents")
    with pytest.raises(ValueError, match="n_shards"):
        X.shard_manifest(docs, 0, "doc_id", ["text"])
    emb = load_table(spark, SF, "embeddings")
    with pytest.raises(ValueError, match="string/integer"):
        X.shard_manifest(
            emb.withColumn("f", F.lit(1.5)), 2, "vec_id", ["f"]
        )
    # the ID column is checksummed via CAST(...AS STRING) too — a
    # float id hits the same cross-engine formatting trap
    with pytest.raises(ValueError, match="string/integer"):
        X.shard_manifest(
            docs.withColumn("fid", F.lit(1.5)), 2, "fid", ["text"]
        )
