"""The local mirror of the driver's t2 correctness gate: run every
registered query through Spark AND its DuckDB oracle on the same
parquet, compare canonicalized results (sorted columns, stable float
rendering, sorted rows).  Catches oracle drift before the driver does.
"""

from __future__ import annotations

import pytest

from conftest import SF_ORACLE, canon, register_duck_views

import __spark_entry__ as entrymod


# --- fixture-drift tripwire ------------------------------------------------
# The driver regenerates /root/testdata between rounds and has already
# changed a column's physical type once (events.ts TIMESTAMP(NANOS) →
# timestamp[us] in r3), which surfaced as six scattered failures and a
# dead bench instead of one diagnostic. This test pins the LOGICAL type
# of every fixture column: timestamps may change unit (the loader
# normalizes ns/us/ms to session-tz micros), anything else drifting
# fails here first, naming the table+column.

FIXTURE_SCHEMA = {
    "region": {"r_regionkey": "int32", "r_name": "string"},
    "nation": {"n_nationkey": "int32", "n_name": "string", "n_regionkey": "int32"},
    "customer": {
        "c_custkey": "int64", "c_name": "string", "c_nationkey": "int32",
        "c_acctbal": "double", "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "int64", "s_name": "string", "s_nationkey": "int32",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "int64", "p_name": "string", "p_brand": "string",
        "p_type": "string", "p_size": "int32", "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "int64", "o_custkey": "int64", "o_orderstatus": "string",
        "o_totalprice": "double", "o_orderdate": "timestamp",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "int64", "l_partkey": "int64", "l_suppkey": "int64",
        "l_linenumber": "int32", "l_quantity": "double",
        "l_extendedprice": "double", "l_discount": "double", "l_tax": "double",
        "l_returnflag": "string", "l_linestatus": "string",
        "l_shipdate": "timestamp",
    },
    "events": {
        "event_id": "int64", "ts": "timestamp", "user_id": "int64",
        "event_type": "string", "value": "double", "props": "string",
    },
    "documents": {
        "doc_id": "int64", "text": "string", "lang": "string",
        "source": "string", "n_chars": "int64",
    },
    "embeddings": {
        "vec_id": "int64", "embedding": "list<float>", "label": "int32",
    },
}


def _logical_type(t) -> str:
    import pyarrow.types as pat

    if pat.is_timestamp(t):
        return "timestamp"  # any unit; load_table normalizes
    if pat.is_list(t):
        return f"list<{_logical_type(t.value_type)}>"
    if pat.is_float32(t):
        return "float"
    return str(t)


@pytest.mark.parametrize("table", sorted(FIXTURE_SCHEMA))
def test_fixture_schema_tripwire(table):
    import os

    import pyarrow.parquet as pq

    path = os.path.join(SF_ORACLE, f"{table}.parquet")
    got = {f.name: _logical_type(f.type) for f in pq.read_schema(path)}
    exp = FIXTURE_SCHEMA[table]
    drift = {
        c: (exp.get(c), got.get(c))
        for c in set(exp) | set(got)
        if exp.get(c) != got.get(c)
    }
    assert not drift, (
        f"DRIVER FIXTURE DRIFT in {path}: {{col: (expected, actual)}} = "
        f"{drift} — update catalog.load_table normalization and re-pin "
        f"golden hashes before trusting any other failure this round"
    )


def test_fixture_content_assumptions_tripwire():
    """Content-level assumptions several oracles lean on, pinned so a
    regenerated fixture that breaks one fails HERE with a name instead
    of as scattered hash mismatches:

    - documents.text is never NULL and has >= 3 whitespace tokens
      (Spark's size(split(NULL))=-1 vs DuckDB's NULL, and the
      whole-text shingle fallback vs DuckDB's out-of-range NULL gram,
      would silently diverge);
    - embeddings.embedding is never NULL and always 64 elements (PQ
      slicing, SRP masks and the IVF literal centroids assume the
      fixed dim);
    - doc_id / vec_id are unique (tiebreak totality of every top-k).
    """
    import duckdb

    con = duckdb.connect()
    checks = {
        "documents.text NULL": f"""
            SELECT count(*) FROM '{SF_ORACLE}/documents.parquet'
            WHERE text IS NULL""",
        "documents.text <3 tokens": f"""
            SELECT count(*) FROM '{SF_ORACLE}/documents.parquet'
            WHERE len(string_split(text, ' ')) < 3""",
        "embeddings.embedding NULL or dim<>64": f"""
            SELECT count(*) FROM '{SF_ORACLE}/embeddings.parquet'
            WHERE embedding IS NULL OR len(embedding) <> 64""",
        "documents.doc_id duplicates": f"""
            SELECT count(*) - count(DISTINCT doc_id)
            FROM '{SF_ORACLE}/documents.parquet'""",
        "embeddings.vec_id duplicates": f"""
            SELECT count(*) - count(DISTINCT vec_id)
            FROM '{SF_ORACLE}/embeddings.parquet'""",
    }
    broken = {
        name: n
        for name, sql in checks.items()
        if (n := con.execute(sql).fetchone()[0]) != 0
    }
    assert not broken, (
        f"DRIVER FIXTURE CONTENT DRIFT: {broken} — audit the queries "
        f"whose oracle leans on the broken assumption (NULL/short-text "
        f"handling diverges between Spark and DuckDB) before trusting "
        f"any other failure this round"
    )


def test_load_table_normalizes_timestamps(spark):
    """Whatever the parquet unit/annotation, plans must see session-tz
    ``timestamp`` (LTZ) — NTZ breaks long casts and withWatermark."""
    from org_revue_de_presse_trends_spark.catalog import load_table

    for table, cols in FIXTURE_SCHEMA.items():
        df = load_table(spark, SF_ORACLE, table)
        got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        for c, t in cols.items():
            if t == "timestamp":
                assert got[c] == "timestamp", (
                    f"{table}.{c}: load_table surfaced {got[c]}, "
                    f"expected session-tz timestamp"
                )


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["day", "event_id", "user_id", "event_type", "value", "rank"]
    assert len(rows) > 0


#: how many queries() entries the driver evaluates per round
DRIVER_WINDOW = 50

#: the frozen contents of that window.  r12 ROTATION: the 50
#: oldest-verified oracled queries (all 47 r9-verified ones plus the 3
#: oldest r10 fills, daily_top_events / dedup_minhash_md5 /
#: dedup_simhash_md5 — order computed from the CORRECTNESS_r01..r11
#: archives).  The r11 batch returned to the overflow set below, still
#: gated by this file's per-query oracle test.  Changing the window is
#: an explicit edit here, never a side effect of registering a new
#: query.
WINDOW_QUERIES = [
    "argmax_event_per_user", "asof_click_before_purchase",
    "cube_lineitem_stats", "disjunctive_join_nation_customer",
    "doc_length_lang_auc_by_source", "doc_rule_agreement_kappa",
    "domain_blocklist_audit", "domain_doc_caps", "duplicate_line_keys",
    "event_type_value_chi2", "event_type_value_mi", "event_value_auc",
    "event_value_calibration", "event_value_threshold_metrics",
    "events_json_extract", "events_time_rollup", "events_type_pivot",
    "except_all_returned_not_finished", "except_big_only_parts",
    "grouping_sets_order_stats", "intersect_repeat_customers",
    "large_volume_customers", "lateral_top2_orders_per_customer",
    "nation_pair_revenue", "order_rank_features",
    "orders_above_customer_avg", "orders_excluding_building_anti",
    "orders_left_join_big_lines", "orders_of_building_semi",
    "orders_price_bands", "orders_with_late_lines",
    "q11_important_part_values", "q2_min_cost_supplier",
    "q3_top_revenue_orders", "q5_supplier_nation_revenue",
    "qty_price_correlation", "qty_price_spearman", "rollup_order_stats",
    "running_total_per_customer", "sessionize_events",
    "topk_orders_paginated", "union_order_variants", "url_canonical_dedup",
    "url_content_staleness", "url_robots_audit", "user_value_zscores",
    "value_percentiles_exact", "daily_top_events", "dedup_minhash_md5",
    "dedup_simhash_md5",
]


def test_driver_window_is_pinned_and_fully_oracled():
    """The driver evaluates only the first DRIVER_WINDOW entries of
    queries().  Those slots must stay exactly the pinned green set
    (all oracled) — a new registration or ordering drift that displaced
    one must fail HERE, not in the round artifact."""
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    window = list(qs)[:DRIVER_WINDOW]
    assert window == WINDOW_QUERIES, (
        "driver evaluation window drifted; if intentional, re-pin "
        "WINDOW_QUERIES"
    )
    missing = [n for n in window if n not in oracles]
    assert not missing, f"window slots without an oracle: {missing}"
    # every registered query has a callable; every oracle has a query
    assert set(oracles) <= set(qs)
    # overflow oracled queries are allowed but must be a deliberate,
    # visible set — they get the in-repo gate only
    overflow = [n for n in oracles if n not in window]
    assert overflow == [
        "q1_pricing_summary", "events_daily_counts",
        "customer_order_distribution", "rolling_30d_customer_revenue",
        "doc_token_stats", "doc_quality_scores", "doc_lang_id",
        "doc_chunks", "vocab_top_tokens", "doc_top_tfidf_terms",
        "dedup_exact_docs", "dedup_ngram_jaccard", "dedup_clusters",
        "embedding_near_dup", "corpus_selection", "doc_embedding_join",
        "ann_cosine_topk", "doc_winnow_fingerprints_md5",
        "doc_decontamination", "doc_span_decontaminated",
        "doc_repetition_signals", "split_leakage_counts",
        "orders_nearby_count", "doc_duplicate_spans", "token_bigram_pmi",
        "events_daily_dense", "doc_weighted_sample", "doc_pii_redaction",
        "source_ngram_overlap", "source_overlap_kmv",
        "doc_unigram_surprisal", "doc_split_counts", "doc_dsir_importance",
        "doc_gopher_rules", "q9_profit_by_nation_year",
        "q14_promo_revenue_ratio", "q16_supplier_part_counts",
        "q19_bracket_revenue", "q22_idle_customers", "doc_overlap_pairs",
        "doc_token_entropy", "q15_top_suppliers", "source_zipf_slope",
        "vocab_coverage_curve", "source_js_divergence",
        "doc_perplexity_buckets", "source_data_card",
        "doc_contrastive_negatives", "event_type_daily_bursts",
        "funnel_view_click_purchase", "user_retention_cohorts",
        "event_type_transitions", "funnel_sliding_window",
        "q4_priority_with_late_lines", "q6_forecast_revenue_change",
        "q8_market_share", "q17_small_quantity_revenue",
        "q21_waiting_suppliers", "q12_priority_by_lateness",
        "q20_excess_shippers", "q10_returned_item_customers",
        "events_zorder_keys", "doc_boilerplate_removal",
        "dedup_edit_distance", "dedup_edit_distance_bounded",
        "doc_exact_substring_dedup", "doc_span_dedup_keep_first",
        "user_event_type_scd2", "customer_state_merge",
        "user_heavy_hitters_cms", "doc_lm_stupid_backoff",
        "doc_bloom_contamination", "orders_hll_distinct_custkeys",
        "value_bootstrap_ci", "value_histogram_quantiles",
        "doc_lm_kneser_ney", "value_moments_by_type", "value_drift_psi",
        "orders_quality_report", "value_ks_click_vs_purchase",
        "orders_profile", "doc_bm25_rarest_terms", "doc_token_chunks",
        "doc_nfc_normalization", "embedding_pca_covariance",
        "event_type_pagerank", "doc_centrality_pagerank",
        "customer_directory_fuzzy_link", "doc_neardup_clustering",
        "doc_lang_classifier_auc", "doc_shard_manifest", "doc_corpus_diff",
        "doc_eval_carve", "doc_html_extract", "doc_line_dedup",
        "doc_c4_line_filter", "doc_warc_roundtrip_extract",
    ], f"unexpected overflow oracled set: {overflow}"


def _pairs():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    return [(name, fn, oracles.get(name)) for name, fn in sorted(qs.items())]


@pytest.mark.parametrize("name,fn,oracle", _pairs(), ids=[p[0] for p in _pairs()])
def test_query_matches_oracle(spark, duck, name, fn, oracle):
    df = fn(spark, SF_ORACLE)
    spark_rows = df.collect()
    cols = df.columns
    assert len(cols) == len(set(cols)), f"{name}: duplicate column names"
    if oracle is None:
        # rows-only contract: must run and return a stable schema
        assert isinstance(spark_rows, list)
        return
    register_duck_views(duck, SF_ORACLE)
    res = duck.execute(oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    assert sorted(cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={sorted(cols)} duck={sorted(duck_cols)}"
    )
    # type correspondence: a strict driver-side schema compare must not
    # trip over e.g. DuckDB SUM(int)->HUGEINT vs Spark long
    # DuckDB TIMESTAMP is naive; Spark reads naive parquet timestamps
    # as timestamp_ntz (inferTimestampNTZ) but produces LTZ timestamps
    # from timestamp_micros() — both are faithful counterparts
    DUCK_TO_SPARK = {
        "BIGINT": ("bigint",), "INTEGER": ("int",), "DOUBLE": ("double",),
        "VARCHAR": ("string",), "DATE": ("date",),
        "TIMESTAMP": ("timestamp", "timestamp_ntz"),
        "BOOLEAN": ("boolean",), "FLOAT": ("float",),
    }
    spark_types = dict(zip(df.columns, [f.dataType.simpleString()
                                        for f in df.schema.fields]))
    duck_types = {
        r[0]: r[1] for r in duck.execute(f"DESCRIBE {oracle}").fetchall()
    }
    for col in cols:
        dt = duck_types[col]
        expected = DUCK_TO_SPARK.get(dt)
        assert expected is not None, (
            f"{name}.{col}: oracle type {dt} has no clean Spark "
            f"equivalent — add explicit casts"
        )
        assert spark_types[col] in expected, (
            f"{name}.{col}: spark {spark_types[col]} vs duck {dt}"
        )
    s = canon([tuple(r) for r in spark_rows], cols)
    d = canon(duck_rows, duck_cols)
    assert len(s) == len(d), f"{name}: row count spark={len(s)} duck={len(d)}"
    mismatches = [i for i, (a, b) in enumerate(zip(s, d)) if a != b]
    assert not mismatches, (
        f"{name}: {len(mismatches)} mismatching rows; first: "
        f"spark={s[mismatches[0]]} duck={d[mismatches[0]]}"
    )
    assert len(s) > 0, f"{name}: empty result — weak test, tune constants"


def test_sessionize_events_splits_gaps_at_microsecond_precision(
    spark, tmp_path
):
    """A 1800.27 s gap between events at x.5 s and x.77 s starts a new
    session (the oracle's INTERVAL 30 MINUTE compares microseconds); an
    exact 1800 s gap and a 1799.9 s gap do not.  Whole-second gap math
    sees 1800 for all three and keeps one session."""
    import datetime as dt

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from org_revue_de_presse_trends_spark.plans.registry import (
        ORACLES,
        QUERIES,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0, 500000)
    ts = [t0]
    for gap_s in (1800.27, 1800.0, 1799.9):
        ts.append(ts[-1] + dt.timedelta(seconds=gap_s))
    n = len(ts)
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array([7] * n, pa.int64()),
            "event_type": pa.array(["view"] * n),
            "value": pa.array([1.0] * n, pa.float64()),
            "props": pa.array(["{}"] * n),
        }),
        str(tmp_path / "events.parquet"),
    )
    df = QUERIES["sessionize_events"](spark, str(tmp_path))
    rows = df.collect()
    got = sorted((r["event_id"], r["session_id"]) for r in rows)
    assert got == [(0, 1), (1, 2), (2, 2), (3, 2)]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'"
    )
    res = con.execute(ORACLES["sessionize_events"])
    duck_cols = [d[0] for d in res.description]
    assert canon([tuple(r) for r in rows], df.columns) == canon(
        res.fetchall(), duck_cols
    )
    con.close()
