"""Metrics collector tests: per-query rows/bytes/tasks counters from
the driver status stores (the engine's parity surface for the
reference's Datadog tracing, trends.go:14)."""

from __future__ import annotations

import json

from fixtures.gen import DEPRECATED_LIST, TARGET_LIST, generate

from org_revue_de_presse_trends_spark.catalog import load_table
from org_revue_de_presse_trends_spark.cli import main
from org_revue_de_presse_trends_spark.observability import MetricsCollector
from org_revue_de_presse_trends_spark.observability.metrics import (
    parse_metric_value,
)

SF = "/root/testdata/sf0.001"


def test_parse_metric_value_forms():
    assert parse_metric_value("1,500") == 1500
    assert parse_metric_value("35.8 KiB") == 35.8 * 1024
    assert parse_metric_value("2.0 MiB") == 2.0 * 1024**2
    assert parse_metric_value("0.0 B") == 0.0
    assert parse_metric_value("261 ms") == 0.261
    # multi-task UI form: "total (min, med, max (stage: task))" on the
    # line after the header
    assert parse_metric_value(
        "total (min, med, max (stageId: taskId))\n"
        "3.0 MiB (1.0 MiB, 1.0 MiB, 1.0 MiB (stage 3.0: task 5))"
    ) == 3.0 * 1024**2
    assert parse_metric_value("garbage") == 0.0
    # empty / whitespace-only metric values degrade to 0.0 too (an
    # IndexError here would abort the whole measure() call)
    assert parse_metric_value("") == 0.0
    assert parse_metric_value("   \n  ") == 0.0


def test_collector_counts_one_pipeline_run(spark):
    """An aggregation over a parquet fixture must produce jobs, tasks,
    a SQL execution, scanned bytes/files, and shuffle writes."""
    mc = MetricsCollector(spark)
    df = (
        load_table(spark, SF, "orders")
        .groupBy("o_orderstatus")
        .count()
    )
    rows, qm = mc.measure("orders_by_status", df)
    assert len(rows) > 0
    assert qm.result_rows == len(rows)
    assert qm.n_executions >= 1
    assert qm.n_jobs >= 1
    assert qm.n_tasks >= 1
    assert qm.files_read >= 1
    assert qm.bytes_read > 0
    assert qm.sql_output_rows > 0
    assert qm.shuffle_bytes_written > 0  # groupBy shuffles
    assert qm.wall_sec > 0
    d = json.loads(qm.to_json())
    assert d["query"] == "orders_by_status"
    assert d["tasks"] == qm.n_tasks


def test_collector_isolates_concurrent_measures(spark):
    """Two sequential measures on one session: the second must not
    inherit the first's executions or jobs (watermark + job group)."""
    mc = MetricsCollector(spark)
    big = load_table(spark, SF, "lineitem").groupBy("l_returnflag").count()
    small = load_table(spark, SF, "region").select("r_name")
    _, qm_big = mc.measure("big", big)
    _, qm_small = mc.measure("small", small)
    assert qm_small.n_executions >= 1
    # region is 5 rows / one file: if isolation leaked, lineitem's scan
    # bytes would bleed into qm_small
    assert qm_small.bytes_read < qm_big.bytes_read
    assert qm_small.shuffle_bytes_written == 0  # no shuffle in a select


def test_cli_metrics_flag_emits_json_lines(spark, tmp_path, capsys):
    domain = str(tmp_path / "domain")
    generate(domain)
    rc = main(
        [
            "--publishers-list-id", TARGET_LIST,
            "--deprecated-list-id", DEPRECATED_LIST,
            "--since-date", "2024-03-02",
            "--source-dir", domain,
            "--metrics",
        ],
        spark=spark,
    )
    assert rc == 0
    err_lines = [
        ln for ln in capsys.readouterr().err.splitlines()
        if ln.startswith("{")
    ]
    assert len(err_lines) >= 1
    rec = json.loads(err_lines[-1])
    assert rec["query"] == "highlights"
    assert rec["tasks"] >= 1
    assert rec["executions"] >= 1
    assert rec["result_rows"] >= 0


def test_cli_metrics_reports_sink_counters(spark, tmp_path, capsys):
    """The document-sink metrics line carries the sink's counters:
    ``written`` is the number of leaf files, ``skipped_invalid_json``
    the day's result rows whose planted JSON does not parse."""
    import os

    from org_revue_de_presse_trends_spark.cli import load_domain_tables
    from org_revue_de_presse_trends_spark.plans.trends import (
        TrendsParams,
        TrendsPipeline,
    )

    domain, sink = str(tmp_path / "domain"), str(tmp_path / "store")
    generate(domain)
    rc = main(
        [
            "--publishers-list-id", TARGET_LIST,
            "--deprecated-list-id", DEPRECATED_LIST,
            "--since-date", "2024-03-02",
            "--source-dir", domain,
            "--sink-dir", sink,
            "--limit", "0",
            "--metrics",
        ],
        spark=spark,
    )
    assert rc == 0
    recs = {
        r["query"]: r
        for r in map(json.loads, (
            ln for ln in capsys.readouterr().err.splitlines()
            if ln.startswith("{")
        ))
    }
    rec = recs["highlights:document_sink"]
    leaves = sum(len(files) for _, _, files in os.walk(sink))
    assert rec["written"] == leaves > 0
    assert rec["retried"] == 0

    def parses(doc):
        try:
            json.loads(doc)
            return True
        except (TypeError, ValueError):
            return False

    load_domain_tables(spark, domain)
    pipe = TrendsPipeline(
        spark,
        TrendsParams(list_public_ids=(TARGET_LIST, DEPRECATED_LIST),
                     since_date="2024-03-02", limit=0),
    )
    rows = pipe.all_variants(
        ("status", "statusFromDistinctSources", "retweetFromDistinctSources")
    ).collect()
    invalid = sum(not parses(r["json"]) for r in rows)
    assert invalid > 0
    assert rec["skipped_invalid_json"] == invalid
