"""CLI mirroring the reference worker's flags (trends.go:84-131).

Reference flags → here:
  -publishers-list-id            → --publishers-list-id
  -since-date (default today)    → --since-date
  -migrate-distinct-sources-only → --distinct-sources-only
  -in-parallel                   → --in-parallel / --no-in-parallel
  -limit / -page                 → --limit / --page
  -dry-mode (prints SQL+params)  → --dry-mode (prints the resolved
                                   physical plans — the Catalyst
                                   analogue of printing the SQL string,
                                   trends.go:408-412)
Ops parity:
  config.json / config.firebase.json (trends.go:241-254, 225-239)
                                 → --config / --firebase-config
  -since-last-week (dead in ref: emits invalid SQL, trends.go:531-534)
                                 → --since-last-week (corrected mode)
Engine additions: --source-dir (parquet domain tables), --sink-dir
(local document store root), --lake-dir (partitioned parquet sink),
--bug-compat, --tz for the corrected civil-day mode.
"""

from __future__ import annotations

import argparse
import datetime as dt
import sys
from dataclasses import asdict, is_dataclass

from pyspark.sql import SparkSession

from .catalog import load_table
from .plans.trends import DOMAIN_TABLES, TrendsParams, TrendsPipeline

# reference trends.go:39: hard-coded deprecated list id also matched
DEPRECATED_LIST_DEFAULT = "deprecated-list"


def civil_date(s: str) -> str:
    """argparse type for --since-date: exactly ``YYYY-MM-DD``.

    The plan reads the day with ``CAST(:day AS DATE)``, which also
    accepts '2024-3-2' or '2024-03-02 10:00', while the sink path and
    the lake's ``day`` column take the raw string — so a loose value
    would publish the same day a second time under another key."""
    try:
        ok = dt.date.fromisoformat(s).isoformat() == s
    except ValueError:
        ok = False
    if not ok:
        raise argparse.ArgumentTypeError(f"not a YYYY-MM-DD date: {s!r}")
    return s


def non_negative_int(s: str) -> int:
    """argparse type for --limit/--page: an integer >= 0.

    The plan skips LIMIT/OFFSET for values <= 0, so a negative value
    would publish the whole day, where the reference's Postgres
    rejects a negative LIMIT.  A non-integer raises ValueError, which
    argparse reports as an invalid value."""
    n = int(s)
    if n < 0:
        raise argparse.ArgumentTypeError(f"must not be negative: {s!r}")
    return n


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="trends-spark",
        description="Daily-highlights engine (PySpark re-implementation "
        "of revuedepresse/org.revue-de-presse.trends)",
    )
    p.add_argument(
        "--publishers-list-id", default=None,
        help="required unless the --config file carries List_Id",
    )
    p.add_argument(
        "--config", default=None,
        help="config.json (reference dist format: Read_* DSN parts, "
        "Firebase_url, List_Id)",
    )
    p.add_argument(
        "--firebase-config", default=None,
        help="config.firebase.json (Google service-account key) — with "
        "--config's Firebase_url, routes the sink to Firebase REST "
        "with OAuth2 tokens",
    )
    p.add_argument(
        "--since-last-week", action="store_true",
        help="corrected 7-day lookback mode (the reference flag is "
        "dead: its SQL is invalid, trends.go:531-534)",
    )
    p.add_argument(
        "--deprecated-list-id", default=DEPRECATED_LIST_DEFAULT,
        help="second public_id matched by the IN-list (trends.go:39)",
    )
    p.add_argument(
        "--since-date", type=civil_date,
        default=dt.date.today().isoformat(),
        help="civil day YYYY-MM-DD (default: today, trends.go:98)",
    )
    p.add_argument("--distinct-sources-only", action="store_true")
    p.add_argument("--limit", type=non_negative_int, default=10)
    p.add_argument("--page", type=non_negative_int, default=0)
    # the reference launcher passes -in-parallel=true (fun.sh:393-404)
    parity = "accepted for launcher parity; the sink sends one request per run"
    p.add_argument("--in-parallel", dest="in_parallel", action="store_true",
                   default=True, help=parity)
    p.add_argument("--no-in-parallel", dest="in_parallel",
                   action="store_false", help=parity)
    p.add_argument("--dry-mode", action="store_true")
    p.add_argument("--quiet", action="store_true", default=True,
                   help="suppress progress output (reference default)")
    p.add_argument("--no-quiet", dest="quiet", action="store_false")
    p.add_argument("--source-dir", required=True,
                   help="directory of domain-table parquet files")
    p.add_argument("--sink-dir", default=None,
                   help="local document-store root (omit to print rows)")
    p.add_argument("--lake-dir", default=None,
                   help="partitioned parquet lake root")
    p.add_argument("--bug-compat", action="store_true")
    p.add_argument("--tz", default=None,
                   help="tz name for corrected civil-day mode "
                   "(default: reference's fixed -1h shift)")
    p.add_argument("--master", default=None)
    p.add_argument(
        "--metrics", action="store_true",
        help="emit one structured JSON metrics line per materialized "
        "query on stderr (rows/bytes/tasks counters — the engine's "
        "analogue of the reference's Datadog tracing, trends.go:14)",
    )
    return p


def load_domain_tables(spark: SparkSession, source_dir: str) -> None:
    """Bind ``source_dir``'s five tables as the session temp views the
    worker SQL names (``plans.trends.DOMAIN_TABLES``)."""
    for name in DOMAIN_TABLES:
        load_table(spark, source_dir, name).createOrReplaceTempView(name)


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    args = build_parser().parse_args(argv)
    cfg = None
    if args.config is not None:
        from .sources.config import load_app_config

        cfg = load_app_config(args.config)
    if args.publishers_list_id is None:
        if cfg is not None and cfg.list_id:
            args.publishers_list_id = cfg.list_id
        else:
            build_parser().error(
                "--publishers-list-id is required (or List_Id in --config)"
            )
    # refuse bad flag combinations before any Spark work, so neither
    # --dry-mode nor a --lake-dir write runs ahead of the refusal
    if args.firebase_config and (cfg is None or not cfg.firebase_url):
        build_parser().error(
            "--firebase-config requires --config with a non-empty "
            "Firebase_url (the sink flag would otherwise be silently "
            "ignored)"
        )
    if args.since_last_week and (args.sink_dir or args.firebase_config):
        # the document sink expects 12-field highlight records; raw
        # statuses have no statusType/popularity — refuse loudly
        # instead of printing to stdout with exit 0
        build_parser().error(
            "--since-last-week writes raw statuses: use --lake-dir "
            "or stdout, not --sink-dir or the Firebase sink"
        )
    if args.tz is not None:
        # validate eagerly: Spark only checks zone ids at execution,
        # which --dry-mode never reaches
        import zoneinfo

        try:
            zoneinfo.ZoneInfo(args.tz)
        except (zoneinfo.ZoneInfoNotFoundError, ValueError):
            build_parser().error(f"unknown timezone: {args.tz!r}")
    if spark is None:
        from .session import get_spark

        spark = get_spark(master=args.master)

    params = TrendsParams(
        list_public_ids=(args.publishers_list_id, args.deprecated_list_id),
        since_date=args.since_date,
        limit=args.limit,
        page=args.page,
        tz=args.tz,
        bug_compat=args.bug_compat,
    )
    load_domain_tables(spark, args.source_dir)
    pipe = TrendsPipeline(spark, params)

    # --metrics: bracket every materialization with the status-store
    # collector and log one JSON line per query on stderr (ops parity
    # with the reference's per-run Datadog spans)
    collector = None
    if args.metrics:
        from .observability import MetricsCollector

        collector = MetricsCollector(spark)

    def materialize(name: str, df, action):
        if collector is None:
            return action(df)
        result, qm = collector.measure(name, df, action)
        if is_dataclass(result):  # the document sink's SinkStats
            qm.extra.update(asdict(result))
        print(qm.to_json(), file=sys.stderr)
        return result

    if args.since_last_week:
        from pyspark.sql import functions as F

        from .functions.expressions import civil_day

        df = pipe.last_week_statuses(now=args.since_date)
        if args.dry_mode:
            df.explain("formatted")
            return 0
        if args.lake_dir:
            from .sources.lake import write_partitioned

            # same civil-day semantics as every other path: fixed
            # shift by default, DST-aware when --tz is given
            day = civil_day(
                F.col("ust_created_at"), params.shift_hours, params.tz
            ).cast("string")
            materialize(
                "last_week_statuses:lake",
                df.withColumn("day", day),
                lambda d: write_partitioned(
                    d, args.lake_dir, partition_by=("day",)
                ),
            )
        else:
            for row in materialize(
                "last_week_statuses", df, lambda d: d.collect()
            ):
                print(row)
        return 0

    if not args.quiet:
        # ops parity: the reference's count log line (trends.go:522);
        # structured instead of the dots protocol (trends.go:632-634)
        n = pipe.count_highlights(
            distinct_sources=args.distinct_sources_only
        )
        print(f"Found {n} matching highlights on {args.since_date}")

    # reference main (trends.go:151-198): curated run skipped under
    # -migrate-distinct-sources-only
    variants = (
        ("statusFromDistinctSources", "retweetFromDistinctSources")
        if args.distinct_sources_only
        else ("status", "statusFromDistinctSources",
              "retweetFromDistinctSources")
    )
    result = pipe.all_variants(variants)

    if args.dry_mode:
        # the -dry-mode analogue: print the plan instead of executing
        # (trends.go:408-412 prints the assembled SQL)
        for v in variants:
            print(f"-- variant: {v}")
            pipe.variant(v).explain("formatted")
        return 0

    if args.lake_dir:
        from .sources.lake import write_partitioned
        from pyspark.sql import functions as F

        materialize(
            "highlights:lake",
            result.withColumn("day", F.lit(args.since_date)),
            lambda d: write_partitioned(
                d, args.lake_dir, partition_by=("day", "statusType")
            ),
        )
    if args.sink_dir or args.firebase_config:
        from .sources.document_sink import (
            FirebaseRESTStore,
            LocalFSDocumentStore,
            write_highlights,
        )

        if args.sink_dir:
            name = "highlights:document_sink"
            store = LocalFSDocumentStore(args.sink_dir)
        else:
            # --firebase-config implies a Firebase_url (checked above)
            from .sources.config import token_provider_from_firebase_config

            name = "highlights:firebase_sink"
            provider = token_provider_from_firebase_config(
                args.firebase_config
            )
            store = FirebaseRESTStore(
                cfg.firebase_url, token_provider=provider.token
            )
        materialize(
            name,
            result,
            lambda d: write_highlights(
                d,
                store,
                list_id=args.publishers_list_id,
                since_date=args.since_date,
            ),
        )
    elif not args.lake_dir:
        for row in materialize("highlights", result, lambda d: d.collect()):
            print(row)
    return 0


if __name__ == "__main__":
    sys.exit(main())
