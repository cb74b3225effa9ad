#!/usr/bin/env python
"""Per-day cost of the daily worker as its history grows.

Usage: python scripts/day_cost_curve.py [--workdir DIR]

For each of ``HISTORIES`` (days), generates the five domain tables with
``perfbench/gen_domain.py`` (read-only import) at ``PER_DAY`` statuses
per day, then runs the worker's day (COUNT, then the four-variant union
collected) for the last ``DAYS`` days of the history.  Prints one line
per day: wall seconds, and ``bytes_read``, the rows output by all plan
nodes and the shuffle bytes, as ``observability.MetricsCollector``
reports them.  ``bytes_read`` is Spark's "size of files read", the size
of every file the scan opens, so it is flat only for a day-partitioned
table.  Not a gated benchmark: one fresh session, warmed on the first
day, no pairs.
"""
import argparse
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import gen_domain  # noqa: E402

from org_revue_de_presse_trends_spark.cli import load_domain_tables  # noqa: E402
from org_revue_de_presse_trends_spark.observability import (  # noqa: E402
    MetricsCollector,
)
from org_revue_de_presse_trends_spark.plans.trends import (  # noqa: E402
    TrendsParams,
    TrendsPipeline,
)
from org_revue_de_presse_trends_spark.session import get_spark  # noqa: E402

HISTORIES = (7, 90, 365)
PER_DAY = 300
DAYS = 3
SEED = 1


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workdir", default=None)
    a = p.parse_args()
    workdir = a.workdir or tempfile.mkdtemp(prefix="day_cost_curve-")
    spark = get_spark(app_name="day-cost-curve")
    spark.sparkContext.setLogLevel("ERROR")
    collector = MetricsCollector(spark)
    print("history_days day wall_s bytes_read node_rows shuffle_bytes "
          "result_rows")
    warmed = False
    for history in HISTORIES:
        scale = gen_domain.DomainScale(history, PER_DAY)
        src = os.path.join(workdir, f"h{history}-s{PER_DAY}-seed{SEED}")
        if not os.path.isdir(src):
            gen_domain.generate(src, scale, SEED)
        load_domain_tables(spark, src)
        for day in scale.day_list()[-DAYS:]:
            params = TrendsParams(
                list_public_ids=(gen_domain.TARGET_LIST,
                                 gen_domain.DEPRECATED_LIST),
                since_date=day, limit=0,
            )

            def run(_):
                pipe = TrendsPipeline(spark, params)
                pipe.count_highlights()
                return pipe.all_variants().collect()

            if not warmed:
                run(None)
                warmed = True
            t0 = time.perf_counter()
            rows, qm = collector.measure("day", None, run)
            wall = time.perf_counter() - t0
            print(f"{history} {day} {wall:.3f} {int(qm.bytes_read)} "
                  f"{int(qm.sql_output_rows)} "
                  f"{int(qm.shuffle_bytes_written)} {len(rows)}",
                  flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
