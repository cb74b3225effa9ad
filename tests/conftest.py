from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from org_revue_de_presse_trends_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # sized like session.get_spark's default master: on 4 cores,
    # local[4] ran a fixed 72-test slice ~9% faster than local[8]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    s = get_spark(
        app_name="trends-spark-tests",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    yield con
    con.close()


def register_duck_views(con, sf_dir: str) -> None:
    from org_revue_de_presse_trends_spark.catalog import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM '{sf_dir}/{t}.parquet'"
        )


def canon(rows, cols):
    """Canonicalize result rows like the driver: sort columns by name,
    stringify values with stable float/decimal rendering, sort rows."""
    import datetime
    import decimal
    import math

    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def render(v):
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return repr(round(v, 9))
        if isinstance(v, decimal.Decimal):
            return repr(round(float(v), 9))
        if isinstance(v, datetime.datetime):
            return v.isoformat(sep=" ")
        if isinstance(v, datetime.date):
            return v.isoformat()
        return str(v)

    return sorted(tuple(render(r[i]) for i in order) for r in rows)
