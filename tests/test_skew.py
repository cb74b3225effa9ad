"""Salted-join correctness: result sets identical to the plain join on
skewed data, for inner and left joins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from org_revue_de_presse_trends_spark.operators.skew import (
    salted_join,
)


@pytest.fixture(scope="module")
def skewed_data(spark):
    # 90% of rows share key 1 (the viral publisher), rest spread
    probe = spark.range(2000).select(
        F.when(F.col("id") < 1800, F.lit(1))
        .otherwise((F.col("id") % 50).cast("long"))
        .alias("k"),
        F.col("id").alias("probe_id"),
    )
    build = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("build_val")
    )
    return probe, build


def test_salted_inner_equals_plain(spark, skewed_data):
    probe, build = skewed_data
    plain = {
        (r["k"], r["probe_id"], r["build_val"])
        for r in probe.join(build, "k").collect()
    }
    salted = {
        (r["k"], r["probe_id"], r["build_val"])
        for r in salted_join(probe, build, on="k", salt=8).collect()
    }
    assert salted == plain and len(plain) == 2000


def test_salted_left_preserves_unmatched(spark, skewed_data):
    probe, build = skewed_data
    build_missing = build.filter(F.col("k") != 1)  # drop the hot key
    plain = {
        (r["k"], r["probe_id"], r["build_val"])
        for r in probe.join(build_missing, "k", "left").collect()
    }
    salted = {
        (r["k"], r["probe_id"], r["build_val"])
        for r in salted_join(
            probe, build_missing, on="k", salt=4, how="left"
        ).collect()
    }
    assert salted == plain
    assert any(v is None for _, _, v in salted)  # hot key null-extended


def test_salted_join_rejects_other_hows(spark, skewed_data):
    probe, build = skewed_data
    with pytest.raises(ValueError):
        salted_join(probe, build, on="k", how="full")
