"""Deterministic stratified sampling / eval carving
(operators/sampling.py): exact apportionment algebra, layout
independence, saturation behavior, and the cross-engine template.
The oracled q:doc_eval_carve rides the driver-contract gate."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from org_revue_de_presse_trends_spark.catalog import load_table
from org_revue_de_presse_trends_spark.operators import sampling as S

SF = "/root/testdata/sf0.001"


def _uneven(spark):
    """Strata of sizes 50/30/19/1 — quotas must mix base seats,
    remainder seats, and a saturating singleton."""
    rows = (
        [(i, "a") for i in range(50)]
        + [(100 + i, "b") for i in range(30)]
        + [(200 + i, "c") for i in range(19)]
        + [(300, "d")]
    )
    return spark.createDataFrame(rows, "doc_id long, source string")


def test_quotas_sum_exactly_and_track_proportions(spark):
    df = _uneven(spark)
    got = {
        r["source"]: r["quota"]
        for r in S.apportioned_quotas(df, ["source"], 25).collect()
    }
    assert sum(got.values()) == 25
    # Hamilton stays within 1 of the exact share (quota property)
    shares = {"a": 25 * 50 / 100, "b": 25 * 30 / 100, "c": 25 * 19 / 100,
              "d": 25 * 1 / 100}
    for s, q in got.items():
        assert abs(q - shares[s]) < 1.0, (s, q, shares[s])


def test_carve_exact_size_and_layout_independent(spark):
    df = _uneven(spark)
    a = sorted(map(tuple, S.eval_carve(df, ["source"], 25, "doc_id").collect()))
    assert len(a) == 25
    scrambled = df.repartition(17, F.col("doc_id")).sortWithinPartitions(
        F.col("doc_id").desc()
    )
    b = sorted(
        map(tuple, S.eval_carve(scrambled, ["source"], 25, "doc_id").collect())
    )
    assert a == b
    # a different seed carves a different (same-sized) set
    c = sorted(
        map(tuple, S.eval_carve(df, ["source"], 25, "doc_id", seed=1).collect())
    )
    assert len(c) == 25 and c != a


def test_carve_saturates_to_full_corpus(spark):
    df = _uneven(spark)
    got = S.eval_carve(df, ["source"], 10_000, "doc_id").count()
    assert got == df.count()


def test_spark_template_equals_dataframe_operator(spark, tmp_path):
    """The SAME template string, engine='spark', run through spark.sql
    must equal the DataFrame operator — pinning that the oracle text
    and the operator implement one algorithm, not two."""
    docs = load_table(spark, SF, "documents").select("source", "doc_id")
    docs.createOrReplaceTempView("__carve_src")
    sql = S.eval_carve_oracle_sql(
        "spark", ["source"], 37, "doc_id",
        "SELECT source, doc_id FROM __carve_src",
        ["source", "doc_id"],
    )
    a = sorted(map(tuple, spark.sql(sql).collect()))
    b = sorted(
        map(
            tuple,
            S.eval_carve(docs, ["source"], 37, "doc_id").collect(),
        )
    )
    assert a == b and len(a) == 37


def test_guards(spark):
    df = _uneven(spark)
    with pytest.raises(ValueError, match="n_total"):
        S.apportioned_quotas(df, ["source"], -1)
