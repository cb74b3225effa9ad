"""Deterministic split assignment (operators/splits.py):
exhaustiveness, stability under corpus growth (the leak-free
property), proportion tolerance."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from org_revue_de_presse_trends_spark.operators.splits import (
    assign_split,
    hash_coin,
)

WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


@pytest.fixture(scope="module")
def ids(spark):
    return spark.range(10_000).select(F.col("id").alias("doc_id"))


def test_split_exhaustive_and_disjoint(spark, ids):
    out = assign_split(ids, WEIGHTS, seed=7)
    rows = out.collect()
    assert len(rows) == 10_000  # exactly one split per row
    assert {r["split"] for r in rows} == set(WEIGHTS)


def test_split_proportions_within_tolerance(spark, ids):
    counts = {
        r["split"]: r["n"]
        for r in assign_split(ids, WEIGHTS, seed=7)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for name, w in WEIGHTS.items():
        assert abs(counts[name] / 10_000 - w) < 0.02, (name, counts)


def test_split_stable_under_corpus_growth(spark, ids):
    """Adding documents must not move an existing id between splits —
    the property that keeps eval sets leak-free as a corpus grows."""
    small = {
        r["doc_id"]: r["split"]
        for r in assign_split(
            ids.filter(F.col("doc_id") < 1000), WEIGHTS, seed=7
        ).collect()
    }
    big = {
        r["doc_id"]: r["split"]
        for r in assign_split(ids, WEIGHTS, seed=7).collect()
    }
    assert all(big[i] == s for i, s in small.items())


def test_split_seed_changes_assignment(spark, ids):
    a = {
        r["doc_id"]: r["split"]
        for r in assign_split(ids, WEIGHTS, seed=7).collect()
    }
    b = {
        r["doc_id"]: r["split"]
        for r in assign_split(ids, WEIGHTS, seed=8).collect()
    }
    moved = sum(1 for i in a if a[i] != b[i])
    assert moved > 1000  # seeds genuinely reshuffle


def test_split_weights_must_sum_to_one(spark, ids):
    with pytest.raises(ValueError):
        assign_split(ids, {"a": 0.5, "b": 0.3})


def test_hash_coin_uniform_enough(spark, ids):
    """Coin mean ~0.5 and tails populated (coarse uniformity)."""
    stats = ids.select(hash_coin(F.col("doc_id")).alias("u")).agg(
        F.avg("u").alias("m"),
        F.sum((F.col("u") < 0.01).cast("int")).alias("lo"),
        F.sum((F.col("u") > 0.99).cast("int")).alias("hi"),
    ).collect()[0]
    assert abs(stats["m"] - 0.5) < 0.02
    assert 40 < stats["lo"] < 250 and 40 < stats["hi"] < 250
