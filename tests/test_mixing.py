"""Domain-mixing semantics: closed-form weights/rates, deterministic
layout-independent sampling, audit-table consistency."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from org_revue_de_presse_trends_spark.operators.mixing import (
    keep_rates,
    mixture_plan,
    sample_mixture,
    source_token_stats,
    temperature_weights,
)


def test_temperature_weights_closed_form():
    counts = {"big": 900, "small": 100}
    natural = temperature_weights(counts, alpha=1.0)
    assert abs(natural["big"] - 0.9) < 1e-12
    uniform = temperature_weights(counts, alpha=0.0)
    assert abs(uniform["big"] - 0.5) < 1e-12
    half = temperature_weights(counts, alpha=0.5)  # 30:10 → 0.75/0.25
    assert abs(half["big"] - 0.75) < 1e-12 and abs(half["small"] - 0.25) < 1e-12
    assert temperature_weights({}, 0.5) == {}


def test_keep_rates_downsample_only_binding_source_at_one():
    counts = {"big": 900, "small": 100}
    rates = keep_rates(counts, temperature_weights(counts, alpha=0.5))
    # small is the binding domain (upweighted): keeps everything
    assert rates["small"] == 1.0
    # big is downsampled to realize the 3:1 token target: 300/900
    assert abs(rates["big"] - 1 / 3) < 1e-12
    assert all(0 < r <= 1 for r in rates.values())


def test_zero_mass_sources_excluded_not_poisoning():
    """A source with 0 or NULL tokens must not (a) grab weight at
    alpha=0 (0**0=1), (b) zero out every keep-rate via the min, or
    (c) TypeError on None — it is dropped and the rest renormalized."""
    counts = {"big": 900, "small": 100, "empty": 0, "nulls": None}
    for alpha in (0.0, 0.5, 1.0):
        w = temperature_weights(counts, alpha=alpha)
        assert set(w) == {"big", "small"}
        assert abs(sum(w.values()) - 1.0) < 1e-12
        rates = keep_rates(counts, w)
        # the nonempty mixture survives: binding source keeps rate 1
        assert max(rates.values()) == 1.0
    # all-empty corpus: no weights, all-zero rates, no crash
    assert temperature_weights({"a": 0, "b": None}, 0.5) == {}
    assert keep_rates({"a": 0}, {"a": 1.0}) == {"a": 0.0}


def _docs(spark):
    return spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 9, "web").otherwise("books").alias("source"),
        F.when(F.col("id") % 10 < 9, F.lit("w1 w2 w3 w4"))
        .otherwise(F.lit("b1 b2 b3 b4"))
        .alias("text"),
    )


def test_sample_mixture_deterministic_and_layout_independent(spark):
    docs = _docs(spark)
    rates = {"web": 0.3, "books": 1.0}
    a = sorted(r["doc_id"] for r in sample_mixture(docs, rates).collect())
    b = sorted(
        r["doc_id"]
        for r in sample_mixture(docs.repartition(7), rates).collect()
    )
    assert a == b, "sampling must not depend on partition layout"
    kept = docs.join(
        sample_mixture(docs, rates).select("doc_id"), "doc_id", "left_semi"
    )
    by_src = {
        r["source"]: r["n"]
        for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert by_src["books"] == 100  # rate 1.0 keeps all
    assert 200 < by_src["web"] < 400  # ~0.3 of 900, hash-coin variance
    # unknown source → dropped
    extra = spark.createDataFrame([(9999, "pdf", "x y")], ["doc_id", "source", "text"])
    assert sample_mixture(extra, rates).count() == 0


def test_mixture_plan_audit_consistency(spark):
    docs = _docs(spark)
    plan = {r["source"]: r for r in mixture_plan(docs, alpha=0.5).collect()}
    assert set(plan) == {"web", "books"}
    stats = {
        r["source"]: r
        for r in source_token_stats(docs).collect()
    }
    for s, row in plan.items():
        assert row["n_docs"] == stats[s]["n_docs"]
        assert row["n_tokens"] == stats[s]["n_tokens"]
        assert 0 < row["keep_rate"] <= 1
        assert row["n_sampled"] <= row["n_docs"]
    # books upweighted by temperature: binding domain keeps rate 1
    assert plan["books"]["keep_rate"] == pytest.approx(1.0)
    assert plan["web"]["keep_rate"] < 1.0
    assert abs(sum(r["weight"] for r in plan.values()) - 1.0) < 1e-4
