"""Document quality signals (operators/quality.py)."""

from __future__ import annotations


def test_compression_signals_planted_monotonicity(spark):
    """Repetitive text compresses far better than high-entropy text;
    ratios are deterministic across runs."""
    import random

    from org_revue_de_presse_trends_spark.operators.quality import (
        compression_signals,
    )

    rng = random.Random(7)
    rand_text = " ".join(
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789")
                for _ in range(8))
        for _ in range(100)
    )
    docs = spark.createDataFrame(
        [(1, "spam " * 200), (2, rand_text)], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: r for r in compression_signals(docs).collect()
    }
    assert got[1]["compression_ratio"] < 0.05   # boilerplate
    assert got[2]["compression_ratio"] > 0.5    # high entropy
    for r in got.values():
        assert r["raw_len"] == len(
            {1: "spam " * 200, 2: rand_text}[r["doc_id"]].encode()
        )
    again = {
        r["doc_id"]: r["compression_ratio"]
        for r in compression_signals(docs).collect()
    }
    assert again == {
        k: v["compression_ratio"] for k, v in got.items()
    }
