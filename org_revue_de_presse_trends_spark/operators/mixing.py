"""Domain mixing — per-source token accounting and deterministic
mixture sampling (task brief: training-data pipeline surface).

The standard recipe (mT5, Xue et al. 2021 §3.1; PaLM): source s with
natural token mass n_s gets target share w_s ∝ n_s^α (temperature
α < 1 upweights small domains), realized by DOWN-sampling only — the
largest corpus total T is chosen so every per-source keep-rate
r_s = w_s·T / n_s stays ≤ 1 (no document is duplicated).

Scale design: the per-source statistics table is tiny (one row per
source — dozens, not millions), so weight math happens driver-side on
a collected dict; the sampling decision is a per-row hash test
(xxhash64(id, seed) — deterministic, layout-independent, re-runnable:
the same CLAUDE.md invariant as the packing operator), zero shuffle
beyond the stats aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as T


def source_token_stats(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """(source, n_docs, n_tokens) — the natural mass of each domain."""
    return (
        docs.groupBy(F.col(source_col).alias("source"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(T.token_count(F.col(text_col))).alias("n_tokens"),
        )
    )


def temperature_weights(
    token_counts: dict[str, int], alpha: float = 0.5
) -> dict[str, float]:
    """w_s ∝ n_s^α, normalized to sum 1.  α=1 → natural proportions,
    α=0 → uniform over sources, 0<α<1 → the usual compromise.

    Sources with zero or NULL token mass are excluded (a domain with
    no tokens cannot receive a share realized by down-sampling) and
    the remaining weights renormalized."""
    valid = {
        s: n for s, n in token_counts.items() if n is not None and n > 0
    }
    if not valid:
        return {}
    powered = {s: float(n) ** alpha for s, n in valid.items()}
    z = sum(powered.values())
    return {s: p / z for s, p in powered.items()}


def keep_rates(
    token_counts: dict[str, int], weights: dict[str, float]
) -> dict[str, float]:
    """Per-source keep probability realizing ``weights`` by
    down-sampling only: T = min_s n_s / w_s, r_s = w_s * T / n_s.
    At least one source keeps rate 1.0 (the binding domain).  Sources
    with zero/NULL mass or zero weight get rate 0.0 rather than
    poisoning the min (an empty source must not empty the mixture)."""
    feasible = [
        token_counts[s] / w
        for s, w in weights.items()
        if w > 0 and (token_counts.get(s) or 0) > 0
    ]
    if not feasible:
        return {s: 0.0 for s in weights}
    t = min(feasible)
    return {
        s: min(1.0, weights[s] * t / token_counts[s])
        if (token_counts.get(s) or 0) > 0
        else 0.0
        for s in weights
    }


def sample_mixture(
    docs: DataFrame,
    rates: dict[str, float],
    id_col: str = "doc_id",
    source_col: str = "source",
    seed: int = 0x31337,
) -> DataFrame:
    """Deterministic mixture sample: keep a doc iff its hash coin
    xxhash64(id, seed), mapped to [0,1), falls under its source's
    rate.  Unknown sources are dropped (rate 0).  Pure per-row filter:
    no shuffle, independent of partitioning, stable across reruns."""
    rate_expr = F.create_map(
        *[F.lit(x) for kv in rates.items() for x in kv]
    )[F.col(source_col)]
    # shiftrightunsigned keeps the coin non-negative without long
    # multiplication (ANSI invariant); 2^63 normalizer
    coin = (
        F.shiftrightunsigned(
            F.xxhash64(F.col(id_col).cast("long"), F.lit(seed)), 1
        ).cast("double")
        / F.lit(float(1 << 63))
    )
    return docs.filter(rate_expr.isNotNull() & (coin < rate_expr))


def mixture_plan(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    seed: int = 0x31337,
) -> DataFrame:
    """End-to-end accounting table: (source, n_docs, n_tokens, weight,
    keep_rate, n_sampled) — the audit artifact a mixture run ships.
    ``n_sampled`` counts the docs the deterministic sampler keeps."""
    stats = source_token_stats(docs, source_col, text_col)
    counts = {
        r["source"]: r["n_tokens"] for r in stats.collect()
    }  # one row per source — bounded, driver-side by design
    weights = temperature_weights(counts, alpha)
    rates = keep_rates(counts, weights)
    sampled = (
        sample_mixture(docs, rates, id_col, source_col, seed)
        .groupBy(F.col(source_col).alias("source"))
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    w = F.create_map(*[F.lit(x) for kv in weights.items() for x in kv])
    r = F.create_map(*[F.lit(x) for kv in rates.items() for x in kv])
    return (
        stats.join(sampled, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            # zero-mass sources are absent from the maps → report 0.0
            F.coalesce(F.round(w[F.col("source")], 6), F.lit(0.0)).alias(
                "weight"
            ),
            F.coalesce(F.round(r[F.col("source")], 6), F.lit(0.0)).alias(
                "keep_rate"
            ),
            F.coalesce(F.col("n_sampled"), F.lit(0)).alias("n_sampled"),
        )
    )
