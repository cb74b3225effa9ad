"""Deterministic dataset splits.

The last mile of a training-data pipeline: carve the corpus into
train/val/test.  The assignment is a pure per-row hash function of the
document id — layout-independent, rerun-stable, no RNG state (the
packing/mixing determinism invariant, CLAUDE.md) — so a regenerated
pipeline or a repartitioned input can never migrate a document across
splits, which would leak eval data into training.

The split coin reuses the Knuth multiplicative-hash construction from
the weighted sampler (plans/analytics_ext.doc_weighted_sample):
u = ((((id + seed) mod 2^31) * 2654435761) mod 2^32 + 0.5) / 2^32 —
integer ops plus one divide, bit-identical in any engine, so the
driver's DuckDB oracle reproduces assignments exactly.  The id is
reduced mod 2^31 BEFORE the multiply: the product stays < 2^63 for
every long id (ANSI overflow is impossible by construction).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_KNUTH = 2654435761


def hash_coin(id_col: Column, seed: int = 0) -> Column:
    """Uniform double in (0,1) from a row id — the cross-engine
    deterministic coin (see module docstring)."""
    return (
        F.pmod(
            F.pmod(id_col.cast("long") + F.lit(int(seed)), F.lit(1 << 31))
            * F.lit(_KNUTH),
            F.lit(1 << 32),
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 32))


def coin_sql(id_expr: str, seed: int = 0) -> str:
    """The exact SQL text of :func:`hash_coin` for DuckDB oracles."""
    return (
        f"(CAST(((({id_expr} + {int(seed)}) % 2147483648 + 2147483648) "
        f"% 2147483648 * {_KNUTH}) % 4294967296 AS DOUBLE) + 0.5) "
        f"/ 4294967296.0"
    )


def assign_split(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    seed: int = 0,
    out_col: str = "split",
) -> DataFrame:
    """Add a ``split`` column assigning each row to one named split
    with the given probabilities (they must sum to ~1).

    Assignment is a single hash coin against the cumulative weight
    boundaries — per-row, shuffle-free, and stable: adding documents,
    changing partitioning, or re-running never moves an existing id
    between splits (the property that keeps eval sets leak-free as a
    corpus grows)."""
    total = sum(weights.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split weights sum to {total}, expected 1")
    if not weights:
        raise ValueError("at least one split required")
    coin = hash_coin(F.col(id_col), seed)
    names = list(weights)
    expr = F.lit(names[-1])  # remainder absorbs rounding
    acc = 0.0
    cases = []
    for name in names[:-1]:
        acc += weights[name]
        cases.append((acc, name))
    for bound, name in reversed(cases):
        expr = F.when(coin < F.lit(bound), F.lit(name)).otherwise(expr)
    return df.withColumn(out_col, expr)


def split_case_sql(
    weights: dict[str, float], id_expr: str, seed: int = 0
) -> str:
    """DuckDB CASE text mirroring :func:`assign_split` exactly."""
    coin = coin_sql(id_expr, seed)
    names = list(weights)
    acc = 0.0
    parts = ["CASE"]
    for name in names[:-1]:
        acc += weights[name]
        parts.append(f"WHEN {coin} < {acc!r} THEN '{name}'")
    parts.append(f"ELSE '{names[-1]}' END")
    return " ".join(parts)
