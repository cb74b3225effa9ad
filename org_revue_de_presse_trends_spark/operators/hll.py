"""HyperLogLog distinct-count sketches — the mergeable cardinality
estimator completing the sketch family (operators/kmv.py overlap,
operators/cms.py frequency, operators/bloom.py membership).

Flajolet-Meric-Fusy-Gandouet 2007 ("HyperLogLog: the analysis of a
near-optimal cardinality estimation algorithm", AofA'07), with the
linear-counting small-range correction from the same paper.  Spark's
built-in ``approx_count_distinct`` is HLL++ but its register state is
opaque and engine-specific; this implementation keeps the registers as
a plain DataFrame of exact integers so that

- sketches MERGE by ``UNION ALL + MAX`` (the property that matters at
  100 TB: per-partition register tables combine map-side, per-day
  sketches roll up to per-month without rescanning, and a sketch is
  ≤ m rows per group no matter how many rows produced it), and
- the raw estimator is reproducible VALUE-EXACTLY by any engine:
  the hash is the base-16 value of the first 15 md5 hex chars (60
  bits — the ``dsir.bucket_of`` / ``kmv.kmv_hash`` discipline), the
  register sum is carried as the exact BIGINT ``sum(2**(w+1-r))``
  (every term a power of two, max ``m * 2**(w+1)`` < 2**63 for
  p ≤ 10), and the only floating-point steps are one literal-parsed
  scale constant, one IEEE division, and a ROUND(…, 3) that Spark and
  DuckDB agree on (both round half away from zero — CLAUDE.md probe).

Cross-engine determinism is why the ORACLED estimate is the raw HLL
formula: the small-range correction needs ``m * ln(m/V)`` and libm
``log`` is not bit-pinned across JVM/DuckDB, so ``hll_estimate``
returns BOTH ``hll_estimate`` (raw, oracled) and ``est_corrected``
(linear counting below the 2.5·m threshold — the estimate a user
should read; golden-pinned in tests, never hash-compared).

No reference-repo counterpart: the reference (trends.go) delegates
COUNT(DISTINCT) to Postgres; this is the sketch path a 100 TB corpus
needs instead of a full distinct exchange.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: hex chars of the md5 prefix → 60-bit hash space
_HEX_CHARS = 15
_HASH_BITS = 4 * _HEX_CHARS


def _alpha(m: int) -> float:
    """Bias-correction constant α_m (Flajolet et al. 2007, Fig. 3)."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_hash(col) -> F.Column:
    """60-bit cross-engine hash: base-16 value of the first 15 md5 hex
    chars (< 2**60, no ANSI overflow; DuckDB mirror is the strpos
    hex-decode arithmetic widened to 15 chars)."""
    return F.conv(F.substring(F.md5(col), 1, _HEX_CHARS), 16, 10).cast(
        "long"
    )


def hll_registers(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    p: int = 8,
) -> DataFrame:
    """Register table: one row per (group, bucket) with the max rank
    ``r`` — (group_cols…, bucket INT, r INT), at most ``2**p`` bucket
    rows per group regardless of input size.

    bucket = the top ``p`` hash bits; r = 1 + leading zeros of the
    remaining ``w = 60 - p`` bits (rank of the first 1-bit), so
    r ∈ [1, w+1].  The rank comes from ``length(bin(rem))`` — both
    Spark and DuckDB render minimal-width binary — with the rem = 0
    edge pinned to w+1.

    Map-side combinable: ``groupBy().max()`` partial-aggregates before
    the shuffle, so the exchange carries ≤ m rows per group per task.
    """
    if not 4 <= p <= 10:
        raise ValueError(f"p must be in [4, 10], got {p}")
    w = _HASH_BITS - p
    rem_mod = 1 << w
    rho_max = w + 1
    h = hll_hash(F.col(value_col).cast("string"))
    rem = h % F.lit(rem_mod)
    rho = (
        F.when(rem == 0, F.lit(rho_max))
        .otherwise(F.lit(rho_max) - F.length(F.bin(rem)))
        .cast("int")
    )
    proj = df.select(
        *group_cols,
        # top p bits via an exact shift — long/long `/` is DOUBLE
        # division in Spark and h > 2**53 would lose low bits first
        F.shiftright(h, w).cast("int").alias("bucket"),
        rho.alias("_rho"),
    )
    return proj.groupBy(*group_cols, "bucket").agg(
        F.max("_rho").alias("r")
    )


def hll_estimate(
    reg: DataFrame, group_cols: Sequence[str], p: int = 8
) -> DataFrame:
    """Estimates from a register table: (group_cols…,
    hll_buckets_used BIGINT, hll_zscaled BIGINT, hll_estimate DOUBLE,
    est_corrected DOUBLE).

    ``hll_zscaled`` is the exact-integer indicator sum
    ``sum_j 2**(rho_max - M[j])`` with absent buckets contributing
    ``2**rho_max`` each; ``hll_estimate`` is the raw HLL formula
    ``α_m · m² · 2**rho_max / zscaled`` rounded to 3 decimals — one
    literal constant, one IEEE division, reproducible value-exactly in
    any engine.  ``est_corrected`` applies linear counting
    ``m · ln(m / V)`` when the raw estimate is ≤ 2.5·m and empty
    buckets remain (the small-range regime where the raw formula
    biases high) — libm ln, so NOT oracle-hashable; golden-pinned in
    tests instead."""
    m = 1 << p
    w = _HASH_BITS - p
    rho_max = w + 1
    # α·m²·2**rho_max as ONE Python-computed literal: both engines
    # parse the same shortest-repr decimal to the same double, so the
    # only cross-engine float ops are a division and a round.
    scale = _alpha(m) * float(m) * float(m) * float(1 << rho_max)
    per_group = reg.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("hll_buckets_used"),
        F.sum(F.expr(f"cast(power(2, {rho_max} - r) as bigint)")).alias(
            "_z_present"
        ),
    )
    z = (
        F.col("_z_present")
        + (F.lit(m) - F.col("hll_buckets_used")) * F.lit(1 << rho_max)
    ).cast("long")
    raw = F.round(F.lit(scale) / z.cast("double"), 3)
    v = F.lit(m) - F.col("hll_buckets_used")  # empty buckets
    corrected = F.when(
        (raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(raw)
    return per_group.select(
        *group_cols,
        "hll_buckets_used",
        z.alias("hll_zscaled"),
        raw.alias("hll_estimate"),
        corrected.alias("est_corrected"),
    )


def hll_distinct(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    p: int = 8,
) -> DataFrame:
    """Sketch-estimated COUNT(DISTINCT value_col) per group — the one
    call a user reaches for.  Two narrow aggregates; the shuffle
    payload is ≤ 2**p register rows per group, never the distinct
    value stream (a COUNT(DISTINCT) at 100 TB exchanges every distinct
    key; this exchanges ≤ m ints per group per task)."""
    return hll_estimate(
        hll_registers(df, group_cols, value_col, p=p), group_cols, p=p
    )
