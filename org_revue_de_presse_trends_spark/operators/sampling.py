"""Deterministic stratified sampling / eval-set carving.

The pipeline op this covers: "carve exactly N documents for an eval
set, apportioned across sources proportionally" — the step between
split assignment (operators/splits.py, fraction-based and therefore
only approximately sized) and packing.  Everything here is a pure
function of row ids, so a carve is reproducible across reruns,
cluster layouts, and engines:

- **order coin** — rows are ranked inside a stratum by the 60-bit
  md5 bucket of ``'s<seed>:' || id`` (``urls.md5_bucket_sql``, the
  dsir/kmv recipe).  md5 per seed, never an affine shift of one hash:
  the r7b lesson — ``splits.hash_coin``'s (id+seed) argument
  shift-correlates coins across seeds, collapsing multi-seed designs.
- **largest-remainder (Hamilton) apportionment** — per-stratum quotas
  ``floor(N·c/T)`` plus one for the R largest remainders, all in
  exact DECIMAL(38,0)/HUGEINT integer arithmetic (N·c overflows
  BIGINT already at N=10⁹ on a 10¹²-row corpus), tie-broken by
  stratum so the quota table is a deterministic function of the
  counts.  For N ≤ T quotas are always feasible (floor(N·c/T) < c
  strictly when N < T, so base+1 ≤ c); for N > T the per-stratum
  row_number cap simply returns every row.

Scale shape: the quota table is |strata|-sized (one map-side-combined
count + two windows over |strata| rows); the carve is one broadcast
join + one per-stratum row_number window — the stratum is the window
partition key, so no single-partition stage exists at any corpus
size.  Skew bound: the largest stratum's rank window, linear in its
row count (the same bound a per-stratum top-k has).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .urls import md5_bucket_sql

_ENG = {
    "spark": {"str": "STRING", "dec": "DECIMAL(38,0)", "idiv": "div"},
    "duckdb": {"str": "VARCHAR", "dec": "HUGEINT", "idiv": "//"},
}


def sample_order_sql(engine: str, id_expr: str, seed: int = 0) -> str:
    """60-bit md5 order key over ``'s<seed>:' || id`` — the
    layout-independent, seed-independent (r7b) ranking coin."""
    e = _ENG[engine]
    return md5_bucket_sql(
        engine, f"('s{int(seed)}:' || CAST({id_expr} AS {e['str']}))", 15
    )


def _quota_exprs(engine: str, strata_cols: list[str], n_total: int):
    """The shared Hamilton-apportionment expression texts (one
    template, two engines — the urls.py cross-engine discipline)."""
    e = _ENG[engine]
    n = f"CAST({int(n_total)} AS {e['dec']})"
    t = f"SUM(CAST(c AS {e['dec']})) OVER ()"
    prod = f"({n} * CAST(c AS {e['dec']}))"
    strata = ", ".join(strata_cols)
    return {
        "base": f"{prod} {e['idiv']} {t} AS base",
        "rem": f"{prod} % {t} AS rem",
        "sum_base": "SUM(base) OVER () AS sum_base",
        "rk": f"ROW_NUMBER() OVER (ORDER BY rem DESC, {strata}) AS rk",
        "quota": (
            f"CAST(base + (CASE WHEN rk <= {n} - sum_base"
            " THEN 1 ELSE 0 END) AS BIGINT) AS quota"
        ),
    }


def apportioned_quotas(
    df: DataFrame, strata_cols: list[str], n_total: int
) -> DataFrame:
    """(strata..., c, quota): per-stratum target counts summing to
    exactly ``min(n_total, total_rows)`` by largest-remainder
    apportionment — exact integer arithmetic end to end."""
    if n_total < 0:
        raise ValueError("n_total must be >= 0")
    x = _quota_exprs("spark", strata_cols, n_total)
    counts = df.groupBy(*strata_cols).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    return (
        counts.selectExpr(*strata_cols, "c", x["base"], x["rem"])
        .selectExpr(*strata_cols, "c", "base", x["sum_base"], x["rk"])
        .selectExpr(*strata_cols, "c", x["quota"])
    )


def eval_carve(
    df: DataFrame,
    strata_cols: list[str],
    n_total: int,
    id_col: str,
    seed: int = 0,
) -> DataFrame:
    """Carve exactly ``min(n_total, |df|)`` rows, apportioned across
    strata by largest remainder and picked inside each stratum by the
    md5 order coin — the deterministic eval-set carve.  Returns the
    input columns of the selected rows."""
    quotas = apportioned_quotas(df, strata_cols, n_total).select(
        *strata_cols, "quota"
    )
    ok = sample_order_sql("spark", id_col, seed)
    strata = ", ".join(strata_cols)
    return (
        df.join(F.broadcast(quotas), strata_cols)
        .selectExpr(
            "*",
            f"ROW_NUMBER() OVER (PARTITION BY {strata}"
            f" ORDER BY {ok}, {id_col}) AS __rn",
        )
        .filter(F.col("__rn") <= F.col("quota"))
        .drop("__rn", "quota")
    )


def eval_carve_oracle_sql(
    engine: str,
    strata_cols: list[str],
    n_total: int,
    id_col: str,
    table_sql: str,
    out_cols: list[str],
    seed: int = 0,
) -> str:
    """The whole carve as one SQL string (both engines; the DuckDB
    form is the oracle, the Spark form pins template equivalence)."""
    x = _quota_exprs(engine, strata_cols, n_total)
    ok_src = sample_order_sql(engine, f"src.{id_col}", seed)
    strata = ", ".join(strata_cols)
    strata_src = ", ".join(f"src.{c}" for c in strata_cols)
    join_on = " AND ".join(f"src.{c} = quotas.{c}" for c in strata_cols)
    outs = ", ".join(out_cols)
    return f"""
    WITH src AS ({table_sql}),
    counts AS (
        SELECT {strata}, CAST(COUNT(*) AS BIGINT) AS c
        FROM src GROUP BY {strata}
    ),
    staged AS (
        SELECT {strata}, c, {x['base']}, {x['rem']} FROM counts
    ),
    ranked AS (
        SELECT {strata}, c, base, {x['sum_base']}, {x['rk']} FROM staged
    ),
    quotas AS (
        SELECT {strata}, {x['quota']} FROM ranked
    ),
    ordered AS (
        SELECT src.*, quota,
               ROW_NUMBER() OVER (PARTITION BY {strata_src}
                                  ORDER BY {ok_src}, src.{id_col}) AS rn
        FROM src JOIN quotas ON {join_on}
    )
    SELECT {outs} FROM ordered WHERE rn <= quota
    """
