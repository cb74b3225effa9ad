"""Z-order (Morton-curve) clustering for multi-dimensional data
skipping.

Partition pruning (lake.py) handles ONE axis; a reader filtering on
two independent columns still scans every file of the matching
partitions.  Writing each partition's rows ordered along a Z-curve
over the filter columns makes every output file cover a small
hyper-rectangle of the value space, so its parquet footer min/max
stats exclude it from most box queries — the mechanism behind Delta
Lake's OPTIMIZE ZORDER, applied here with plain open parquet.

The key is a pure per-row projection; a writer clusters by
``repartitionByRange`` on it (one range shuffle) and sorts within
partitions.  Readers need NO changes: Spark/DuckDB/Trino all
push min/max skipping down to parquet row groups natively; the curve
just makes those stats selective on BOTH columns at once.

Bucket edges come from the caller or a one-row min/max aggregate
(``linear_edges``).  Linear binning keeps the key monotone per
dimension but concentrates skewed columns into few cells.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def linear_edges(df: DataFrame, cols: list[str]) -> dict[str, tuple]:
    """(min, max) per column from ONE aggregate row."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}")]
    row = df.agg(*aggs).collect()[0]
    return {c: (row[f"__lo_{c}"], row[f"__hi_{c}"]) for c in cols}


def _cell_sql(col: str, e, bits: int) -> str:
    """SQL mapping one column to an integer cell in [0, 2**bits)."""
    lo, hi = float(e[0]), float(e[1])
    span = hi - lo if hi > lo else 1.0
    n = (1 << bits) - 1
    return (
        f"least(CAST({n} AS BIGINT), greatest(CAST(0 AS BIGINT), "
        f"CAST(floor((CAST(`{col}` AS DOUBLE) - {lo!r}D) / {span!r}D "
        f"* {n + 1}) AS BIGINT)))"
    )


def with_zorder_key(
    df: DataFrame,
    cols: list[str],
    edges: dict,
    bits: int = 8,
    out_col: str = "zkey",
) -> DataFrame:
    """All input columns plus ``out_col``: the Morton interleave of
    ``cols`` (bit j of column i lands at key position j*len(cols)+i).

    ``edges[c]`` is the ``(lo, hi)`` range binned linearly.  Cells are
    staged behind a projection boundary, then the k×bits shift fan is
    built as ONE parsed expression (the py4j plan-build tax).
    """
    k = len(cols)
    if k * bits > 62:
        raise ValueError("k * bits must fit a signed 64-bit key")
    staged = df.select(
        *df.columns,
        *[
            F.expr(_cell_sql(c, edges[c], bits)).alias(f"__zc{i}")
            for i, c in enumerate(cols)
        ],
    )
    terms = " + ".join(
        f"shiftleft(shiftright(`__zc{i}`, {j}) & CAST(1 AS BIGINT), "
        f"{j * k + i})"
        for i in range(k)
        for j in range(bits)
    )
    return staged.select(*df.columns, F.expr(terms).alias(out_col))
