"""Z-order (Morton) keys and their bucket edges (sources/zorder.py)."""

from __future__ import annotations

from org_revue_de_presse_trends_spark.sources.zorder import (
    linear_edges,
    quantile_edges,
    with_zorder_key,
)


def _morton_ref(cells: list[int], bits: int) -> int:
    k = len(cells)
    z = 0
    for i, c in enumerate(cells):
        for j in range(bits):
            z |= ((c >> j) & 1) << (j * k + i)
    return z


def test_interleave_known_vectors(spark):
    rows = [(x, y) for x in range(4) for y in range(4)]
    df = spark.createDataFrame(rows, "x long, y long")
    out = with_zorder_key(
        df, ["x", "y"], {"x": (0, 3), "y": (0, 3)}, bits=2
    )
    got = {(r["x"], r["y"]): r["zkey"] for r in out.collect()}
    for x, y in rows:
        assert got[(x, y)] == _morton_ref([x, y], 2), (x, y)


def test_quantile_edges_spread_skewed_column(spark):
    # power-law column: linear binning crams everything into cell 0
    rows = [(i, float(2 ** (i % 20))) for i in range(2000)]
    df = spark.createDataFrame(rows, "i long, v double")
    lin = with_zorder_key(df, ["v"], linear_edges(df, ["v"]), bits=4)
    qed = with_zorder_key(
        df, ["v"], quantile_edges(df, ["v"], bits=4), bits=4
    )
    n_lin = lin.select("zkey").distinct().count()
    n_q = qed.select("zkey").distinct().count()
    assert n_q >= 12  # quantile cells cover most of the 16 slots
    assert n_lin <= 6  # linear binning collapses the power-law head
