"""Z-order (Morton) keys (sources/zorder.py)."""

from __future__ import annotations

from org_revue_de_presse_trends_spark.sources.zorder import with_zorder_key


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
