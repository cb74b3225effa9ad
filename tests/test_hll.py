"""HyperLogLog sketches (operators/hll.py) — register exactness vs a
pure-Python md5 reference, the union≡merge property, estimator
accuracy in both regimes, and layout independence."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from org_revue_de_presse_trends_spark.operators.hll import (
    hll_distinct,
    hll_estimate,
    hll_registers,
)


def _py_registers(values, p=8):
    w = 60 - p
    regs = {}
    for v in values:
        h = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
        b = h >> w
        rem = h % (1 << w)
        rho = (w + 1) if rem == 0 else (w + 1) - rem.bit_length()
        regs[b] = max(regs.get(b, 0), rho)
    return regs


def _one_group(df, values, label="g"):
    return df.sparkSession.createDataFrame(
        [(label, v) for v in values], "grp string, v long"
    )


class TestRegisters:
    def test_registers_match_python_md5(self, spark):
        vals = list(range(500))
        df = spark.createDataFrame(
            [("g", v) for v in vals], "grp string, v long"
        )
        got = {
            r["bucket"]: r["r"]
            for r in hll_registers(df, ["grp"], "v", p=8).collect()
        }
        assert got == _py_registers(vals, p=8)

    def test_layout_independent(self, spark):
        df = spark.createDataFrame(
            [("g", v) for v in range(300)], "grp string, v long"
        )
        a = sorted(
            map(tuple, hll_registers(df, ["grp"], "v").collect())
        )
        b = sorted(
            map(
                tuple,
                hll_registers(df.repartition(7, "v"), ["grp"], "v").collect(),
            )
        )
        assert a == b

    def test_p_bounds(self, spark):
        df = spark.createDataFrame([("g", 1)], "grp string, v long")
        with pytest.raises(ValueError):
            hll_registers(df, ["grp"], "v", p=3)
        with pytest.raises(ValueError):
            hll_registers(df, ["grp"], "v", p=11)


class TestMerge:
    def test_union_equals_merge(self, spark):
        """Register tables merge by UNION ALL + per-bucket MAX: the
        merge of two sketches is the sketch of the union."""
        a_vals = list(range(0, 800))
        b_vals = list(range(400, 1300))  # overlapping halves
        a = _one_group(
            spark.createDataFrame([(1,)], "x int"), a_vals
        )
        b = _one_group(
            spark.createDataFrame([(1,)], "x int"), b_vals
        )
        both = a.unionByName(b)
        merged = sorted(
            map(
                tuple,
                hll_registers(a, ["grp"], "v")
                .unionByName(hll_registers(b, ["grp"], "v"))
                .groupBy("grp", "bucket")
                .agg(F.max("r").alias("r"))
                .collect(),
            )
        )
        direct = sorted(
            map(tuple, hll_registers(both, ["grp"], "v").collect())
        )
        assert merged == direct


class TestEstimate:
    def test_raw_regime_accuracy(self, spark):
        # 5000 distinct values with duplicates — well above 2.5*m=640,
        # so est_corrected == hll_estimate (raw) and both are within
        # 3 sigma = 3*1.04/sqrt(256) ~ 19.5% of truth
        vals = [v % 5000 for v in range(12000)]
        df = _one_group(spark.createDataFrame([(1,)], "x int"), vals)
        row = hll_distinct(df, ["grp"], "v", p=8).collect()[0]
        assert row["hll_estimate"] == row["est_corrected"]
        assert abs(row["hll_estimate"] - 5000) / 5000 < 0.195
        # the indicator sum is the exact integer the registers imply
        regs = _py_registers(set(vals), p=8)
        z = sum(1 << (53 - r) for r in regs.values())
        z += (256 - len(regs)) * (1 << 53)
        assert row["hll_zscaled"] == z
        assert row["hll_buckets_used"] == len(regs)

    def test_small_range_linear_counting(self, spark):
        # 100 distinct values: raw HLL biases high below 2.5*m; the
        # corrected estimate must take the linear-counting branch and
        # land much closer
        df = _one_group(
            spark.createDataFrame([(1,)], "x int"), range(100)
        )
        row = hll_distinct(df, ["grp"], "v", p=8).collect()[0]
        v_empty = 256 - row["hll_buckets_used"]
        expected = 256.0 * math.log(256.0 / v_empty)
        assert row["est_corrected"] == pytest.approx(expected, rel=1e-12)
        # one fixed deterministic draw: lands at 110.9 (~2.3 sigma of
        # linear counting's ~4.7% sigma at n=100, m=256)
        assert abs(row["est_corrected"] - 100) / 100 < 0.15

    def test_grouped_estimates_independent(self, spark):
        # two groups sharing values must sketch independently
        rows = [("a", v) for v in range(1000)] + [
            ("b", v) for v in range(200)
        ]
        df = spark.createDataFrame(rows, "grp string, v long")
        est = {
            r["grp"]: r
            for r in hll_estimate(
                hll_registers(df, ["grp"], "v"), ["grp"]
            ).collect()
        }
        ra = _py_registers(range(1000))
        rb = _py_registers(range(200))
        assert est["a"]["hll_buckets_used"] == len(ra)
        assert est["b"]["hll_buckets_used"] == len(rb)
        assert est["a"]["hll_estimate"] > est["b"]["hll_estimate"]
