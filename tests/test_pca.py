"""Embedding covariance (operators/pca.py) — exact covariance vs a
pure-Python scaled-long mirror, numpy agreement and layout
independence."""

from __future__ import annotations

import math

import numpy as np
import pytest

from org_revue_de_presse_trends_spark.operators.pca import (
    COORD_SCALE,
    PROD_SCALE,
    covariance_exact,
)


def _vectors(n: int, d: int = 6):
    """Deterministic pseudo-random vectors."""
    out = []
    for r in range(n):
        v = [
            math.sin(r * 37.1 + c * 11.3) * 0.4 for c in range(d)
        ]
        out.append([float(np.float32(x)) for x in v])
    return out


def _df(spark, vecs):
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )


def _py_cov_exact(vecs, d):
    """Mirror of covariance_exact's scaled-long recipe."""

    def rnd(x):  # round-half-away-from-zero like Spark/DuckDB ROUND
        return int(
            math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)
        )

    n = len(vecs)
    out = {}
    sx = [
        sum(rnd(float(v[i]) * COORD_SCALE) for v in vecs)
        for i in range(d)
    ]
    for i in range(d):
        for j in range(i, d):
            sxy = sum(
                rnd(float(v[i]) * float(v[j]) * PROD_SCALE)
                for v in vecs
            )
            exy = sxy / n / PROD_SCALE
            mi = sx[i] / n / COORD_SCALE
            mj = sx[j] / n / COORD_SCALE
            out[(i + 1, j + 1)] = (n, sxy, round(exy - mi * mj, 9))
    return out


class TestCovariance:
    def test_matches_python_mirror_exactly(self, spark):
        vecs = _vectors(40, d=6)
        got = {
            (r["i"], r["j"]): (r["n"], r["sxy_scaled"], r["cov"])
            for r in covariance_exact(_df(spark, vecs), dim=6).collect()
        }
        assert got == _py_cov_exact(vecs, 6)

    def test_close_to_numpy_cov(self, spark):
        vecs = _vectors(200, d=6)
        got = {
            (r["i"], r["j"]): r["cov"]
            for r in covariance_exact(_df(spark, vecs), dim=6).collect()
        }
        ref = np.cov(np.array(vecs, dtype=np.float64).T, bias=True)
        for (i, j), c in got.items():
            assert c == pytest.approx(ref[i - 1, j - 1], abs=1e-6)

    def test_layout_independent(self, spark):
        df = _df(spark, _vectors(60, d=5))
        a = sorted(map(tuple, covariance_exact(df, dim=5).collect()))
        b = sorted(
            map(
                tuple,
                covariance_exact(
                    df.repartition(7, "vec_id"), dim=5
                ).collect(),
            )
        )
        assert a == b
