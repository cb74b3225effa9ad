"""Exact covariance of an embedding column — the second-moment
statistic behind PCA whitening in front of clustering, IVF and
semantic dedup.

``covariance_exact`` is value-identical in any engine: per-row
products are rounded to scaled longs (coordinate scale 10⁶, product
scale 10¹² = its square), the reduces are exact integer sums, and the
final covariance is one pinned IEEE expression over those sums, at any
partitioning (plans/retrieval_ext.embedding_pca_covariance oracles it
in DuckDB).  Cost is n·d²/2 expanded rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: coordinate / product fixed-point scales (product scale is the
#: square of the coordinate scale so means multiply consistently)
COORD_SCALE = 10**6
PROD_SCALE = COORD_SCALE**2


def covariance_exact(
    emb: DataFrame,
    dim: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-by-construction covariance entries for the upper
    triangle: (i, j, n, sxy_scaled BIGINT, cov DOUBLE) with
    1 ≤ i ≤ j ≤ dim.

    ``sxy_scaled = Σ round(xᵢ·xⱼ·10¹²)`` is an exact long;
    ``cov = round(sxy/(n·10¹²) − (sxᵢ/(n·10⁶))·(sxⱼ/(n·10⁶)), 9)``
    is one pinned expression tree over exact integers — IEEE-identical
    cross-engine.  Exactness budget: |x| ≤ 1 keeps each term ≤ 10¹²,
    so sums are exact up to ~9·10⁶ rows; larger corpora should lower
    the scales.

    Rows must carry exactly ``dim`` coordinates — under ANSI mode a
    shorter array fails loudly instead of silently truncating."""
    # one parsed expression for the whole i≤j fan (the py4j plan-build
    # tax rule): nested transform over index sequences touches the
    # primitive float array via element_at only
    terms = F.expr(
        f"""flatten(transform(sequence(1, {dim}), i ->
            transform(sequence(i, {dim}), j ->
              named_struct('i', i, 'j', j, 't',
                cast(round(cast(element_at({vec_col}, i) as double)
                           * cast(element_at({vec_col}, j) as double)
                           * {float(PROD_SCALE)!r}, 0) as bigint)))))"""
    )
    sxy = (
        emb.select(F.explode(terms).alias("e"))
        .select("e.i", "e.j", "e.t")
        .groupBy("i", "j")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("t").alias("sxy_scaled"),
        )
    )
    coord = F.expr(
        f"""transform(sequence(1, {dim}), i ->
              named_struct('i', i, 's',
                cast(round(cast(element_at({vec_col}, i) as double)
                           * {float(COORD_SCALE)!r}, 0) as bigint)))"""
    )
    sx = (
        emb.select(F.explode(coord).alias("c"))
        .select("c.i", "c.s")
        .groupBy("i")
        .agg(F.sum("s").alias("sx"))
    )
    n = F.col("n").cast("double")
    mean_i = F.col("a.sx").cast("double") / n / F.lit(float(COORD_SCALE))
    mean_j = F.col("b.sx").cast("double") / n / F.lit(float(COORD_SCALE))
    exy = F.col("sxy_scaled").cast("double") / n / F.lit(float(PROD_SCALE))
    return (
        sxy.join(F.broadcast(sx.alias("a")), sxy.i == F.col("a.i"))
        .join(F.broadcast(sx.alias("b")), sxy.j == F.col("b.i"))
        .select(
            sxy.i.alias("i"),
            sxy.j.alias("j"),
            "n",
            "sxy_scaled",
            F.round(exy - mean_i * mean_j, 9).alias("cov"),
        )
    )
