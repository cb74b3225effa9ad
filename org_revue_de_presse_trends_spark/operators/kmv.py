"""KMV (k-minimum-values) distinct sketches for cross-group set
overlap — the one-pass scale path for "how much do corpora overlap"
questions that ``source_ngram_overlap`` answers exactly with a
|groups|²-output shingle self-join.

A KMV sketch keeps the k smallest hash values of a set (Bar-Yossef et
al., "Counting distinct elements in a data stream", RANDOM'02;
Beyer et al. SIGMOD'07 for the Jaccard/union estimators — public
algorithms).  Jaccard between two sets is estimated from the k-min of
the MERGED sketches: J ≈ |M ∩ A ∩ B| / |M| with M the k smallest of
A ∪ B — and is EXACT whenever |A ∪ B| ≤ k (the sketch then holds the
whole hash set).

Cross-engine determinism: hashes are the base-16 value of the first
12 md5 hex chars (48 bits — the ``dsir.bucket_of`` discipline, widened
so collisions are ~|set|²/2⁴⁸), reproducible in DuckDB via strpos
arithmetic; estimates are integer/integer divisions.

Scale shape (100 TB): one shingling pass, distinct (group, hash),
then a TWO-PHASE k-min — partial k-min per (group, pmod(h, bins))
bucket (uniform by construction: the bin is a function of the hash,
never the layout), final k-min over ≤ bins×k survivors — so no window
ever sees a group's full distinct-hash stream.  Pair estimation runs
on |groups| rows of k longs: broadcast-joinable at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T


def kmv_hash(col: Column) -> Column:
    """48-bit cross-engine hash: base-16 value of the first 12 md5 hex
    chars (DuckDB mirror: strpos hex-decode arithmetic)."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


def kmv_sketches(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    k: int = 256,
    kgram: int = 3,
    bins: int = 64,
) -> DataFrame:
    """(group, hs: array<long> ascending, |hs| ≤ k) — the k smallest
    distinct k-gram shingle hashes per group."""
    staged = T.with_shingles(
        df.select(F.col(group_col).alias("grp"), F.col(text_col)),
        text_col, "__sh", kgram,
    )
    ex = (
        staged.select("grp", F.explode("__sh").alias("shingle"))
        .select("grp", kmv_hash(F.col("shingle")).alias("h"))
        .distinct()
    )
    # two-phase k-min: hash-binned partials bound every window
    # partition at the partial stage; the final window sees ≤ bins×k
    w1 = Window.partitionBy("grp", F.pmod(F.col("h"), F.lit(bins))).orderBy("h")
    part = (
        ex.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
    w2 = Window.partitionBy("grp").orderBy("h")
    kept = (
        part.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
    return kept.groupBy("grp").agg(
        F.sort_array(F.collect_list("h")).alias("hs")
    )


def kmv_jaccard_pairs(sketches: DataFrame, k: int = 256) -> DataFrame:
    """All group pairs with the KMV Jaccard estimate:
    (group_a, group_b, n_union_kmin, n_both, est_jaccard) where
    est_jaccard = |M ∩ A ∩ B| / |M|, M the k smallest of A ∪ B —
    exact when the union fits in k.  Integer/integer double division:
    cross-engine exact."""
    a = sketches.select(
        F.col("grp").alias("group_a"), F.col("hs").alias("ha")
    )
    b = sketches.select(
        F.col("grp").alias("group_b"), F.col("hs").alias("hb")
    )
    pairs = a.join(b, F.col("group_a") < F.col("group_b"))
    merged = F.slice(
        F.array_sort(F.array_union(F.col("ha"), F.col("hb"))), 1, k
    )
    both = F.array_intersect(F.col("ha"), F.col("hb"))
    n_union = F.size(merged)
    n_both = F.size(F.array_intersect(merged, both))
    return pairs.select(
        "group_a",
        "group_b",
        n_union.cast("long").alias("n_union_kmin"),
        n_both.cast("long").alias("n_both"),
        (n_both.cast("double") / n_union.cast("double")).alias(
            "est_jaccard"
        ),
    )
