"""Deduplication operators for the LLM-data-pipeline surface.

Five strategies, all shuffle-shaped for 100 TB (no pairwise cross
product anywhere; candidate generation is always an equi-join on a
bucket key):

- exact          : fingerprint groupBy (one shuffle on a 128-bit key)
- ngram_jaccard  : exact Jaccard over k-shingle sets for candidate
                   pairs that share a blocking key (caller-chosen; at
                   scale, an LSH band key)
- minhash_lsh    : MinHash signatures + LSH banding → candidates share
                   a band bucket → verify with signature similarity
- simhash        : 64-bit SimHash, candidates within hamming radius via
                   band blocking on 16-bit chunks
- embedding      : cosine near-dup over embedding column (bucketed by
                   coarse quantization, verified exactly)
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions import text as T
from ..functions import vectors as V
from .skew import spread_for_cpu


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One surviving row per distinct normalized text: the min id wins;
    ``dup_count`` reports group size.  Single hash-aggregate shuffle on
    the md5 fingerprint."""
    return (
        df.select(
            T.fingerprint(F.col(text_col)).alias("fp"), F.col(id_col).cast("long")
        )
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def shingle_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: list[str] | None = None,
    k: int = 3,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Shared candidate-pair machinery for the exact set-similarity
    family: (id_a, id_b, n_a, n_b, n_inter) with id_a < id_b over the
    distinct-k-shingle representation, stop-shingles df-capped before
    the self-join.  ``shingle_pairs_jaccard`` / ``shingle_pairs_overlap``
    are measures over this one pair stream.

    Explode distinct k-shingles, equi-join on (block, shingle) to count
    intersections.  The blocking columns bound the candidate set; at
    100 TB use an LSH band key as the block (see ``minhash_lsh_pairs``)
    — the join stays equi-shaped either way.

    ``max_shingle_df`` (default on) drops stop-shingles — shingles whose
    document frequency within a block exceeds the cap — from the
    representation BEFORE the self-join: a shingle present in 10⁴ docs
    of one block would otherwise emit ~10⁸/2 candidate rows on its own.
    Similarity is then computed over the filtered shingle sets (both the
    intersection and the set sizes exclude capped shingles), keeping it
    a true measure of the stop-filtered representation.  Pass ``None``
    to disable.
    """
    block_cols = block_cols or []
    pre = df.select(
        F.col(id_col).cast("long").alias("id"),
        *[F.col(c) for c in block_cols],
        F.col(text_col),
    )
    # Null id/block rows can never appear in the output (the self-join
    # and both size-attach joins are inner, and NULL never equi-joins),
    # so drop them EXPLICITLY before the explode: the optimizer infers
    # isnotnull(block) onto the JOIN sides' scans but not onto the
    # sizes branch, which makes the two subtrees canonically different
    # and defeats AQE exchange reuse — measured at sf0.1 (r12): the
    # exploded map stage materialized TWICE (two 1-task 5.9 MB shuffle
    # writes); with the pre-filter every reference of the exploded
    # stream reuses ONE materialized exchange (plan: 2 ShuffleQueryStage
    # on the explode subtree -> 1 + ReusedExchange).  Output-identical
    # unless ``max_shingle_df`` is set and the input holds NULL ids or
    # blocks: those rows no longer count towards a shingle's document
    # frequency, so a shingle at the cap boundary can move below it.
    notnull = F.col("id").isNotNull()
    for c in block_cols:
        notnull = notnull & F.col(c).isNotNull()
    pre = pre.where(notnull)
    # Re-measured dead end (r12, after the reuse fix changed the plan
    # structure): spread_for_cpu on `pre` — the single materialization
    # made the 1-task scan+shingle+explode map stage look like the
    # critical path, but interleaved best-of-8 still reads plain min
    # 1.266 / spread min 1.382 at sf0.1 (r10b's loss reproduces; the
    # round-robin exchange of the raw docs costs more than the map
    # pass it parallelizes, and the window exchange's reducers overlap
    # the map stage anyway).  Don't retry.
    staged = T.with_shingles(pre, text_col, "__sh", k)
    ex = staged.select(
        "id", *block_cols, F.explode("__sh").alias("shingle")
    )
    if max_shingle_df is not None:
        # df-count via window on the join key itself, in the join's key
        # ORDER so the exchange it introduces is the very partitioning
        # the self-join consumes (exchange reuse across both sides);
        # a stop-shingle's window partition is df rows — linear, unlike
        # the df² join output
        w_df = Window.partitionBy("shingle", *block_cols)
        ex = (
            ex.withColumn("_df", F.count(F.lit(1)).over(w_df))
            .filter(F.col("_df") <= max_shingle_df)
            .drop("_df")
        )
    # Pair intersection counts FIRST (the big shuffle, straight off the
    # capped explode), set sizes attached AFTERWARDS onto the far
    # smaller doc-level / pair-level tables — computing n_sh as an
    # id-window before the join would re-partition the exploded rows by
    # id and force both join sides to recompute everything.  Shingles
    # are distinct per doc, so a row count is the set size.
    # Dead end (r11 group mode, r12 window-free group mode): collecting
    # each shingle's id list and expanding C(df,2) pairs with a HOF
    # instead of the self-join.  Output identical; r11 measured a 5-7%
    # local win but a df-capped shingle becomes C(cap,2) structs in ONE
    # value; r12's memory-bounded variant lost outright at sf0.1
    # (join med 1.256 s vs group med 1.704 s) once the window exchange
    # was reused.  Don't retry without a different sizes story.
    a, b = ex.alias("a"), ex.alias("b")
    join_cond = F.col("a.shingle") == F.col("b.shingle")
    for c in block_cols:
        join_cond = join_cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    inter = (
        a.join(b, join_cond & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = ex.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    return (
        inter.join(sizes.select(F.col("id").alias("id_a"),
                                F.col("n_sh").alias("n_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"),
                           F.col("n_sh").alias("n_b")), "id_b")
    )


def shingle_pairs_jaccard(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: list[str] | None = None,
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs within blocking groups:
    |A∩B| / (|A| + |B| - |A∩B|) over ``shingle_pair_counts``.
    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    """
    inter = shingle_pair_counts(
        df, text_col, id_col, block_cols, k, max_shingle_df
    )
    return inter.select(
        "id_a",
        "id_b",
        (
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def shingle_pairs_overlap(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: list[str] | None = None,
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Overlap-coefficient (containment) near-dup pairs:
    |A∩B| / min(|A|, |B|) over the same ``shingle_pair_counts`` stream.

    Asymmetric-duplication detector: a short document wholly contained
    in a longer one scores 1.0 here but low Jaccard — the measure used
    for sub-document / quote dedup (Broder's containment, "On the
    resemblance and containment of documents", SEQUENCES'97 — public
    algorithm).  Integer-over-integer double division: cross-engine
    exact, no rounding needed.
    Returns (id_a, id_b, overlap) with id_a < id_b, overlap >= threshold.
    """
    inter = shingle_pair_counts(
        df, text_col, id_col, block_cols, k, max_shingle_df
    )
    return inter.select(
        "id_a",
        "id_b",
        (
            F.col("n_inter").cast("double")
            / F.least(F.col("n_a"), F.col("n_b")).cast("double")
        ).alias("overlap"),
    ).filter(F.col("overlap") >= threshold)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_perm: int = 64,
) -> DataFrame:
    """(id, sig: array<long>) MinHash signatures, fully per-row: each
    shingle is string-hashed ONCE (xxhash64) into a materialized array
    attribute, then each of the ``num_perm`` permutations is an
    array_min over cheap (long, seed) mixes of that attribute — ZERO
    shuffle (the earlier explode + 64-grouped-min formulation paid a
    full shuffle on the exploded shingles for identical values; 2×
    slower at sf0.1).  The projection boundary below keeps the
    shingle-building expression evaluated once per row, not once per
    permutation.
    """

    # the whole signature array as ONE parsed SQL expression: building
    # it Column-by-Column costs 3 py4j round-trips per permutation
    # (transform + lambda + array_min) — ~0.5 s of DRIVER plan-build
    # per query at num_perm=64 (the plan-build tax measured in
    # operators/similarity._dlit_array).  `xxhash64(h, i)` with an int
    # literal i is the exact expression F.xxhash64(col, F.lit(i))
    # built — bit-identical signatures, pinned by the goldens.
    perms = ",".join(
        f"array_min(transform(sh, h -> xxhash64(h, {i})))"
        for i in range(num_perm)
    )
    # spread_for_cpu: a small corpus file arrives as ONE split and the
    # per-row HOF fan below would run single-threaded in the scan
    # stage (A/B best-of-3 at sf0.1: 2.03 s -> 1.62 s warm); no-op
    # whenever the scan already has >= cores splits.  MEASURED
    # per-operator and kept ONLY here: the explode+groupBy pipelines
    # (simhash 1.00->1.34, SRP 1.90->2.04, ngram-jaccard 1.37->1.93,
    # winnow ~wash) already parallelize through their aggregation
    # shuffle, and the extra exchange costs more than it frees
    base = T.with_shingle_hashes(
        spread_for_cpu(df).select(
            F.col(id_col).cast("long").alias("id"), F.col(text_col)
        ),
        text_col, "sh", k,
    ).select("id", "sh")
    return base.select("id", F.expr(f"array({perms})").alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + LSH near-dup candidate pairs with estimated Jaccard.

    Pipeline: per-doc signature → narrow repartition barrier → explode
    band keys → self-equi-join on (band, key) → dedup pairs → estimate
    similarity as fraction of agreeing signature slots; keep >=
    threshold.  ~(b=16, r=4) S-curve crosses 0.5 near J≈0.5.

    The repartition(id) barrier is load-bearing: the self-join's two
    sides can only SHARE the signature computation through a reused
    exchange below them — without it each side recomputes every
    signature (measured 2× slower).  Shuffling finished signatures
    moves one 64-long row per DOC; the alternative barrier (explode
    shingles + grouped mins) shuffles one row per SHINGLE — ~20× the
    volume at scale for locally-similar cost (sf0.1 warm: 3.1 s vs
    2.4 s; cold: 3.6 s vs 6.6 s).
    Returns (id_a, id_b, est_jaccard).
    """
    rows_per_band = num_perm // bands
    sig = minhash_signatures(df, text_col, id_col, k, num_perm).repartition(
        F.col("id")
    )
    # band keys carry IDS ONLY through the explode + self-join (the
    # 64-long signature would otherwise be duplicated ``bands`` times
    # through the shuffle); signatures are re-attached once per side
    # after the candidate pairs are deduped — the same discipline as
    # embedding_lsh_pairs
    banded = sig.select(
        "id",
        F.explode(
            H.lsh_band_keys_expr("sig", bands, rows_per_band)
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .join(
            sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")),
            "id_a",
        )
        .join(
            sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")),
            "id_b",
        )
    )
    est = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda eq: eq,
        )
    ).cast("double") / F.lit(float(num_perm))
    return (
        cand.select("id_a", "id_b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs within hamming distance ``max_hamming``.

    Blocking: split the 64-bit hash into 4 × 16-bit chunks; any pair
    within hamming distance 3 must agree on at least one chunk
    (pigeonhole), so candidates = equi-join on (chunk_idx, chunk_value).
    Returns (id_a, id_b, hamming).
    """
    # explode + 64 grouped sums (one xxhash64 per token, bit tests on
    # the long) — same restructure as minhash_signatures: a per-row
    # column expression (a 64-wide ±1 array per token, folded by
    # zip_with) nests arrays per token and codegens poorly on wide
    # documents.
    tok = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.explode(T.tokens(F.col(text_col))).alias("t"),
    ).select("id", F.xxhash64("t").alias("h"))
    # both 64-wide expression fans as ONE parsed SQL expression each:
    # Column-by-Column construction costs ~6 py4j round-trips per bit
    # (~0.9 s of driver plan-build per query; the plan-build tax
    # measured in operators/similarity._dlit_array).  The SQL text
    # parses to the exact same expression trees — goldens unchanged.
    counts = tok.groupBy("id").agg(
        *[
            F.expr(f"sum((shiftright(h, {j}) & 1) * 2 - 1)").alias(
                f"c{j}"
            )
            for j in range(64)
        ]
    )
    packed_sql = " | ".join(
        f"(CASE WHEN c{j} > 0 THEN shiftleft(CAST(1 AS BIGINT), {j}) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for j in range(64)
    )
    hashed = counts.select("id", F.expr(packed_sql).alias("sh"))
    return hamming_pairs(hashed, max_hamming)


def hamming_pairs(
    hashed: DataFrame,
    max_hamming: int = 3,
    n_chunks: int | None = None,
    max_chunk_df: int | None = None,
) -> DataFrame:
    """All (id_a, id_b, hamming) pairs of 64-bit hashes within
    ``max_hamming``, from an (id, sh) frame — the chunk-blocked join
    shared by SimHash text dedup and perceptual-hash image dedup
    (operators/multimodal.image_near_dup_pairs).

    Blocking: split the hash into ``n_chunks`` equal chunks; any pair
    within hamming distance < n_chunks must agree on ≥ 1 chunk
    (pigeonhole), so candidates = equi-join on (chunk_idx, value).
    ``n_chunks`` defaults to the smallest divisor of 64 above
    ``max_hamming`` — full recall at the minimum candidate fan-out;
    a finer chunking (more, narrower chunks) trades selectivity for
    the guarantee as the radius grows.

    ``max_chunk_df`` is the skew guard for degenerate hash values —
    the ``max_shingle_df`` analog on THIS join's key: a hash shared by
    m contentless items (all-black pHash, silent-audio fingerprint)
    puts m identical rows in each of its chunk buckets → m²·n_chunks
    join rows.  The window-count cap drops (ci, cv) buckets with more
    than ``max_chunk_df`` occupants before the join, bounding fan-out
    linearly; the concession is pairs whose ONLY agreeing chunk was a
    dropped bucket (such buckets are dominated by degenerate mass that
    carries no near-dup signal).  Default None = exact pigeonhole
    recall, for the golden-pinned text SimHash path."""
    if not 0 <= max_hamming < 64:
        raise ValueError(
            f"max_hamming must be in [0, 64) for 64-bit hashes, got "
            f"{max_hamming}"
        )
    if n_chunks is None:
        n_chunks = next(
            c for c in (1, 2, 4, 8, 16, 32, 64) if c > max_hamming
        )
    if max_hamming >= n_chunks:
        raise ValueError(
            f"pigeonhole blocking needs n_chunks > max_hamming; got "
            f"n_chunks={n_chunks}, max_hamming={max_hamming}"
        )
    if 64 % n_chunks:
        raise ValueError(f"n_chunks must divide 64, got {n_chunks}")
    width = 64 // n_chunks
    # width 64 (n_chunks=1, exact-duplicate radius): the all-ones mask
    # must be the signed -1, not the unsigned 2^64-1 literal
    mask = -1 if width == 64 else (1 << width) - 1
    chunks = hashed.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        F.shiftrightunsigned(F.col("sh"), i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("cv"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select("id", "sh", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"))
    if max_chunk_df is not None:
        # df-count window keyed exactly like the join: its exchange IS
        # the join's partitioning (reused across both sides), and a
        # degenerate bucket costs df window rows, not df² join rows
        w_df = Window.partitionBy("ci", "cv")
        chunks = (
            chunks.withColumn("_df", F.count(F.lit(1)).over(w_df))
            .filter(F.col("_df") <= max_chunk_df)
            .drop("_df")
        )
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            H.hamming64(F.col("a.sh"), F.col("b.sh")).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def cluster_pairs(
    pairs: DataFrame,
    max_iter: int = 20,
    algorithm: str = "label",
    small_graph_max: int = 100_000,
) -> DataFrame:
    """Connected components over near-dup pairs → (id, cluster) with
    cluster = min id of the component (the canonical survivor).

    Small-graph fast path: near-dup edge sets are usually SPARSE (df
    caps and LSH blocking bound them), and every distributed round
    costs fixed job-scheduling latency regardless of data size.  After
    the one edge materialization, if the edge count is ≤
    ``small_graph_max`` (driver-bounded: two longs per edge, ~1.6 MB
    at the default), the components are solved with a driver-side
    union-find — identical min-id labels, one collect instead of
    O(rounds) jobs (measured: 3.4 s → 0.6 s on the sf0.1 semantic
    dedup CC stage).  Larger graphs take the distributed rounds below;
    pass ``small_graph_max=0`` to force them (tests do, to exercise
    the iterative paths).

    ``algorithm="label"`` (default): iterative min-label propagation —
    each round joins labels across edges in both directions and keeps
    the per-node min; converges in O(component diameter) rounds.
    Near-dup components are shallow (typically stars/chains), so a
    handful of rounds suffice and the per-round cost (two equi-joins)
    is lowest.

    ``algorithm="star"``: alternating large-star/small-star (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14 —
    public algorithm).  Converges in O(log² n) rounds regardless of
    diameter — the adversarial-graph path for 100 TB corpora where a
    transitive near-dup CHAIN (doc₁~doc₂~…~docₙ) would cost label
    propagation n rounds.  Per round: two window-min aggregations +
    dedup, no joins at all.

    ``localCheckpoint`` cuts lineage each round so plans stay flat in
    both modes; all paths produce identical (id, cluster) output.
    """
    if algorithm not in ("label", "star"):
        raise ValueError(f"unknown algorithm {algorithm!r}: label|star")
    # materialize the edge list once — its lineage is typically an
    # expensive candidate-pair join that must NOT re-execute every
    # propagation round (and the fast-path count must not either).
    # (r6 A/B, measured twice at sf0.1: folding the gate into a LAZY
    # checkpoint + limit-collect probe is ~15% SLOWER — CollectLimit
    # executes the upstream join in incremental partition batches,
    # serializing a parallel job; and replacing count+collect with
    # limit-collect over the EAGER checkpoint is a wash, the count on
    # a checkpointed list costs ~50 ms.  Keep the simple form.)
    edges = pairs.select(
        F.col("id_a").cast("long").alias("a"),
        F.col("id_b").cast("long").alias("b"),
    ).localCheckpoint()
    if small_graph_max and edges.count() <= small_graph_max:
        return _cluster_pairs_driver(edges)
    if algorithm == "star":
        # star does its own canonical normalization; the re-checkpoint
        # of the already-materialized edges is a cheap lineage cut
        return _cluster_pairs_star(
            edges.select(
                F.col("a").alias("id_a"), F.col("b").alias("id_b")
            ),
            max_iter,
        )
    nodes = (
        edges.select(F.col("a").alias("id"))
        .union(edges.select(F.col("b").alias("id")))
        .distinct()
    )
    labels = nodes.withColumn("cluster", F.col("id")).localCheckpoint()
    # Convergence check: labels only ever DECREASE (the new label is a
    # min over the old label and incoming messages), so the label sum is
    # strictly decreasing until the fixpoint — comparing sums detects
    # convergence with one aggregate over the just-checkpointed labels,
    # no join against the previous round needed.  decimal(38,0) keeps
    # the sum exact for long ids at any node count.
    _sum = lambda df: df.agg(
        F.sum(F.col("cluster").cast("decimal(38,0)"))
    ).collect()[0][0]
    prev_sum = _sum(labels)
    for _ in range(max_iter):
        msgs = (
            edges.join(labels, edges.a == labels.id)
            .select(F.col("b").alias("id"), "cluster")
            .union(
                edges.join(labels, edges.b == labels.id)
                .select(F.col("a").alias("id"), "cluster")
            )
        )
        labels = (
            labels.select("id", "cluster")
            .union(msgs)
            .groupBy("id")
            .agg(F.min("cluster").alias("cluster"))
            .localCheckpoint()
        )
        cur_sum = _sum(labels)
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def _cluster_pairs_driver(edges: DataFrame) -> DataFrame:
    """Driver-side union-find over a count-gated edge list: identical
    (id, cluster=min id of component) output as the distributed paths,
    one collect + one createDataFrame instead of O(rounds) jobs.  Only
    ever called after a ≤ ``small_graph_max`` gate, so the collect is
    bounded by construction."""
    return _cluster_pairs_driver_rows(
        [(r["a"], r["b"]) for r in edges.collect()], edges.sparkSession
    )


def _cluster_pairs_driver_rows(edge_rows, spark) -> DataFrame:
    """Union-find over an already-collected bounded edge list."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min id: the smaller root stays the root, so the
            # final label is the component min without a second pass
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    rows = [(x, find(x)) for x in parent]
    return spark.createDataFrame(rows, schema="id long, cluster long")


def _cluster_pairs_star(pairs: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star connected components
    (Kiveris et al., SoCC'14 — public algorithm).

    Per round, NO joins — each phase is a per-node window min over the
    directed neighbor list plus a dedup:

    - large-star: every neighbor v > u is re-attached to
      m(u) = min(Γ(u) ∪ {u});
    - small-star: every neighbor v < u (and u itself) is re-attached to
      m = min of u's smaller neighborhood.

    Both phases preserve connectivity and only create edges (x, y) with
    y < x, so the canonical a<b edge form is maintained for free.  At
    the fixpoint every component is a star centered at its minimum id.
    Convergence is detected by an exact (count, hash-sum) signature of
    the edge set — one aggregate over the just-checkpointed edges.
    """
    edges = (
        pairs.select(
            F.least(F.col("id_a").cast("long"), F.col("id_b").cast("long")).alias("a"),
            F.greatest(F.col("id_a").cast("long"), F.col("id_b").cast("long")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )

    def signature(df: DataFrame):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    def directed(df: DataFrame) -> DataFrame:
        return df.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            df.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )

    prev = signature(edges)
    for _ in range(max_iter):
        # large-star
        d = directed(edges)
        w = Window.partitionBy("u")
        large = (
            d.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
            .filter(F.col("v") > F.col("u"))
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
            .distinct()
        )
        # small-star over the large-star output; the v == m row doubles
        # as the (u, m) self-attachment so each input row emits one edge
        d2 = directed(large).filter(F.col("v") < F.col("u"))
        small = (
            d2.withColumn("m", F.min("v").over(Window.partitionBy("u")))
            .select(
                F.col("m").alias("a"),
                F.when(F.col("v") == F.col("m"), F.col("u"))
                .otherwise(F.col("v"))
                .alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint()
        )
        edges = small
        cur = signature(edges)
        if cur == prev:
            break
        prev = cur
    return (
        edges.select(F.col("b").alias("id"), F.col("a").alias("cluster"))
        .union(edges.select(F.col("a").alias("id"), F.col("a").alias("cluster")))
        .groupBy("id")
        .agg(F.min("cluster").alias("cluster"))
    )


def dedup_assignments(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    algorithm: str = "label",
) -> DataFrame:
    """Full dedup verdict per document: (id, cluster, keep) where
    keep=true for the canonical (min-id) member of each near-dup
    cluster and for all unpaired documents.  ``algorithm`` passes
    through to ``cluster_pairs`` (label | star)."""
    clusters = cluster_pairs(pairs, algorithm=algorithm)
    ids = df.select(F.col(id_col).cast("long").alias("id"))
    joined = ids.join(clusters, "id", "left")
    return joined.select(
        "id",
        F.coalesce(F.col("cluster"), F.col("id")).alias("cluster"),
        (F.coalesce(F.col("cluster"), F.col("id")) == F.col("id")).alias(
            "keep"
        ),
    )


def _srp_banded_vecs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_bits: int,
    bands: int,
    seed: int,
) -> DataFrame:
    """(id, band, key, sig, v) SRP-LSH bucket rows via one numpy matmul
    per Arrow batch (``mapInPandas``).

    History of this stage: per-row interpreted HOF aggregate-dots
    (n_bits × dim element ops/row, the r2 bottleneck) → posexplode +
    codegen'd conditional grouped sums (r4, 2× faster) → this matmul
    against the ±1 hyperplane matrix (X @ W in BLAS), which beats the
    grouped sums again AND carries the vector through to the bucket
    rows so the pair stage needs no re-attach joins.  Bit semantics
    are unchanged (bit i of ``sig`` = sign of hyperplane-i dot, band
    keys = contiguous sig chunks, band 0 most significant) up to
    floating-point summation order — verified bit-identical on the
    fixtures.

    Shuffle trade (vs the previous ids-only banding): each row ships
    bands × (vector + 28 B) through the groupBy exchange instead of
    bands × 28 B, but the pair stage stops shuffling candidate PAIR
    rows entirely — at any realistic occupancy the candidate-pair
    volume (Σ|bucket|²-shaped) dwarfs the banded-vector volume.
    """
    if n_bits % bands:
        raise ValueError("n_bits must divide evenly into bands")
    if n_bits // bands > 63:
        raise ValueError("rows_per_band (n_bits/bands) must be <= 63")
    rows_per_band = n_bits // bands
    chunk_mask = (1 << rows_per_band) - 1
    masks = H.srp_sign_masks(n_bits, dim, seed)
    # dim × n_bits ±1 hyperplane matrix, decoded from the packed sign
    # masks (mask[j] bit i = sign of hyperplane i in dimension j)
    w = np.array(
        [
            [1.0 if (m >> i) & 1 else -1.0 for i in range(n_bits)]
            for m in masks
        ]
    )
    band_idx = np.arange(bands, dtype=np.int64)
    shifts = (np.uint64(bands - 1) - band_idx.astype(np.uint64)) * np.uint64(
        rows_per_band
    )

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["v"].to_numpy()).astype("float64")[:, :dim]
            dots = x @ w
            bits = (dots >= 0.0).astype(np.uint64)
            sig = np.zeros(len(x), dtype=np.uint64)
            for i in range(n_bits):
                sig |= bits[:, i] << np.uint64(n_bits - 1 - i)
            rep_sig = np.repeat(sig, bands)
            keys = (rep_sig >> np.tile(shifts, len(x))) & np.uint64(
                chunk_mask
            )
            yield pd.DataFrame(
                {
                    "id": np.repeat(pdf["id"].to_numpy(), bands),
                    "band": np.tile(band_idx, len(x)).astype("int32"),
                    "key": keys.astype("int64"),
                    "sig": rep_sig.astype("int64"),
                    "v": np.repeat(pdf["v"].to_numpy(), bands),
                }
            )

    proj = df.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("v")
    )
    # declare v with the INPUT element type: a fixed array<float> would
    # silently round double-typed embeddings to float32 through Arrow,
    # shifting the exact-cosine verify at threshold boundaries
    vec_type = proj.schema["v"].dataType.simpleString()
    return proj.mapInPandas(
        gen, f"id long, band int, key long, sig long, v {vec_type}"
    )


def _srp_bucket_pair_fn(
    threshold: float, bands: int, rows_per_band: int, block: int
):
    """applyInPandas factory for one (band, key) bucket: exact-cosine
    pairs ≥ threshold via the shared blocked-matmul kernel
    (``functions.vectors.blocked_cosine_pairs`` — same kernel as the
    semantic-dedup cell stage), then the first-colliding-band filter
    applied IN-GROUP from the packed signatures — a pair colliding in
    several bands is emitted only by the bucket of its first band, so
    exactly-once emission needs no cross-bucket dedup exchange."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id", ignore_index=True)
        ids = pdf["id"].to_numpy()
        rows, cols, cos = V.blocked_cosine_pairs(
            pdf["v"].to_numpy(), threshold, block
        )
        if len(rows):
            # position-paired kernel: duplicate ids would surface as
            # id_a == id_b self-pairs (cos 1.0) that also defeat the
            # xor band filter (xor=0 → always band 0) — drop them,
            # matching the replaced join's a.id < b.id predicate
            distinct = ids[rows] != ids[cols]
            rows, cols, cos = rows[distinct], cols[distinct], cos[distinct]
        if len(rows):
            band = int(pdf["band"].iloc[0])
            sig = pdf["sig"].to_numpy().astype(np.uint64)
            # first colliding band of each surviving pair: chunk b of
            # sig_a ^ sig_b is zero iff band b collides; keep the pair
            # only in its first band's bucket (exactly-once emission)
            xor = sig[rows] ^ sig[cols]
            first = np.full(len(xor), bands - 1, dtype=np.int64)
            for bi in range(bands - 2, -1, -1):
                chunk = (
                    xor >> np.uint64((bands - 1 - bi) * rows_per_band)
                ) & np.uint64((1 << rows_per_band) - 1)
                first = np.where(chunk == 0, bi, first)
            mine = first == band
            rows, cols, cos = rows[mine], cols[mine], cos[mine]
        return pd.DataFrame(
            {"id_a": ids[rows], "id_b": ids[cols], "cos": cos}
        ).astype({"id_a": "int64", "id_b": "int64", "cos": "float64"})

    return fn


def embedding_lsh_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    threshold: float = 0.8,
    n_bits: int = 64,
    bands: int = 8,
    seed: int = 0x5EED,
) -> DataFrame:
    """SRP-LSH bucketed cosine near-dup pairs — the no-external-blocking
    scale path for embedding dedup (``embedding_near_dup_pairs`` needs a
    caller-supplied block column or degrades to brute force).

    Defaults target real near-dup corpora: 64 bits in 8 bands of 8 →
    256 buckets per band (selective), band-collision probability at
    cos 0.9 ≈ 0.29, amplified recall across 8 bands ≈ 0.94.  For
    low-similarity regimes shrink bits-per-band (recall rises,
    selectivity drops) — the S-curve trade is the caller's knob, and it
    is ALSO the parallelism/occupancy knob: each (band, key) bucket is
    one blocked-matmul task, so bucket occupancy bounds both per-task
    work (|bucket|²·dim flops in BLAS) and per-task memory
    (|block|×|bucket| similarity rows + the |bucket|×dim unit matrix).

    Pipeline: per-batch SRP signatures + band keys (one numpy matmul,
    ``_srp_banded_vecs``) → groupBy (band, key) → per-bucket blocked
    matmul emitting exact-cosine pairs ≥ threshold, first-colliding-
    band filtered in-group (``_srp_bucket_pair_fn``).  No self-join, no
    candidate-pair shuffle, no vector re-attach joins — the r5 pair
    join materialized 1.8M candidate rows at sf0.1 and measured 1.9 s
    warm where this measures ~0.7 s.  Precision is exact by
    construction (every emitted pair is cosine-verified); only recall
    is probabilistic, amplified by the band count — gated in tests
    against the oracled brute-force pairs.
    Returns (id_a, id_b, cos) with id_a < id_b.
    """
    banded = _srp_banded_vecs(df, id_col, vec_col, dim, n_bits, bands, seed)
    return banded.groupBy("band", "key").applyInPandas(
        _srp_bucket_pair_fn(
            threshold, bands, n_bits // bands, block=4096
        ),
        "id_a long, id_b long, cos double",
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = None,
    threshold: float = 0.95,
) -> DataFrame:
    """Cosine near-duplicate pairs over an embedding column.

    With ``block_col`` (e.g. an IVF/LSH bucket id) the self-join is
    equi-shaped; without it this is brute force — correct baseline for
    tests, not the 100 TB path (use ``similarity.ivf_assign`` first).
    """
    base = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).alias("v"),
        *([F.col(block_col).alias("blk")] if block_col else []),
    )
    a, b = base.alias("a"), base.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    if block_col:
        cond = cond & (F.col("a.blk") == F.col("b.blk"))
    return (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            V.cosine(F.col("a.v"), F.col("b.v")).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_perm: int = 64,
) -> DataFrame:
    """(id, sig) — the PERSISTABLE dedup index for continuous ingest.

    Write this to the lake once per corpus; later batches call
    ``minhash_lsh_pairs_incremental`` against it and never re-read or
    re-shingle the historical corpus text — at 100 TB that is the
    difference between touching 8 KB/doc of text and 512 B/doc of
    signature.  Same signature function as the batch path, so an index
    built today remains valid for every future batch (hash seeds are
    code constants)."""
    return minhash_signatures(df, text_col, id_col, k, num_perm)


def minhash_lsh_pairs_incremental(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup candidate pairs for a NEW batch against an existing
    signature index (plus new×new pairs) — the continuous-ingest form
    of ``minhash_lsh_pairs``.

    Emits exactly the pairs of the full-batch run that touch at least
    one new document: new×new and new×index, never index×index (those
    were emitted when the index rows were themselves the new batch).
    Returns (id_a, id_b, est_jaccard, a_is_new, b_is_new) with
    id_a < id_b.

    If a new id already exists in the index (re-ingest), the fresh
    signature wins (anti-join on id) — the pair set then reflects the
    updated text.

    Scale shape: identical to the batch path (banded equi-join, ids
    only through the explode, signatures re-attached after pair
    dedup), except the expensive text→signature stage runs ONLY over
    the new batch; the index contributes a 64-long array per doc read
    straight from the lake."""
    rows_per_band = num_perm // bands
    # Dead end (r11 optimization round): moving the repartition(id)
    # barrier from sig_new to the UNION (so all four sig_all
    # references — both banded self-join sides + both re-attach joins
    # — share one exchange) is a WASH despite the initial plan showing
    # the index branch quadruplicated (24 parquet scans / 48 Exchange
    # nodes / zero ReusedExchange pre-execution): AQE reuses the
    # canonically-identical exchanges AT RUNTIME, so the duplicated
    # subtrees never actually re-execute, and the union-level barrier
    # just adds a shuffle of every index signature.  Measured
    # best-of-5 interleaved at sf0.1: union-barrier min 2.94 / med
    # 3.43 vs this form min 2.80 / med 3.32.  Don't retry; read
    # initial-plan duplication through the AQE runtime-reuse lens
    # first (the pre-execution explain undercounts reuse).
    sig_new = minhash_signatures(
        new_docs, text_col, id_col, k, num_perm
    ).repartition(F.col("id"))
    # Dead end (r12 optimization round): a repartition(id) barrier on
    # sig_idx ALONE (the surgical variant the r11 union-barrier probe
    # left unmeasured — sig_idx has no exchange below it, so its
    # anti-join + index-signature derivation re-runs in all three
    # sig_all references; stage profile at sf0.1 shows three
    # concurrent 33-task stages of ~4.5 CPU-s each re-deriving it).
    # Steady-state interleaved best-of-8 after 3 warmups: no-barrier
    # min 1.837 / med 1.974 s vs barrier min 1.903 / med 2.048 — the
    # three references execute as INDEPENDENT CONCURRENT stages, so
    # the recompute hides behind the critical path while the barrier
    # adds an exchange to it.  At real scale the index is a
    # materialized lake table, so the recompute is 3 scans of
    # 512 B/doc signatures, not 3 re-shingles — acceptable.  Output
    # verified identical.  Don't retry without a new wall-clock
    # argument.
    sig_idx = index.select(
        F.col("id").cast("long").alias("id"), "sig"
    ).join(sig_new.select("id"), "id", "left_anti")
    sig_all = sig_new.withColumn("is_new", F.lit(True)).unionByName(
        sig_idx.withColumn("is_new", F.lit(False))
    )
    banded = sig_all.select(
        "id",
        "is_new",
        F.explode(
            H.lsh_band_keys_expr("sig", bands, rows_per_band)
        ).alias("bk"),
    ).select(
        "id", "is_new",
        F.col("bk.band").alias("band"), F.col("bk.key").alias("key"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.col("a.is_new") | F.col("b.is_new")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.is_new").alias("a_is_new"),
            F.col("b.is_new").alias("b_is_new"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .join(
            sig_all.select(
                F.col("id").alias("id_a"), F.col("sig").alias("sig_a")
            ),
            "id_a",
        )
        .join(
            sig_all.select(
                F.col("id").alias("id_b"), F.col("sig").alias("sig_b")
            ),
            "id_b",
        )
    )
    est = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda eq: eq,
        )
    ).cast("double") / F.lit(float(num_perm))
    return (
        cand.select(
            "id_a", "id_b", est.alias("est_jaccard"),
            "a_is_new", "b_is_new",
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


def blocked_exact_cosine_pairs(
    df: DataFrame,
    block_col: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.2,
    margin: float = 1e-3,
) -> DataFrame:
    """Exact (oracle-grade) cosine pairs within blocks, fast path: a
    per-block row-blocked BLAS matmul PREFILTERS candidates at
    ``threshold - margin``, then the survivors are rescored with the
    scaled-long exact formula (``vectors.dot_scaled`` — the
    cross-engine-deterministic arithmetic the DuckDB oracles mirror)
    and filtered at ``threshold``.

    Values are bit-identical to the equi-join + per-pair HOF
    formulation because every EMITTED cosine is computed by the same
    Spark expressions in the same operation order; the BLAS pass only
    selects candidates.  ``margin`` covers the gap between the
    unquantized float64 matmul cosine and the 1e-6-quantized exact
    cosine (bounded by ~dim·5e-7/|v|² ≈ 3e-5 for unit-scale vectors —
    the 1e-3 default is ~30× that bound), so no true pair is lost.
    The r6 motivation: the interpreted HOF ground ~200k candidate
    pairs in 2 tasks for 13.3 s at sf0.1; this path measures ~1 s.

    Scale shape: one task per block (|block|²·dim BLAS flops,
    |4096|×|block| peak similarity rows), survivors-only carry vector
    payloads, no joins.  Block occupancy is the caller's knob, exactly
    like the SRP-LSH bucket guidance."""
    # norm-squared ONCE per row (r7): the exact rescore divides by
    # sqrt(dot_scaled(v,v)) on both sides of every pair — computing it
    # per ROW before the pandas stage and carrying it through as a
    # scalar replaces 2/3 of the interpreted per-pair folds with n
    # per-row ones (the normalize-once lesson, CLAUDE.md), and the
    # emitted value is the SAME deterministic expression output.
    base = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(block_col).alias("blk"),
        F.col(vec_col).alias("v"),
        V.dot_scaled(F.col(vec_col), F.col(vec_col))
        .cast("double")
        .alias("n2"),
    )
    vec_type = base.schema["v"].dataType.simpleString()
    pre_threshold = threshold - margin

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id", ignore_index=True)
        ids = pdf["id"].to_numpy()
        vecs = pdf["v"].to_numpy()
        n2 = pdf["n2"].to_numpy()
        rows, cols, _ = V.blocked_cosine_pairs(vecs, pre_threshold, 4096)
        if len(rows):
            keep = ids[rows] != ids[cols]
            rows, cols = rows[keep], cols[keep]
        return pd.DataFrame(
            {
                "id_a": ids[rows],
                "id_b": ids[cols],
                "va": vecs[rows],
                "vb": vecs[cols],
                "na": n2[rows],
                "nb": n2[cols],
            }
        )

    # repartition BY NUM on the block key: the pandas stage is
    # CPU-heavy but bytes-small, and AQE's partition coalescing folded
    # 10 label blocks into 3 tasks (bench query_io tasks=3) —
    # REPARTITION_BY_NUM is exempt from coalescing, so every non-empty
    # block gets its own task.  A/B best-of-3 at sf0.1 with the norm
    # carry: 2.12 → 0.60 s, values bit-identical.
    ncores = df.sparkSession.sparkContext.defaultParallelism
    cands = (
        base.repartition(ncores, "blk")
        .groupBy("blk")
        .applyInPandas(
            fn,
            f"id_a long, id_b long, va {vec_type}, vb {vec_type},"
            " na double, nb double",
        )
    )
    cos = (
        V.dot_scaled(F.col("va"), F.col("vb")).cast("double")
        / F.sqrt(F.col("na"))
        / F.sqrt(F.col("nb"))
    )
    return (
        cands.select("id_a", "id_b", cos.alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def edit_distance_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: list[str] | None = None,
    max_dist: int = 100,
) -> DataFrame:
    """(id_a, id_b, dist) for same-block pairs within Levenshtein
    distance ``max_dist`` — the character-level member of the near-dup
    family (catches small in-place edits that shift every downstream
    shingle, where token-set Jaccard under-scores).

    Scale shape: candidates must share (a) the caller's blocking key
    (at 100 TB an LSH band key, here e.g. the source) and (b) a
    doc-length bucket of width ``max_dist + 1`` — ``dist >= |len_a -
    len_b|`` makes adjacent buckets a NECESSARY condition, so one side
    explodes to its three neighbor buckets and the join stays fully
    equi-keyed (the banded range-join trick).
    Verification runs JVM-side with the BANDED levenshtein (threshold
    arg -> O(n * max_dist) per pair instead of O(n^2), returning -1
    past the band).

    Dead ends (r12 optimization round, per-pair constant cuts on the
    accepted tau=Theta(len) regime): stage profile at sf0.1 shows the
    verify stage is 88 executor-CPU-seconds spread over 32 equal tasks
    (zero skew, zero shuffle — ~229k candidates x ~267-char docs x
    201-wide band ~ 6.2G DP cells, ~70M cells/s/core — at the JVM
    banded-DP hardware constant).  (a) char-frequency L1 lower bound
    (dist >= L1/2) pre-filter: prunes 1/20000 sampled candidate pairs
    (0.0%) — same-vocab synthetic docs have near-identical char
    histograms at tau=100.  (b) common-prefix stripping before the
    DP (exact for Levenshtein): sampled LCP mean 0.27 chars, median 0
    — candidate pairs share no prefix.  Neither filter can pay for
    its own evaluation here; the verify stays the plain banded
    levenshtein.
    """
    blocks = list(block_cols or [])
    w = int(max_dist) + 1
    # spread_for_cpu: a small corpus arrives as ONE split and the
    # banded-Levenshtein verify would inherit the probe side's layout
    # through the (AQE-chosen broadcast) join, serializing the whole
    # O(candidates * n * max_dist) stage on 1-2 cores (r6 verdict:
    # 57.8 s at sf0.1 with tasks=2, shuffle_mb=0).  Spreading the
    # probe scan parallelizes the verify across every core; A/B
    # best-of-3 at sf0.1: 57.8 -> 3.2 s.  No broadcast HINT on the
    # bucket side: AQE already broadcasts it at small scale (measured
    # identical, 3.23 vs 3.24 s) and a forced broadcast would cap the
    # operator at the 8 GB broadcast limit at 100 TB.
    # string-form builders (the r8b plan-build-tax rule: multi-stage
    # Column-by-Column selects pay ~10 py4j round-trips per operator;
    # the parsed trees below are identical to the old Column forms)
    bkt = f"CAST(length({text_col}) / {w} AS BIGINT)"
    left = spread_for_cpu(df).selectExpr(
        *blocks,
        f"{id_col} AS id_a",
        f"{text_col} AS __ta",
        f"length({text_col}) AS __la",
        f"explode(array({bkt} - 1, {bkt}, {bkt} + 1)) AS __bkt",
    )
    right = df.selectExpr(
        *blocks,
        f"{id_col} AS id_b",
        f"{text_col} AS __tb",
        f"length({text_col}) AS __lb",
        f"{bkt} AS __bkt",
    )
    return (
        left.join(right, on=[*blocks, "__bkt"])
        .where(f"id_a < id_b AND abs(__la - __lb) <= {int(max_dist)}")
        .selectExpr(
            "id_a",
            "id_b",
            f"CAST(levenshtein(__ta, __tb, {int(max_dist)})"
            " AS BIGINT) AS dist",
        )
        .where("dist >= 0")
    )


def edit_distance_pairs_qchunk(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: list[str] | None = None,
    max_dist: int = 20,
    max_doc_len: int = 8192,
) -> DataFrame:
    """(id_a, id_b, dist) for same-block pairs within Levenshtein
    distance ``max_dist`` via the ASYMMETRIC q-chunk signature scheme
    (IndexChunk; Qin et al., "Efficient exact edit similarity query
    processing with the asymmetric signature scheme", SIGMOD 2011) —
    the sub-quadratic candidate path for BOUNDED thresholds, where
    ``max_dist`` is small relative to document length.

    Soundness (pigeonhole): cut an indexed doc of length ``L >= k``
    (``k = max_dist + 1``) into ``nfull = L div q`` non-overlapping
    chunks of length ``q = L div k`` (``nfull >= k``).  Each of the
    ``<= max_dist`` edit ops corrupts at most one chunk's content
    (indels additionally SHIFT later chunks, but shifted-uncorrupted
    chunks still occur verbatim in the partner at a position within
    ``+-max_dist``).  So at least ``nfull - max_dist >= 1`` chunks of
    the indexed doc appear exactly in the partner, at ``+-max_dist``
    of their original offset.  The probe side therefore emits ALL its
    substrings of every chunk length a feasible partner could use
    (``(len +- max_dist) div k`` spans <= 3 integers), and candidates
    are the equi-join on (block, chunk_len, gram) with length- and
    position-tolerance post-filters.  Pairs where BOTH sides are
    shorter than ``k`` can defeat the pigeonhole and go through the
    tiny length-bucket fallback (edit_distance_pairs) instead; pairs
    with one short side are covered by indexing the long side.

    Scale shape: index = n * (max_dist+1)-ish skinny rows (AQE
    broadcasts it at small scale, shuffle-joins at 100 TB); probe =
    ~2-3 grams per character of length len/k each — O(len²/k) probe
    BYTES per doc, quadratic in document length.  ``max_doc_len``
    therefore bounds the q-chunk path (r7 review finding): documents
    at or past it go through the length-bucket path instead, where a
    long doc costs one banded-levenshtein row per candidate rather
    than megabytes of grams.  Exactness across the boundary: a kept
    long-path pair has at least one side >= max_doc_len, so its
    partner is >= max_doc_len - max_dist by the length filter and both
    sides live in the long set (docs >= max_doc_len - max_dist); pairs
    with both sides < max_doc_len stay q-chunk-only (long-path pairs
    with both < max_doc_len are dropped), so no pair is missed or
    double-counted.  Candidates collapse through one distinct + two
    id-joins to re-attach texts before the banded JVM levenshtein
    verify.  Join blocks are (block, q, gram) — measured hottest block
    at sf0.1 is 8 docs; candidate volume is corpus-dependent (docs
    sharing a verbatim phrase of length >= q at aligned offsets are
    genuine candidates no exact scheme can skip), measured 13.8k pairs
    at sf0.1 vs ~700k for length-bucket blocking at the same
    threshold.

    Why not for max_dist = Theta(len): q = len div (max_dist+1) is
    then O(1) chars and every doc collides with every doc — exact
    signature schemes degenerate (witness length L/tau; see
    ARCHITECTURE.md).  Callers with tau >= len/3-ish should use
    edit_distance_pairs.
    """
    blocks = list(block_cols or [])
    tau = int(max_dist)
    k = tau + 1
    if int(max_doc_len) <= 2 * tau:
        raise ValueError(
            f"max_doc_len must exceed 2*max_dist, got {max_doc_len}"
        )
    docs = df.selectExpr(
        *blocks,
        f"CAST({id_col} AS BIGINT) AS id",
        f"{text_col} AS txt",
        f"length({text_col}) AS len",
    )
    # index: docs long enough for the pigeonhole and short enough for
    # the O(len²/k) probe fan → skinny rows (block, q, gram, iid,
    # ipos, ilen); the whole fan is codegen'd (sequence-explode +
    # substring), no HOF lambda anywhere
    idx = (
        docs.where(f"len >= {k} AND len < {int(max_doc_len)}")
        .selectExpr("*", f"len DIV {k} AS q")
        .selectExpr(
            "*",
            "explode(sequence(0, CAST(len DIV q AS INT) - 1)) AS ci",
        )
        .selectExpr(
            *blocks,
            "id AS iid",
            "len AS ilen",
            "q",
            "ci * q AS ipos",
            "substring(txt, CAST(ci * q AS INT) + 1, CAST(q AS INT))"
            " AS gram",
        )
    )
    # probe: every substring of each feasible partner chunk length —
    # spread_for_cpu because the gram fan runs in the scan stage and a
    # small corpus file arrives as one split (same shape as the
    # minhash win); the index side's broadcast join keeps this layout
    probe = (
        spread_for_cpu(docs.where(f"len < {int(max_doc_len)}"))
        .selectExpr(
            "*",
            f"explode(sequence("
            f"CAST(greatest({k}, len - {tau}) DIV {k} AS INT),"
            f" CAST((len + {tau}) DIV {k} AS INT))) AS q",
        )
        .selectExpr(
            "*", "explode(sequence(0, CAST(len - q AS INT))) AS pp"
        )
        .selectExpr(
            *blocks,
            "id AS pid",
            "len AS plen",
            "q",
            "pp AS ppos",
            "substring(txt, CAST(pp AS INT) + 1, CAST(q AS INT))"
            " AS gram",
        )
    )
    cand = (
        probe.join(idx, on=[*blocks, "q", "gram"])
        .where(
            f"iid != pid AND abs(ilen - plen) <= {tau}"
            f" AND abs(ipos - ppos) <= {tau}"
        )
        .selectExpr(
            *blocks,
            "least(iid, pid) AS id_a",
            "greatest(iid, pid) AS id_b",
        )
        .distinct()
    )
    texts = docs.select(*blocks, "id", "txt")
    verified = (
        cand.join(
            texts.selectExpr(*blocks, "id AS id_a", "txt AS __ta"),
            on=[*blocks, "id_a"],
        )
        .join(
            texts.selectExpr(*blocks, "id AS id_b", "txt AS __tb"),
            on=[*blocks, "id_b"],
        )
        .selectExpr(
            "id_a",
            "id_b",
            f"CAST(levenshtein(__ta, __tb, {tau}) AS BIGINT) AS dist",
        )
        .where("dist >= 0")
    )
    # pairs where BOTH sides are shorter than k defeat the pigeonhole:
    # route the (tiny) short-short corner through the bucket path
    short = docs.where(f"len <= {tau}").selectExpr(
        *blocks, f"id AS {id_col}", f"txt AS {text_col}"
    )
    fallback = edit_distance_pairs(
        short,
        text_col=text_col,
        id_col=id_col,
        block_cols=blocks,
        max_dist=tau,
    )
    # over-long docs: bucket path over everything a >= max_doc_len doc
    # could pair with (>= max_doc_len - tau by the length filter),
    # keeping only pairs whose longer side is actually >= max_doc_len
    # so the q-chunk band keeps exclusive ownership of both-short-of-
    # the-cap pairs (no duplicates, no gaps — see docstring)
    long_docs = docs.where(f"len >= {int(max_doc_len) - tau}")
    long_pairs = edit_distance_pairs(
        long_docs.selectExpr(
            *blocks, f"id AS {id_col}", f"txt AS {text_col}"
        ),
        text_col=text_col,
        id_col=id_col,
        block_cols=blocks,
        max_dist=tau,
    )
    lens = docs.select("id", "len")
    long_pairs = (
        long_pairs.join(
            lens.selectExpr("id AS id_a", "len AS __lla"), "id_a"
        )
        .join(lens.selectExpr("id AS id_b", "len AS __llb"), "id_b")
        .where(f"greatest(__lla, __llb) >= {int(max_doc_len)}")
        .select("id_a", "id_b", "dist")
    )
    return verified.unionByName(fallback).unionByName(long_pairs)
