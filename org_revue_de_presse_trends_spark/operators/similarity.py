"""Approximate-nearest-neighbor search over an embedding column.

Two paths (task brief "Similarity search"):

- ``brute_force_topk`` — exact cosine top-k: broadcast the (small)
  query set against the corpus, per-row JVM vector math, then a
  grouped top-k (TakeOrdered-shaped, map-side partial).  Correctness
  baseline; also the verifier for the approximate paths.
- ``ivf_assign`` / ``ivf_topk`` — IVF-style coarse quantization: assign
  every vector to its nearest centroid (broadcast centroids), then
  restrict search to the query's ``n_probe`` nearest cells — turns the
  cross product into an equi-join on cell id.  This is the 100 TB
  path: corpus stays partitioned by cell, queries only touch n_probe
  cells.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import Row

from ..functions import vectors as V


def grouped_topk(
    scored: DataFrame,
    k: int,
    group_col: str = "query_id",
    order_cols: tuple = ("cos",),
    tiebreak_col: str = "neighbor_id",
) -> DataFrame:
    """Two-phase grouped top-k, the scale-safe replacement for a bare
    ``row_number() OVER (PARTITION BY query_id)``.

    With a handful of query ids, a single window would shuffle EVERY
    scored row into |queries| reducers — one reducer per query holds a
    corpus-sized partition at 100×.  Phase 1 ranks within
    ``(group, input-partition)`` — keys are uniform because
    ``spark_partition_id()`` spreads each group over all input
    partitions — and keeps k rows per pair, so the phase-2 window sees
    at most k × num_partitions rows per group regardless of corpus
    size.  Ties broken by ``tiebreak_col`` ascending in both phases for
    determinism.
    """
    reserved = {"__tk_part", "__tk_pr"}
    clash = reserved & set(scored.columns)
    if clash:
        raise ValueError(f"grouped_topk reserves columns {sorted(clash)}")
    order = [F.desc(c) for c in order_cols] + [F.asc(tiebreak_col)]
    partial_w = Window.partitionBy(group_col, "__tk_part").orderBy(*order)
    final_w = Window.partitionBy(group_col).orderBy(*order)
    # note: an existing 'rank' column is replaced — it is the
    # documented output column of this operator
    return (
        scored.withColumn("__tk_part", F.spark_partition_id())
        .withColumn("__tk_pr", F.row_number().over(partial_w))
        .filter(F.col("__tk_pr") <= k)
        .drop("__tk_part", "__tk_pr")
        .withColumn("rank", F.row_number().over(final_w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exact: bool = False,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, neighbor_id, cos, rank), rank 1..k, ties broken
    by neighbor id ascending.  ``exact=True`` uses decimal-exact
    summation (oracle-comparable across engines).
    """
    # norms precomputed per vector (once), not per pair — cuts the
    # vector math by 2/3; the division sequence dot/qnorm/cnorm is
    # pinned by the goldens
    dot_fn = V.dot_scaled if exact else V.dot
    norm_of = (
        (lambda v: F.sqrt(V.dot_scaled(v, v).cast("double")))
        if exact
        else (lambda v: F.sqrt(V.dot(v, v)))
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm_of(F.col(vec_col)).alias("qnorm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm_of(F.col(vec_col)).alias("cnorm"),
    )
    dot = dot_fn(F.col("qv"), F.col("cv"))
    dot = dot.cast("double") if exact else dot
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot / F.col("qnorm") / F.col("cnorm")).alias("cos"),
        )
    )
    return grouped_topk(scored, k)


def train_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[Row]:
    """Deterministic coarse centroids: pick ``n_cells`` seed vectors by
    hashing ids (cheap, reproducible; ``train_centroids_local`` runs
    Lloyd rounds from the same seeds)."""
    return (
        corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("centroid"))
        .orderBy(F.xxhash64(F.col("cid")))
        .limit(n_cells)
        .collect()
    )


def train_centroids_local(
    corpus: DataFrame,
    n_cells: int = 16,
    iters: int = 2,
    sample_max: int = 65536,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> list[Row]:
    """Sample-collected Lloyd training: the 100 TB pattern for a coarse
    quantizer (FAISS-style) — ONE bounded job collects ``sample_max``
    hash-ordered vectors to the driver, then k-means runs in numpy.

    No Lloyd round is a corpus pass or a driver sync: a quantizer
    trained on a bounded deterministic sample is statistically
    equivalent to one trained on the corpus, and each round is a BLAS
    matmul over the sample.  Seeds are the first ``n_cells`` sample vectors — the
    same xxhash64(id)-order convention as ``train_centroids`` — and
    the assignment rule mirrors ``ivf_assign`` (rank by dot with the
    unit-normalized centroid, ties to the earlier centroid).  Empty
    cells keep their previous centroid.
    Returns rows shaped like train_centroids output.
    """
    import numpy as np

    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(sample_max)
        .collect()
    )
    if len(rows) < n_cells:
        raise ValueError(f"corpus has {len(rows)} rows < n_cells {n_cells}")
    x = np.array(
        [[float(v) for v in r[vec_col]][:dim] for r in rows], dtype="float64"
    )
    cids = [int(r[id_col]) for r in rows[:n_cells]]
    cents = x[:n_cells].copy()
    for _ in range(iters):
        nrm = np.linalg.norm(cents, axis=1)
        unit = np.where(nrm[:, None] > 0.0, cents / np.where(nrm == 0.0, 1.0, nrm)[:, None], cents)
        assign = np.argmax(x @ unit.T, axis=1)  # first max = earlier cid
        for k in range(n_cells):
            members = x[assign == k]
            if len(members):
                cents[k] = members.mean(axis=0)
    return [
        Row(cid=cids[k], centroid=[float(v) for v in cents[k]])
        for k in range(n_cells)
    ]


def ivf_assign(
    corpus: DataFrame,
    centroids: list[Row],
    vec_col: str = "embedding",
    n_probe: int = 1,
) -> DataFrame:
    """Assign each vector its ``n_probe`` nearest centroid cell ids
    (adds ``cell`` column, one row per probe).  Centroid list is tiny →
    baked into the plan as a literal array; assignment is per-row JVM
    math, no shuffle.

    Ranking is by dot(v, c/|c|) with the centroids UNIT-NORMALIZED in
    Python at plan-build time: per row this is ONE interpreted 64-fold
    per centroid instead of cosine's three (dot + both norms — HOFs
    are interpreted, CLAUDE.md), and the order is identical — cosine =
    dot(v, c/|c|)/|v| and |v| > 0 is constant within a row (measured:
    a two-round corpus-side k-means over ivf_assign went 3.5 s → 1.3 s
    at sf0.1)."""

    def _unit(vs):
        n = math.sqrt(sum(float(x) * float(x) for x in vs))
        return [float(x) / n for x in vs] if n > 0.0 else list(vs)

    # one parsed expression, not a py4j call per element — n_cells ×
    # dim element literals cost ~1 ms/call of driver plan-build time
    # (see _dlit_array)
    cent_arr = F.expr(
        "array("
        + ",".join(
            "named_struct('cell', {c}, 'cv', array({vs}))".format(
                c=int(r["cid"]), vs=_dcsv(_unit(r["centroid"]))
            )
            for r in centroids
        )
        + ")"
    )
    scored = F.transform(
        cent_arr,
        lambda s: F.struct(
            V.dot(F.col(vec_col), s["cv"]).alias("score"),
            s["cell"].alias("cell"),
        ),
    )
    top = F.slice(F.array_sort(scored, lambda l, r: F.when(l["score"] > r["score"], -1).when(l["score"] < r["score"], 1).otherwise(0)), 1, n_probe)
    return corpus.withColumn("cell", F.explode(F.transform(top, lambda s: s["cell"])))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[Row],
    k: int = 10,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF ANN: equi-join query probes against cell-partitioned corpus,
    exact cosine within probed cells, grouped top-k."""
    c_assigned = ivf_assign(corpus, centroids, vec_col, n_probe=1).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), "cell"
    )
    q_assigned = ivf_assign(queries, centroids, vec_col, n_probe=n_probe).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), "cell"
    )
    scored = (
        c_assigned.join(F.broadcast(q_assigned), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id", V.cosine(F.col("qv"), F.col("cv")).alias("cos")
        )
    )
    return grouped_topk(scored, k)


# ---------------------------------------------------------------------------
# Product quantization (Jégou/Douze/Schmid, "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011 — public algorithm)
# ---------------------------------------------------------------------------


def _dcsv(vals) -> str:
    """Comma-separated SQL double literals (``0.25D,...``) from a
    Python float sequence — the one shared formatter behind every big
    literal array here.  ``repr`` gives shortest-round-trip decimals
    so the parsed doubles are bit-identical; non-finite values would
    emit unparseable SQL, so they are rejected loudly."""
    out = []
    for v in vals:
        f = float(v)
        if f != f or f in (float("inf"), float("-inf")):
            raise ValueError(f"non-finite literal {f!r} in SQL array")
        out.append(repr(f) + "D")
    return ",".join(out)


def _dlit_array(vals) -> Column:
    """Literal array<double> built from ONE parsed SQL expression.

    Element-wise ``F.array(*[F.lit(x) …])`` costs a py4j round-trip
    per element — for PQ/IVF codebooks (≥1000 literals) that is ~1 s
    of DRIVER-side plan construction per query, dwarfing the actual
    execution (measured: pq_encode plan build 1.05 s vs run 0.10 s)."""
    return F.expr(f"array({_dcsv(vals)})")


def _codebook_sql(codebook: list[list[float]]) -> str:
    """One subspace's codebook as SQL literal text
    array<array<double>> (parsed once — see ``_dlit_array``)."""
    inner = ",".join(f"array({_dcsv(cv)})" for cv in codebook)
    return f"array({inner})"


def _nearest_code(sv_name: str, codebook: list[list[float]]) -> Column:
    """Index (int) of the codebook entry nearest to column
    ``sv_name`` (squared L2, ties to the lowest index via struct min).
    ``sv_name`` must name a column ATTRIBUTE (projection-staged), not
    a derived slice — the per-entry lambda references it once per
    codebook entry and interpreted HOF eval recomputes referenced
    subtrees.  Emitted as ONE parsed SQL expression (the nested
    HOF trio built Column-wise costs ~10 ms of py4j plan-build per
    subspace)."""
    l2 = (
        f"aggregate(zip_with({sv_name}, cv, (x, y) -> "
        f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
        f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), 0.0D, "
        f"(acc, v) -> acc + v)"
    )
    return F.expr(
        f"array_min(transform({_codebook_sql(codebook)}, (cv, i) -> "
        f"named_struct('d', {l2}, 'c', CAST(i AS INT)))).c"
    )


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> list[list[list[float]]]:
    """Per-subspace codebooks: ``codebooks[j][c]`` is the c-th centroid
    (dim/m floats) of subspace j.

    Seeds are the first ``n_codes`` vectors in xxhash64(id) order (the
    train_centroids determinism convention), refined by ``iters``
    Lloyd rounds over ALL subspaces in one DataFrame pass each:
    stage subvectors as attributes → per-subspace nearest code →
    posexplode → groupBy(subspace, code, pos) mean (the tall-aggregate
    pattern; wide avg(getItem(i)) rows codegen poorly).  Collected
    result is bounded at m × n_codes × dim/m = dim × n_codes scalars
    per round — never corpus-sized."""
    ds = dim // m
    if ds * m != dim:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    seeds = (
        corpus.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(n_codes)
        .collect()
    )
    if len(seeds) < n_codes:
        raise ValueError(
            f"corpus has {len(seeds)} rows < n_codes {n_codes}"
        )
    codebooks = [
        [
            [float(x) for x in r[vec_col]][j * ds : (j + 1) * ds]
            for r in seeds
        ]
        for j in range(m)
    ]
    for _ in range(iters):
        staged = corpus.select(
            *[
                F.slice(F.col(vec_col), j * ds + 1, ds).alias(f"__sv{j}")
                for j in range(m)
            ]
        )
        coded = staged.select(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    _nearest_code(f"__sv{j}", codebooks[j]).alias(
                        "code"
                    ),
                    F.col(f"__sv{j}").alias("sv"),
                ).alias(f"__s{j}")
                for j in range(m)
            ]
        )
        tall = (
            coded.select(
                F.explode(
                    F.array(*[F.col(f"__s{j}") for j in range(m)])
                ).alias("s")
            )
            .select(
                F.col("s.j").alias("j"),
                F.col("s.code").alias("code"),
                F.posexplode(F.col("s.sv")).alias("pos", "v"),
            )
            .groupBy("j", "code", "pos")
            .agg(F.avg("v").alias("mv"))
            .collect()
        )
        new_books = [
            [list(codebooks[j][c]) for c in range(n_codes)]
            for j in range(m)
        ]  # empty codes keep their previous centroid
        for r in tall:
            new_books[r["j"]][r["code"]][r["pos"]] = float(r["mv"])
        codebooks = new_books
    return codebooks


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Compress each vector to ``m`` small codes: (id, codes
    array<int>, rnorm).  ``rnorm`` is the norm of the PQ
    reconstruction, looked up from precomputed per-entry norms (a
    literal table — no vector math at encode time beyond assignment).

    Pure map stage: codebooks ride in the plan as literals, no
    shuffle, no Python — the 100 TB encode is one pass over the
    corpus writing m bytes per row instead of 4·dim."""
    m = len(codebooks)
    ds = len(codebooks[0][0])
    staged = corpus.select(
        F.col(id_col),
        *[
            F.slice(F.col(vec_col), j * ds + 1, ds).alias(f"__sv{j}")
            for j in range(m)
        ],
    )
    coded = staged.select(
        F.col(id_col),
        *[
            _nearest_code(f"__sv{j}", codebooks[j]).alias(f"__c{j}")
            for j in range(m)
        ],
    )
    # |reconstruction|^2 = sum_j |codebook[j][code_j]|^2
    sqn_tables = [
        _dlit_array([sum(x * x for x in cv) for cv in codebooks[j]])
        for j in range(m)
    ]
    rnorm_sq = None
    for j in range(m):
        term = F.element_at(sqn_tables[j], F.col(f"__c{j}") + 1)
        rnorm_sq = term if rnorm_sq is None else rnorm_sq + term
    return coded.select(
        F.col(id_col),
        F.array(*[F.col(f"__c{j}") for j in range(m)]).alias("codes"),
        F.sqrt(rnorm_sq).alias("rnorm"),
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ ANN via asymmetric distance computation (ADC): rank corpus
    codes by approximate cosine against exact query vectors.

    Query side precomputes, per subspace, the dot of its exact
    subvector with EVERY codebook entry (an m × n_codes table per
    query, built once); the broadcast-joined scoring is then m
    element_at lookups + adds per pair — plain scalar expressions
    inside codegen, no per-pair vector math at all.  cos_pq =
    Σ_j table_j[code_j] / (|q|·|reconstruction|).

    Scale shape: corpus side carries only (id, m codes, rnorm) — the
    whole index is ~m bytes/row, scanned embarrassingly parallel;
    queries broadcast.  Returns (query_id, neighbor_id, cos_pq, rank).
    """
    m = len(codebooks)
    ds = len(codebooks[0][0])
    enc = pq_encode(corpus, codebooks, vec_col, id_col).select(
        F.col(id_col).alias("neighbor_id"), "codes", "rnorm"
    )
    q_staged = queries.select(
        F.col(id_col).alias("query_id"),
        F.sqrt(V.dot(F.col(vec_col), F.col(vec_col))).alias("qnorm"),
        *[
            F.slice(F.col(vec_col), j * ds + 1, ds).alias(f"__qv{j}")
            for j in range(m)
        ],
    )
    def _qtable(j: int) -> Column:
        # one parsed expression per subspace (same plan-build tax
        # rationale as _nearest_code); the dot body is textually
        # V.dot's expression
        return F.expr(
            f"transform({_codebook_sql(codebooks[j])}, cv -> "
            f"aggregate(zip_with(__qv{j}, cv, (x, y) -> "
            f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, "
            f"(acc, v) -> acc + v))"
        )

    q_tabled = q_staged.select(
        "query_id",
        "qnorm",
        *[_qtable(j).alias(f"__t{j}") for j in range(m)],
    )
    approx_dot = None
    for j in range(m):
        term = F.element_at(
            F.col(f"__t{j}"), F.element_at(F.col("codes"), j + 1) + 1
        )
        approx_dot = term if approx_dot is None else approx_dot + term
    scored = (
        enc.join(
            F.broadcast(q_tabled),
            F.col("query_id") != F.col("neighbor_id"),
        )
        .select(
            "query_id",
            "neighbor_id",
            (approx_dot / (F.col("qnorm") * F.col("rnorm"))).alias(
                "cos_pq"
            ),
        )
    )
    return grouped_topk(scored, k, order_cols=("cos_pq",))


def pq_topk_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    shortlist: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ + exact re-ranking (the production ADC pipeline): take the
    PQ ``shortlist`` per query, fetch exact vectors for those
    candidates ONLY, exact-cosine re-rank to top ``k``.

    The expensive exact math touches |queries| × shortlist rows
    instead of |queries| × |corpus| — the re-rank join is an equi-join
    on neighbor id against the corpus (shuffle bounded by the
    shortlist size), queries broadcast.  Measured recall@10 ≈ 0.65+
    at shortlist 50 on the synthetic embeddings vs 0.25 for raw ADC
    ranking — re-ranking is where PQ earns its keep."""
    cand = pq_topk(
        corpus, queries, codebooks, k=shortlist, vec_col=vec_col,
        id_col=id_col,
    ).select("query_id", "neighbor_id")
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    scored = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            V.cosine(F.col("qv"), F.col("cv")).alias("cos"),
        )
    )
    return grouped_topk(scored, k)
