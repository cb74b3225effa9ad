"""Linear quality-classifier training over hashed bag-of-words
features (fastText-style shallow text classifier — Joulin et al. 2017;
logistic regression via full-batch gradient descent; public
algorithms).  The MODEL-TRAINING stage of a quality-classifier
curation loop — `operators/evalmetrics.py` is its evaluation stage and
`plans/classifier_ext.py` wires the two together.

This is the quality-filter path (deterministic, oracled, CLI-wired
via ``prepare-corpus --classifier-model``).

Features: token → md5-prefix bucket (`int(md5(t)[:6], 16) % dim` —
exactly `urls.md5_bucket_sql(…, 6) % dim`, so SQL scoring in EITHER
engine reproduces the Python featurizer bit-for-bit), x_b =
count_b / n_tokens, plus an intercept.

Scale shape: ONE text pass total (tokenize + md5-bucket, materialized
as ≤dim ints per doc behind a localCheckpoint — far smaller than the
text it replaces), then one featurized-corpus pass per GD iteration,
map-only + one ≤(dim+1)-row exact aggregation — the model state
(dim+1 floats) broadcasts in the closure; nothing corpus-sized ever
collects on the distributed path.

Driver ≡ distributed bit-identity (the unigram/r7b recipe): floats
enter ONLY inside the per-document gradient (sigmoid — the same
Python function evaluated per row on both paths); each document's
gradient quantizes to 1e9-scaled integers before an exact,
order-independent accumulation (Python int / decimal(38,0) sum), and
the weight update runs on the driver over identical integers.  The
quantization is part of the model definition.

Scoring for EVALUATION is rank-exact without libm: sigmoid is
monotone, so AUC/threshold sweeps over `w·x` equal those over
`sigmoid(w·x + b)`; `w·x` itself is computed as the exact integer
`Σ count_b · round(w_b·1e9)` divided once by `n_tokens` — one pinned
IEEE division over exact operands, identical cross-engine (see
`score_scaled_sql`).
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: gradient quantization scale — exact-integer accumulation makes
#: driver and distributed training bit-identical
G_SCALE = 1_000_000_000


def token_bucket(token: str, dim: int) -> int:
    """Python mirror of ``urls.md5_bucket_sql(engine, token, 6) % dim``."""
    return int(hashlib.md5(token.encode()).hexdigest()[:6], 16) % dim


def _doc_features(text: str, dim: int) -> tuple[dict[int, int], int]:
    counts: dict[int, int] = {}
    n = 0
    if not isinstance(text, str):  # NULL text → no features
        return counts, n
    for t in text.split(" "):
        if not t:
            continue
        n += 1
        b = token_bucket(t, dim)
        counts[b] = counts.get(b, 0) + 1
    return counts, n


def _grad_from_features(
    counts: dict[int, int], n: int, y: int, w: list[float], b: float
) -> tuple[dict[int, int], int]:
    """Quantized logistic-loss gradient from PRE-BUILT features — the
    one place floats exist during training; identical on both paths.
    ``counts`` iteration order is the ``_doc_features`` insertion
    order (float sum order is part of the model definition — the
    committed ``_MODEL_WQ`` literals pin it)."""
    if n == 0:
        return {}, 0
    z = b + sum(w[k] * c for k, c in counts.items()) / n
    # numerically-stable sigmoid; same branch structure everywhere
    p = 1.0 / (1.0 + math.exp(-z)) if z >= 0 else (
        math.exp(z) / (1.0 + math.exp(z))
    )
    g = p - y
    gq = {
        k: q
        for k, c in counts.items()
        if (q := round(g * c / n * G_SCALE))
    }
    return gq, round(g * G_SCALE)


def train_logreg(
    docs: DataFrame,
    label: Column,
    text_col: str = "text",
    dim: int = 64,
    iters: int = 12,
    lr: float = 2.0,
    max_docs: int = 100_000,
    distributed: str = "auto",
) -> tuple[list[float], float]:
    """Learn (weights[dim], bias) for P(label | hashed-BoW(text)).

    ``distributed="auto"`` switches to the mapInPandas gradient path
    past ``max_docs`` (the corpus never collects); ``"never"`` /
    ``"always"`` force a path — outputs are bit-identical whichever
    runs (tests pin equality)."""
    if distributed not in ("auto", "never", "always"):
        raise ValueError(
            f"distributed must be auto|never|always, got {distributed!r}"
        )
    # NULL label = unknown ground truth — dropped, never a negative
    # (the evalmetrics convention; review-aligned r9).  NOT
    # checkpointed (review-caught r10): base is read exactly twice
    # (count, then collect/featurize) on either path, so a checkpoint
    # saves nothing while pinning corpus-sized TEXT blocks in executor
    # storage for the whole GD loop — the featurized frame below is
    # the only thing iterations re-read, and it is ≤dim ints per doc.
    base = docs.filter(label.isNotNull()).select(
        F.col(text_col).alias("text"),
        F.when(label, 1).otherwise(0).alias("y"),
    )
    n = base.count()
    if n == 0:
        raise ValueError("empty training set")
    use_dist = distributed == "always" or (
        distributed == "auto" and n > max_docs
    )
    # BOTH paths featurize ONCE — tokenize + md5-bucket are
    # iteration-independent, and recomputing them per GD iteration
    # dominated the loop (measured 6.0 → 1.5 s for 12 iterations over
    # 5000 sf0.1 docs on the driver path; weights bit-identical: the
    # counts dicts are the same objects _doc_features builds, so float
    # sum order is unchanged).  The distributed path materializes the
    # featurized corpus (keys/counts arrays in _doc_features insertion
    # order — Python dicts preserve it, so rebuilding dict(zip(ks, cs))
    # per iteration feeds _grad_from_features the identical float sum
    # order) behind a localCheckpoint: at 100 TB the featurized frame
    # is ≤dim ints per doc — far smaller than the text it replaces —
    # and every GD iteration after the first reads IT instead of
    # re-tokenizing the corpus (iters× fewer text passes).
    feats = None
    feats_df = None
    if use_dist:

        def featurize(batches):
            for pdf in batches:
                rows = [
                    (_doc_features(t, dim), int(y))
                    for t, y in zip(pdf["text"], pdf["y"])
                ]
                yield pd.DataFrame(
                    {
                        "ks": [list(c) for (c, _n), _y in rows],
                        "cs": [list(c.values()) for (c, _n), _y in rows],
                        "nt": [n0 for (_c, n0), _y in rows],
                        "y": [y for _f, y in rows],
                    }
                )

        feats_df = base.mapInPandas(
            featurize, "ks array<int>, cs array<int>, nt int, y int"
        ).localCheckpoint(eager=True)
    else:
        feats = [
            (_doc_features(r["text"], dim), int(r["y"]))
            for r in base.collect()
        ]
    w = [0.0] * dim
    b = 0.0

    def grad_sums(cw: list[float], cb: float) -> dict[int, int]:
        """{feature: Σ quantized grads} with the intercept at key -1 —
        exact integers, identical on both paths."""
        if not use_dist:
            acc: dict[int, int] = {}
            for (counts, nt), y in feats:
                gq, gb = _grad_from_features(counts, nt, y, cw, cb)
                for k, q in gq.items():
                    acc[k] = acc.get(k, 0) + q
                if gb:
                    acc[-1] = acc.get(-1, 0) + gb
            return acc

        def gen(batches):
            for pdf in batches:
                acc: dict[int, int] = {}
                for ks, cs, nt, y in zip(
                    pdf["ks"], pdf["cs"], pdf["nt"], pdf["y"]
                ):
                    # Arrow hands back numpy int32s — rebuild pure
                    # Python ints in the stored (insertion) order so
                    # the float-op sequence is exactly the driver one
                    counts = {int(k): int(c) for k, c in zip(ks, cs)}
                    gq, gb = _grad_from_features(
                        counts, int(nt), int(y), cw, cb
                    )
                    for k, q in gq.items():
                        acc[k] = acc.get(k, 0) + q
                    if gb:
                        acc[-1] = acc.get(-1, 0) + gb
                if acc:
                    yield pd.DataFrame(
                        {"k": list(acc), "q": list(acc.values())}
                    )

        out = (
            feats_df.mapInPandas(gen, "k int, q decimal(38,0)")
            .groupBy("k")
            .agg(F.sum("q").alias("q"))
            .collect()
        )
        return {int(r["k"]): int(r["q"]) for r in out}

    for _ in range(iters):
        gs = grad_sums(w, b)
        for k, q in gs.items():
            step = lr * q / (n * G_SCALE)
            if k == -1:
                b -= step
            else:
                w[k] -= step
    return w, b


def scaled_weights(w: list[float]) -> list[int]:
    """Plan-time integer weights for exact-integer scoring."""
    return [round(x * G_SCALE) for x in w]


def model_artifact(w: list[float], b: float, dim: int) -> dict:
    """The ``prepare-corpus --classifier-model`` JSON artifact —
    ``{"wq", "bq", "dim"}`` — from ``train_logreg`` output.  Both
    quantizations use the same ``round(x·G_SCALE)`` that defines the
    model (scaled_weights); hand-rolling bq invites the half-even /
    half-up rounding traps this helper exists to remove
    (review-caught r10: the CLI help documented an artifact shape no
    repo function actually emitted)."""
    if len(w) != dim:
        raise ValueError(f"need {dim} weights, got {len(w)}")
    return {
        "wq": scaled_weights(w),
        "bq": round(b * G_SCALE),
        "dim": dim,
    }


def with_classifier_score(
    df: DataFrame,
    wq: list[int],
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "clf_score",
    bq: int = 0,
) -> DataFrame:
    """``df`` plus the rank-exact integer-arithmetic classifier score
    ``Σ count_b·wq_b / n_tokens + bq`` per document.  At the default
    ``bq=0`` this is exactly the DataFrame form of ``score_scaled_sql``
    (same expressions, identical values); with ``bq≠0`` it adds the
    constant intercept term that ``score_scaled_sql`` deliberately
    omits (rank-equal, value-shifted by bq).  With ``bq = round(b·G_SCALE)`` (the trained intercept,
    scaled) the score is exactly ``G_SCALE × logit``, so a sigmoid-
    probability cut p maps to threshold ``G_SCALE·ln(p/(1-p))``; with
    the default ``bq=0`` the scale is G_SCALE × logit-without-intercept
    (rank-identical — the constant shift moves every doc equally, r9
    verdict item 5).  Documents whose text has no non-empty token get
    NULL (no features → no score).  Scale shape: explode + one
    map-side-combined groupBy(doc, bucket) + per-doc aggregate — the
    weight array is a plan literal, never a join."""
    from .urls import md5_bucket_sql

    if len(wq) != dim:
        raise ValueError(f"need {dim} weights, got {len(wq)}")
    bucket = f"({md5_bucket_sql('spark', 't', 6)} % {dim})"
    witems = ", ".join(str(int(x)) for x in wq)
    scored = (
        df.select(
            F.col(id_col).alias("__cid"),
            F.explode(F.split(F.col(text_col), " ")).alias("t"),
        )
        .filter(F.col("t") != "")
        .groupBy("__cid", F.expr(f"{bucket} AS b"))
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("__cid")
        .agg(
            F.expr(
                f"CAST(SUM(c * element_at(array({witems}),"
                f" CAST(b + 1 AS INT))) AS DOUBLE)"
                f" / CAST(SUM(c) AS DOUBLE)"
                f" + CAST({int(bq)} AS DOUBLE)"
            ).alias(out_col)
        )
    )
    return df.join(
        scored, df[id_col] == scored["__cid"], "left"
    ).drop("__cid")


def score_scaled_sql(
    engine: str, wq: list[int], dim: int, doc_table_sql: str
) -> str:
    """Rank-exact classifier score over ``doc_table_sql`` (must expose
    doc_id and text) as one SQL string per engine: per-doc
    ``CAST(Σ count_b·wq_b AS DOUBLE) / n_tokens`` — monotone in
    sigmoid(w·x + b) (the /G_SCALE and +bias constants drop), exact
    integer operands into ONE pinned division, so both engines emit
    identical doubles.  The bucket expression is the shared
    ``urls.md5_bucket_sql`` recipe."""
    from .urls import md5_bucket_sql

    if len(wq) != dim:
        raise ValueError(f"need {dim} weights, got {len(wq)}")
    bucket = f"({md5_bucket_sql(engine, 't', 6)} % {dim})"
    items = ", ".join(str(int(x)) for x in wq)
    warr = f"({items})" if engine == "spark" else f"[{items}]"
    # n_tokens = SUM of the per-bucket counts of the FILTERED token
    # stream — matches the Python featurizer's non-empty count exactly
    # (size(split(...)) would count empty tokens from double spaces)
    if engine == "spark":
        return f"""
        WITH toks AS (
            SELECT doc_id, t FROM (
                SELECT doc_id, explode(split(text, ' ')) AS t
                FROM ({doc_table_sql})
            ) WHERE t <> ''
        ),
        cb AS (
            SELECT doc_id, {bucket} AS b, COUNT(*) AS c
            FROM toks GROUP BY doc_id, {bucket}
        )
        SELECT doc_id,
               CAST(SUM(c * element_at(array{warr},
                        CAST(b + 1 AS INT))) AS DOUBLE)
                   / CAST(SUM(c) AS DOUBLE) AS score
        FROM cb GROUP BY doc_id
        """
    return f"""
    WITH toks AS (
        SELECT doc_id, t FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS t
            FROM ({doc_table_sql})
        ) _ WHERE t <> ''
    ),
    cb AS (
        SELECT doc_id, {bucket} AS b, CAST(COUNT(*) AS BIGINT) AS c
        FROM toks GROUP BY doc_id, {bucket}
    )
    SELECT doc_id,
           CAST(SUM(c * ({warr})[b + 1]) AS DOUBLE)
               / CAST(SUM(c) AS DOUBLE) AS score
    FROM cb GROUP BY doc_id
    """
