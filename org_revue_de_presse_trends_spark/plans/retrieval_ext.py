"""Late-registering retrieval/segmentation/normalization queries
(past the driver window; contract-gated): BM25 relevance scoring,
context-window token chunking (operators/packing.token_chunks), and
Unicode NFC canonicalization through the pandas-UDF escape hatch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import text as T
from ..operators.packing import token_chunks
from .registry import query

#: BM25 free parameters — the Robertson defaults
_K1 = 1.2
_B = 0.75


@query(
    "doc_bm25_rarest_terms",
    f"""
    WITH ex AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    qt AS (
        SELECT token FROM (
            SELECT token, COUNT(*) AS c FROM ex GROUP BY token
        ) ORDER BY c, token LIMIT 3
    ),
    dl AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        FROM documents
    ),
    stats AS (
        SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dl
    ),
    dfreq AS (
        SELECT token, COUNT(DISTINCT doc_id) AS df FROM ex
        WHERE token IN (SELECT token FROM qt) GROUP BY token
    ),
    tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM ex
        WHERE token IN (SELECT token FROM qt) GROUP BY doc_id, token
    ),
    scored AS (
        SELECT tf.doc_id,
               CAST(ROUND(
                   ln(1.0 + (CAST(s.n_docs AS DOUBLE)
                             - CAST(d.df AS DOUBLE) + 0.5)
                            / (CAST(d.df AS DOUBLE) + 0.5))
                   * (CAST(tf.tf AS DOUBLE) * ({_K1} + 1.0))
                   / (CAST(tf.tf AS DOUBLE)
                      + {_K1} * (1.0 - {_B}
                                 + {_B} * CAST(dl.dl AS DOUBLE)
                                   / (CAST(s.total_dl AS DOUBLE)
                                      / CAST(s.n_docs AS DOUBLE))))
                   * 1000000.0) AS BIGINT) AS s_scaled
        FROM tf
        JOIN dfreq d ON d.token = tf.token
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats s
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_hit_terms,
           CAST(ROUND(CAST(SUM(s_scaled) AS DOUBLE) / 1000000.0, 6)
                AS DOUBLE) AS bm25
    FROM scored GROUP BY doc_id
    """,
)
def doc_bm25_rarest_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance (Robertson et al., the Okapi formulation with
    Lucene's ln(1 + (N-df+0.5)/(df+0.5)) idf; k1=1.2, b=0.75) of every
    document against the query made of the corpus's three globally
    rarest tokens (ties by token — fully deterministic, no fixture
    vocab hardcoded).  Per-term scores are rounded to scaled longs
    before the per-doc sum (the surprisal discipline) so the
    cross-engine doubles are exact.

    Scale shape: query terms and their document frequencies are
    broadcast 3-row tables; tf is one semi-joined map-side-combinable
    aggregate; doc lengths ride a per-doc projection.  No windows over
    the corpus, no self-joins.  Dead end (r10): localCheckpoint-ing
    the exploded token stream (it feeds both counts and hits) measured
    a WASH at sf0.1 (0.764 vs 0.768 interleaved best-of-4) — the
    re-tokenize is cheaper than the materialization; don't retry."""
    d = load_table(spark, sf_dir, "documents")
    ex = d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("token"))
    counts = ex.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    qt = counts.orderBy("c", "token").limit(3).select("token")
    dl = d.select(
        "doc_id", F.size(T.tokens(F.col("text"))).cast("long").alias("dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_dl")
    )
    hits = ex.join(F.broadcast(qt), "token")
    dfreq = hits.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df")
    )
    tf = hits.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    k1, b = _K1, _B
    avgdl = F.col("total_dl").cast("double") / F.col("n_docs").cast("double")
    idf = F.log(
        1.0
        + (F.col("n_docs").cast("double") - F.col("df").cast("double") + 0.5)
        / (F.col("df").cast("double") + 0.5)
    )
    denom = F.col("tf").cast("double") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl").cast("double") / avgdl
    )
    score = idf * (F.col("tf").cast("double") * F.lit(k1 + 1.0)) / denom
    scaled = F.round(score * F.lit(1000000.0)).cast("long")
    return (
        tf.join(F.broadcast(dfreq), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", scaled.alias("__s"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hit_terms"),
            F.round(
                F.sum("__s").cast("double") / F.lit(1000000.0), 6
            ).alias("bm25"),
        )
    )


@query(
    "doc_token_chunks",
    """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    )
    SELECT doc_id,
           CAST(u.i AS BIGINT) AS chunk_idx,
           array_to_string(list_slice(t, u.i * 24 + 1, u.i * 24 + 32),
                           ' ') AS chunk_text,
           CAST(LEAST(32, len(t) - u.i * 24) AS BIGINT) AS n_tokens
    FROM toks, UNNEST(range(0, (len(t) - 1) // 24 + 1)) AS u(i)
    """,
)
def doc_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (operators/packing.token_chunks):
    32-token chunks at stride 24 (8-token overlap), the segmentation
    step upstream of sequence packing.  Chunk structs are built inside
    the array domain and exploded once — the token array is never
    copied per chunk (see the operator docstring for the giant-doc
    argument)."""
    d = load_table(spark, sf_dir, "documents")
    return token_chunks(d, size=32, stride=24)


@query(
    "doc_nfc_normalization",
    """
    WITH synth AS (
        SELECT doc_id,
               replace(text, 'a', 'a' || chr(769)) AS raw
        FROM documents
    )
    SELECT doc_id,
           CAST(len(raw) AS BIGINT) AS n_raw_chars,
           CAST(len(nfc_normalize(raw)) AS BIGINT) AS n_nfc_chars,
           md5(nfc_normalize(raw)) AS nfc_md5
    FROM synth
    """,
)
def doc_nfc_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC canonicalization through the pandas-UDF escape
    hatch (functions/udf_escape.nfc_normalize_pandas — Spark has no
    built-in normalizer), oracled against DuckDB's native
    nfc_normalize: both implement UAX #15, so the canonical
    compositions agree byte-for-byte (md5 over UTF-8).

    Fixture text is ASCII, where NFC is the identity — so the query
    first synthesizes decomposed sequences deterministically (every
    'a' gains a combining acute U+0301), the image_near_dup_from_docs
    pattern of deriving non-trivial inputs as a pure function of the
    fixture.  n_raw_chars − n_nfc_chars = number of compositions.

    Scale: map-only (one Arrow-batched UDF pass), no shuffle.
    Dead end (r10): spread_for_cpu LOST here (0.44 vs 0.57 interleaved
    best-of-4 at sf0.1 despite tasks=1) — unicodedata.normalize over
    ~1 KB texts is too light to pay for the exchange + a second
    python-worker wave; don't retry."""
    from ..functions.udf_escape import nfc_normalize_pandas

    d = load_table(spark, sf_dir, "documents")
    raw = F.replace(F.col("text"), F.lit("a"), F.lit("a\u0301"))  # decomposed: a + combining acute
    nfc = nfc_normalize_pandas()(F.col("__raw"))
    return (
        d.select("doc_id", raw.alias("__raw"))
        .select(
            "doc_id",
            F.length("__raw").cast("long").alias("n_raw_chars"),
            nfc.alias("__nfc"),
        )
        .select(
            "doc_id",
            "n_raw_chars",
            F.length("__nfc").cast("long").alias("n_nfc_chars"),
            F.md5(F.col("__nfc")).alias("nfc_md5"),
        )
    )


#: embedding dimensionality of the fixture table
_PCA_DIM = 64


@query(
    "embedding_pca_covariance",
    f"""
    WITH pr AS (
        SELECT CAST(i.i AS INTEGER) AS i, CAST(j.j AS INTEGER) AS j
        FROM range(1, {_PCA_DIM + 1}) AS i(i),
             range(1, {_PCA_DIM + 1}) AS j(j)
        WHERE j.j >= i.i
    ),
    t AS (
        SELECT p.i, p.j,
               CAST(ROUND(CAST(e.embedding[p.i] AS DOUBLE)
                          * CAST(e.embedding[p.j] AS DOUBLE)
                          * 1000000000000.0) AS BIGINT) AS t
        FROM embeddings e, pr p
    ),
    sxy AS (
        SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(t) AS BIGINT) AS sxy_scaled
        FROM t GROUP BY 1, 2
    ),
    c AS (
        SELECT CAST(d.i AS INTEGER) AS i,
               CAST(SUM(CAST(ROUND(CAST(e.embedding[CAST(d.i AS INTEGER)]
                                        AS DOUBLE)
                                   * 1000000.0) AS BIGINT)) AS BIGINT) AS sx
        FROM embeddings e, range(1, {_PCA_DIM + 1}) AS d(i)
        GROUP BY 1
    )
    SELECT sxy.i, sxy.j, sxy.n, sxy.sxy_scaled,
           ROUND(CAST(sxy.sxy_scaled AS DOUBLE) / CAST(sxy.n AS DOUBLE)
                     / 1000000000000.0
                 - (CAST(a.sx AS DOUBLE) / CAST(sxy.n AS DOUBLE)
                        / 1000000.0)
                   * (CAST(b.sx AS DOUBLE) / CAST(sxy.n AS DOUBLE)
                        / 1000000.0), 9) AS cov
    FROM sxy JOIN c a ON a.i = sxy.i JOIN c b ON b.i = sxy.j
    """,
)
def embedding_pca_covariance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact covariance of the embedding table's 64 coordinates
    (operators/pca.covariance_exact — upper triangle, 2080 entries):
    per-row products rounded to scaled longs, exact integer sums, one
    pinned IEEE expression for the centered covariance — value-exact
    in DuckDB at any partitioning."""
    from ..operators.pca import covariance_exact
    from ..operators.skew import spread_for_cpu

    # single-split scan feeding the interpreted 2080-term HOF fan —
    # the spread_for_cpu shape; measured best-of-3 at sf0.1 (see
    # ARCHITECTURE note)
    emb = spread_for_cpu(
        load_table(spark, sf_dir, "embeddings").select("embedding")
    )
    return covariance_exact(emb, dim=_PCA_DIM)
