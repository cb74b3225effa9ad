"""Second extension wave of the driver suite (round 5): a banded range
join, duplicate-span profiling, bigram PMI collocations, and
date-spine densification.  (Exact percentiles, pivot and ntile were
already covered by driver_queries_ext — checked before adding.)

These register AFTER the round-4 set, so with stable ordering they sit
past the driver's 50-slot evaluation window — their hash gate is the
in-repo contract test (tests/test_driver_contract.py runs every
registered query against its DuckDB oracle at sf0.01), which is the
same comparison the driver performs.

Cross-engine invariants observed throughout (CLAUDE.md): aggregate
sums decimal-exact before the double cast, every top-k carries a total
order, count-typed pivot cells cast to BIGINT on both sides, log/ratio
formulas written textually identical in Spark and SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import pii as P
from ..functions import text as T
from .registry import query


# ---------------------------------------------------------------------------
# Banded range join (the scale pattern for non-equi interval joins)
# ---------------------------------------------------------------------------


@query(
    "orders_nearby_count",
    """
    SELECT o1.o_orderkey,
           COUNT(o2.o_orderkey) AS n_nearby
    FROM orders o1
    LEFT JOIN orders o2
      ON CAST(o2.o_orderdate AS DATE)
           BETWEEN CAST(o1.o_orderdate AS DATE) - 2
               AND CAST(o1.o_orderdate AS DATE) + 2
     AND o2.o_orderkey <> o1.o_orderkey
    GROUP BY o1.o_orderkey
    """,
)
def orders_nearby_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-join COUNT pushed through the join: because the predicate
    touches only the day, the pair enumeration collapses to per-day
    counts (|days| rows, not |orders|² pairs) + a RANGE-frame window
    sum over ±2 days + a broadcast join back to orders; n_nearby =
    window_sum − 1 (exclude self).  Measured 20.3 s → sub-second at
    sf0.1 vs the banded pair join, identical relation (the oracle
    stays the naive non-equi join, so the rewrite is verified, not
    assumed)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        ).alias("day"),
    )
    daily = o.groupBy("day").agg(F.count(F.lit(1)).alias("n_day"))
    w = Window.orderBy("day").rangeBetween(-2, 2)
    nearby = daily.select(
        "day", (F.sum("n_day").over(w) - F.lit(1)).alias("n_nearby")
    )
    return o.join(F.broadcast(nearby), "day").select(
        "o_orderkey", "n_nearby"
    )


# ---------------------------------------------------------------------------
# Duplicate-span profiling (training-data diagnostics)
# ---------------------------------------------------------------------------


@query(
    "doc_duplicate_spans",
    """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id,
               list_transform(
                   range(1, len(t) - 5 + 2),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                        || t[i+3] || ' ' || t[i+4]
               ) AS gs
        FROM toks WHERE len(t) >= 5
    ),
    ex AS (SELECT DISTINCT doc_id, unnest(gs) AS g FROM grams),
    df AS (
        SELECT g, COUNT(DISTINCT doc_id) AS df FROM ex GROUP BY g
    )
    SELECT t.doc_id,
           CAST(COALESCE(SUM(CASE WHEN df.df >= 2 THEN 1 END), 0)
                AS BIGINT) AS n_shared_spans
    FROM toks t
    LEFT JOIN ex ON ex.doc_id = t.doc_id
    LEFT JOIN df ON df.g = ex.g
    GROUP BY t.doc_id
    """,
)
def doc_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document count of distinct 5-token spans that also occur in
    at least one OTHER document — the span-duplication profile behind
    suffix-array dedup decisions (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better": repeated-substring
    removal; this is its bounded n-gram diagnostic).

    Spans travel as 64-bit shingle fingerprints on the Spark side (the
    MinHash machinery, functions/text.py) while the oracle builds the
    literal strings — counts agree because xxhash64 collisions are
    negligible at corpus scale.  Shuffle carries (doc_id, hash) pairs
    only; the df table groups by hash.

    The document frequency rides as a WINDOW count over the gram key
    (count(*) over partition h on the per-doc-distinct rows), not a
    separate groupBy+join: a df table would make the heavy explode
    pipeline feed two consumers, and the optimizer provably bypasses a
    repartition barrier here (the distinct merges into the
    count-distinct rewrite on the build side — measured: upstream ran
    twice).  The window keeps ONE pass — the same df-via-window trick
    as shingle_pairs_jaccard's stop-shingle cap.  Measured ~25% faster
    at sf0.1 and one fewer corpus scan, value-identical."""
    d = load_table(spark, sf_dir, "documents")
    sh = T.with_shingle_hashes(d.select("doc_id", "text"), "text", "sh", k=5)
    ex = (
        sh.filter(F.size(T.tokens(F.col("text"))) >= 5)
        .select("doc_id", F.explode("sh").alias("h"))
        .distinct()
    )
    w = Window.partitionBy("h")
    shared = (
        ex.withColumn("df", F.count(F.lit(1)).over(w))
        .filter(F.col("df") >= 2)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        d.select("doc_id")
        .join(shared, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_shared"), F.lit(0)).alias("n_shared_spans"),
        )
    )


# ---------------------------------------------------------------------------
# Bigram PMI collocations (text analytics)
# ---------------------------------------------------------------------------


@query(
    "token_bigram_pmi",
    """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    uni AS (
        SELECT unnest(t) AS w FROM toks
    ),
    uc AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
    nu AS (SELECT COUNT(*) AS n_uni FROM uni),
    bi AS (
        SELECT t[i] AS w1, t[i+1] AS w2
        FROM toks, unnest(range(1, len(t))) AS r(i)
        WHERE len(t) >= 2
    ),
    bc AS (SELECT w1, w2, COUNT(*) AS c_ab FROM bi GROUP BY w1, w2),
    nb AS (SELECT COUNT(*) AS n_bi FROM bi)
    SELECT w1, w2, c_ab,
           ln((CAST(c_ab AS DOUBLE) / n_bi)
              / ((CAST(ca.c AS DOUBLE) / n_uni)
                 * (CAST(cb.c AS DOUBLE) / n_uni))) AS pmi
    FROM bc
    JOIN uc ca ON ca.w = bc.w1
    JOIN uc cb ON cb.w = bc.w2
    CROSS JOIN nu CROSS JOIN nb
    WHERE c_ab >= 5
    ORDER BY pmi DESC, w1, w2
    LIMIT 20
    """,
)
def token_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram collocations by pointwise mutual information,
    min count 5: pmi = ln(p(ab) / (p(a)·p(b))) from exact integer
    counts (deterministic cross-engine; the formula is written
    textually identical in both engines so the doubles agree).

    Plan shape: tokens staged once behind a projection boundary (HOF
    invariant), bigrams via zip_with over shifted slices (never
    indexing the source array in a lambda), unigram/bigram totals ride
    as broadcast 1-row aggregates, count tables join on token keys.
    Total order: (pmi DESC, w1, w2)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(T.tokens(F.col("text")).alias("t"))
    uni = toks.select(F.explode("t").alias("w"))
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    nu = uni.agg(F.count(F.lit(1)).alias("n_uni"))
    bi = (
        toks.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("t"), 1, F.size("t") - 1),
                    F.slice(F.col("t"), 2, F.size("t") - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    bc = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    nb = bi.agg(F.count(F.lit(1)).alias("n_bi"))
    ca = uc.select(F.col("w").alias("w1"), F.col("c").alias("c_a"))
    cb = uc.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))
    scored = (
        bc.filter(F.col("c_ab") >= 5)
        .join(F.broadcast(ca), "w1")
        .join(F.broadcast(cb), "w2")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .select(
            "w1",
            "w2",
            "c_ab",
            F.log(
                (F.col("c_ab").cast("double") / F.col("n_bi"))
                / (
                    (F.col("c_a").cast("double") / F.col("n_uni"))
                    * (F.col("c_b").cast("double") / F.col("n_uni"))
                )
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.desc("pmi"), F.asc("w1"), F.asc("w2")
    ).limit(20)


# ---------------------------------------------------------------------------
# Date-spine densification (calendar join)
# ---------------------------------------------------------------------------


@query(
    "events_daily_dense",
    """
    WITH bounds AS (
        SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi
        FROM events
    ),
    spine AS (
        SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY))
                    AS DATE) AS day
        FROM bounds
    ),
    daily AS (
        SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
        FROM events GROUP BY day
    )
    SELECT spine.day, CAST(COALESCE(daily.n, 0) AS BIGINT) AS n_events
    FROM spine LEFT JOIN daily ON spine.day = daily.day
    """,
)
def events_daily_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification: a generated date spine (min..max day)
    left-joined with daily counts so gap days surface as zeros — the
    standard time-series completeness join.  The spine is built from a
    broadcast 1-row min/max aggregate with ``sequence`` + explode (no
    driver round-trip), and the daily-count side arrives pre-aggregated
    so the join is one small broadcast."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.to_date(F.min("ts")).alias("lo"), F.to_date(F.max("ts")).alias("hi")
    )
    spine = bounds.select(
        F.explode(
            F.sequence(
                F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 DAY")
            )
        ).alias("day")
    )
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return spine.join(F.broadcast(daily), "day", "left").select(
        "day", F.coalesce(F.col("n"), F.lit(0)).alias("n_events")
    )


# ---------------------------------------------------------------------------
# Deterministic weighted sampling (training-data subsampling primitive)
# ---------------------------------------------------------------------------


@query(
    "doc_weighted_sample",
    """
    WITH keyed AS (
        SELECT doc_id, lang, n_chars,
               ROUND(POWER(
                   (CAST((((doc_id % 2147483648) + 2147483648)
                          % 2147483648 * 2654435761) % 4294967296
                         AS DOUBLE) + 0.5) / 4294967296.0,
                   1.0 / CAST(n_chars AS DOUBLE)
               ), 9) AS priority
        FROM documents
        WHERE n_chars > 0
    )
    SELECT doc_id, lang, n_chars, priority
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY lang ORDER BY priority DESC, doc_id
        ) AS rn
        FROM keyed
    )
    WHERE rn <= 10
    """,
)
def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, distributed and
    DETERMINISTIC: Efraimidis–Spirakis A-Res (Inf. Proc. Letters 2006)
    — per row draw u ∈ (0,1), keep the top-k by priority u^(1/w) —
    with the uniform u derived from a Knuth multiplicative hash of the
    row id instead of an RNG, so reruns and layout changes cannot
    change the sample (the packing/mixing determinism invariant) and
    DuckDB reproduces it bit-for-bit.  Weight = n_chars: longer docs
    proportionally likelier, the standard size-weighted corpus
    subsample.  Per-lang top-10; per-group top-k via the usual window
    with a doc_id tiebreak.  The priority is rounded to 9 decimals
    before ranking so a last-ulp pow() difference between the JVM and
    libm can never flip the selection, and the hash mix reduces the
    id mod 2^31 before multiplying so ANSI overflow is impossible for
    every possible long id.

    Scale: one projection + one per-group top-k — no shuffle beyond
    the grouped rank, no driver-side RNG state."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    # pmod(id, 2^31) * K < 2^63 for EVERY long id — the mix cannot
    # overflow under ANSI no matter how the id range grows (the raw
    # id * K form detonates at id >= 2^63/K ~ 3.5e9)
    u = (
        F.pmod(
            F.pmod(F.col("doc_id"), F.lit(2147483648))
            * F.lit(2654435761),
            F.lit(4294967296),
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    keyed = d.select(
        "doc_id", "lang", "n_chars",
        # rounded to 9 decimals BEFORE the rank: JVM Math.pow and
        # libm pow may differ in the last ulp, and the top-k selection
        # must not hinge on it — both engines rank the rounded key
        F.round(
            F.pow(u, F.lit(1.0) / F.col("n_chars").cast("double")), 9
        ).alias("priority"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("priority"), F.asc("doc_id")
    )
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("doc_id", "lang", "n_chars", "priority")
    )


# ---------------------------------------------------------------------------
# PII redaction (training-data cleaning stage)
# ---------------------------------------------------------------------------

# The corpus fixture is synthetic word-salad with no digits, so the
# query PLANTS deterministic synthetic PII as a function of doc_id —
# with the *identical* derivation in the DuckDB oracle — then redacts
# it.  That turns the hash compare into a real cross-engine check of
# Java-regex vs RE2 semantics (match sets, greediness, \b boundaries),
# instead of a vacuous all-zeros pass.  Plant order below must match
# the Spark concat order exactly.
_PII_PLANT_SQL = """planted AS (
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 7 = 0
                       THEN ' mail user' || CAST(doc_id AS VARCHAR)
                            || '@example.com' ELSE '' END
               || CASE WHEN doc_id % 19 = 0
                       THEN ' card 4111 1111 1111 1111' ELSE '' END
               || CASE WHEN doc_id % 11 = 0
                       THEN ' call (415) 555-'
                            || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       ELSE '' END
               || CASE WHEN doc_id % 13 = 0
                       THEN ' ssn 078-05-'
                            || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       ELSE '' END
               || CASE WHEN doc_id % 17 = 0
                       THEN ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                            || '.77' ELSE '' END
               AS text
        FROM documents
    )"""


@query(
    "doc_pii_redaction",
    f"""
    WITH {_PII_PLANT_SQL},
    {P.oracle_redaction_ctes('planted')}
    SELECT doc_id, n_email, n_card, n_phone, n_ssn, n_ipv4,
           md5(text) AS red_md5,
           CAST(length(text) AS BIGINT) AS red_len
    FROM {P.FINAL_PII_STAGE}
    """,
)
def doc_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (functions/pii.py): plant synthetic emails /
    cards / phones / SSNs / IPv4s keyed on doc_id, then run the
    fixed-order staged redaction and report per-class counts plus the
    md5 of the fully redacted text (character-for-character agreement
    with the oracle's RE2 redaction).

    Scale: a pure map stage — regex built-ins inside whole-stage
    codegen, embarrassingly parallel over splits; `spread_for_cpu`
    because a small corpus arrives as ONE split and the staged-regex
    chain is scan-stage CPU work with no downstream shuffle to
    re-parallelize it (r6 A/B best-of-3 at sf0.1: 0.69 → 0.38 s)."""
    from ..operators.skew import spread_for_cpu

    d = spread_for_cpu(load_table(spark, sf_dir, "documents"))
    did = F.col("doc_id")

    def _plant(mod: int, frag):
        return F.when(did % mod == 0, frag).otherwise(F.lit(""))

    mod4 = F.lpad(F.pmod(did, F.lit(10000)).cast("string"), 4, "0")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            _plant(
                7,
                F.concat(
                    F.lit(" mail user"),
                    did.cast("string"),
                    F.lit("@example.com"),
                ),
            ),
            _plant(19, F.lit(" card 4111 1111 1111 1111")),
            _plant(11, F.concat(F.lit(" call (415) 555-"), mod4)),
            _plant(13, F.concat(F.lit(" ssn 078-05-"), mod4)),
            _plant(
                17,
                F.concat(
                    F.lit(" ip 10.0."),
                    F.pmod(did, F.lit(256)).cast("string"),
                    F.lit(".77"),
                ),
            ),
        ).alias("text"),
    )
    red = P.with_pii_redacted(planted)
    return red.select(
        "doc_id",
        "n_email",
        "n_card",
        "n_phone",
        "n_ssn",
        "n_ipv4",
        F.md5(F.col("text_redacted")).alias("red_md5"),
        F.length("text_redacted").cast("long").alias("red_len"),
    )


# ---------------------------------------------------------------------------
# Cross-source n-gram overlap (corpus contamination matrix)
# ---------------------------------------------------------------------------


@query(
    "source_ngram_overlap",
    """
    WITH toks AS (
        SELECT source, string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ),
    g AS (
        SELECT DISTINCT source,
               unnest(list_transform(
                   range(1, len(t) - 2 + 1),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
               )) AS shingle
        FROM toks
    ),
    ex AS (
        SELECT source, shingle,
               COUNT(*) OVER (PARTITION BY source) AS n
        FROM g
    ),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b,
               a.n AS n_a, b.n AS n_b, COUNT(*) AS n_inter
        FROM ex a JOIN ex b
          ON a.shingle = b.shingle AND a.source < b.source
        GROUP BY a.source, b.source, a.n, b.n
    )
    SELECT src_a, src_b, n_a, n_b, n_inter,
           CAST(n_inter AS DOUBLE)
             / CAST(n_a + n_b - n_inter AS DOUBLE) AS jaccard
    FROM inter
    """,
)
def source_ngram_overlap(
    spark: SparkSession, sf_dir: str, skew_salt: int | None = None
) -> DataFrame:
    """Pairwise 3-gram Jaccard between SOURCES (domains) — the corpus
    contamination / domain-overlap matrix a mixture designer reads
    before weighting (same diagnostic GPT-3 appendix A ran between
    train and eval corpora, lifted to source×source).

    ``skew_salt`` (r12, guide §2.5): the default window path puts each
    source's ENTIRE distinct-shingle stream into one window partition —
    at 100 TB one dominant source serializes that count into a single
    task.  Passing a salt width (e.g. 256) switches set-size
    computation to a salted two-phase aggregate (count by (source,
    hash-bucket of shingle), then sum by source — both map-combined,
    no per-source task) broadcast-joined back onto the distinct gram
    stream, which then stays on its (source, shingle) partitioning
    (parallel across shingles) through the join; the final pair
    aggregate pays one exchange of its map-combined |sources|²-bounded
    partials instead.  Output bit-identical (exact integer counts;
    equality pinned in tests).  Default None keeps the window plan —
    measured faster at bench scale (r11: window 3.51/4.06 s vs
    join-back 7.65/8.10 s) where no source dominates.

    Plan shape: one HOF shingling pass staged behind the per-source
    DISTINCT exchange (both self-join sides reuse it — the dedup
    ReusedExchange invariant), set sizes ride as a window count over
    the distinct rows (no second aggregate+join), then a shingle-keyed
    equi-join whose output is bounded by |sources|² rows.  At 100 TB
    the shingle column becomes a 64-bit hash and the DISTINCT the
    dominant (linear, combinable) shuffle — never an all-pairs scan.

    Documents shorter than 3 tokens are excluded on BOTH sides (a
    <k-token doc has no k-gram): with_shingles' whole-text fallback
    and DuckDB's out-of-range NULL gram would otherwise diverge on a
    regenerated fixture containing short texts."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.size(T.tokens(F.col("text"))) >= 3
    )
    sh = T.with_shingles(d.select("source", "text"), "text", "sh", k=3)
    # Dead end (r11 optimization round): replacing this window with a
    # tiny groupBy(source).count() + broadcast join back looks like it
    # removes the hashpartitioning(source) Exchange+Sort (and its
    # ≤|sources|-task serialization) — but the window's exchange is
    # LOAD-BEARING: it leaves the probe side clustered by source, so
    # the final groupBy(src_a, src_b, n_a, n_b) runs WITHOUT an
    # exchange (src_a == the partition key).  The join-back variant
    # shuffles the whole shingle-match PAIR stream instead, the
    # biggest intermediate in the query.  Measured interleaved
    # best-of-5 at sf0.1: window min 3.51 / med 4.06 vs join-back min
    # 7.65 / med 8.10 — 2x WORSE.  Same family as the r8b "don't
    # collapse agg+window exchanges" lesson, from the other direction:
    # here the window IS the aggregation pushdown.  At 100 TB the
    # per-source window partition is the skew bound — shard sources
    # first if one source dominates; don't retry the join-back.
    grams = sh.select("source", F.explode("sh").alias("shingle")).distinct()
    if skew_salt:
        counts = (
            grams.groupBy(
                "source",
                F.pmod(F.xxhash64("shingle"), F.lit(skew_salt)).alias("_b"),
            )
            .agg(F.count(F.lit(1)).alias("_c"))
            .groupBy("source")
            .agg(F.sum("_c").alias("n"))
        )
        ex = grams.join(F.broadcast(counts), "source")
    else:
        ex = grams.withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("source"))
        )
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return inter.select(
        "src_a",
        "src_b",
        "n_a",
        "n_b",
        "n_inter",
        (
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
        ).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# Unigram surprisal (perplexity-proxy quality filtering, CCNet-style)
# ---------------------------------------------------------------------------



_KMV_HEX12 = """
    list_aggregate(list_transform(range(1, 13),
        i -> (strpos('0123456789abcdef',
                     substr(md5(shingle), CAST(i AS INTEGER), 1)) - 1)
             * CAST(16 ** (12 - i) AS BIGINT)), 'sum')
"""


@query(
    "source_overlap_kmv",
    f"""
    WITH toks AS (
        SELECT source, string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ),
    g AS (
        SELECT DISTINCT source,
               unnest(list_transform(
                   range(1, len(t) - 2 + 1),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
               )) AS shingle
        FROM toks
    ),
    hs AS (SELECT DISTINCT source, ({_KMV_HEX12}) AS h FROM g),
    ranked AS (
        SELECT source, h,
               row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        FROM hs
    ),
    sk AS (SELECT source, h FROM ranked WHERE rn <= 256),
    srcs AS (SELECT DISTINCT source FROM sk),
    pairs AS (
        SELECT a.source AS group_a, b.source AS group_b
        FROM srcs a JOIN srcs b ON a.source < b.source
    ),
    uni AS (
        SELECT p.group_a, p.group_b, s.h
        FROM pairs p JOIN sk s
          ON s.source = p.group_a OR s.source = p.group_b
        GROUP BY 1, 2, 3
    ),
    merged AS (
        SELECT group_a, group_b, h,
               row_number() OVER (
                   PARTITION BY group_a, group_b ORDER BY h
               ) AS rn
        FROM uni
    ),
    mk AS (SELECT group_a, group_b, h FROM merged WHERE rn <= 256),
    scored AS (
        SELECT mk.group_a, mk.group_b,
               COUNT(*) AS n_union_kmin,
               SUM(CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL
                        THEN 1 ELSE 0 END) AS n_both
        FROM mk
        LEFT JOIN sk sa ON sa.source = mk.group_a AND sa.h = mk.h
        LEFT JOIN sk sb ON sb.source = mk.group_b AND sb.h = mk.h
        GROUP BY 1, 2
    )
    SELECT group_a, group_b,
           CAST(n_union_kmin AS BIGINT) AS n_union_kmin,
           CAST(n_both AS BIGINT) AS n_both,
           CAST(n_both AS DOUBLE) / CAST(n_union_kmin AS DOUBLE)
             AS est_jaccard
    FROM scored
    """,
)
def source_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV-sketch source-overlap estimates (operators/kmv.py) — the
    ONE-PASS scale path beside ``source_ngram_overlap``'s exact join:
    k=256 minimum distinct 48-bit shingle hashes per source, Jaccard
    estimated from the merged k-min (exact whenever a pair's hash
    union fits in k).  The md5-prefix hash and the integer/integer
    estimate reproduce exactly in DuckDB (strpos hex-decode — the
    dsir.bucket_of discipline widened to 12 hex chars).

    Scale: the exact query's shingle self-join shuffles the full
    distinct stream into |sources|² intersections; this one reduces
    each source to k longs after a two-phase binned k-min (no window
    ever sees a source's whole stream), and the pair stage touches
    |sources| rows of k longs — broadcastable at any corpus size."""
    from ..operators.kmv import kmv_jaccard_pairs, kmv_sketches
    from ..operators.skew import spread_for_cpu

    # spread: the shingle + per-shingle md5 fan runs in the scan stage
    # before the distinct() exchange parallelizes anything — the
    # md5-fan win shape (doc_bloom_contamination, dedup_simhash_md5)
    docs = spread_for_cpu(load_table(spark, sf_dir, "documents")).filter(
        F.size(T.tokens(F.col("text"))) >= 3
    )
    sk = kmv_sketches(docs, "source", k=256)
    return kmv_jaccard_pairs(sk, k=256)


@query(
    "doc_unigram_surprisal",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    tot AS (SELECT COUNT(*) AS n_total FROM toks),
    lm AS (
        SELECT tok,
               CAST(ROUND(
                   -ln(CAST(COUNT(*) AS DOUBLE)
                       / (SELECT n_total FROM tot)) * 1000000.0
               ) AS BIGINT) AS s_scaled
        FROM toks GROUP BY tok
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(ROUND(
               CAST(SUM(lm.s_scaled) AS DOUBLE) / COUNT(*) / 1000000.0,
               6
           ) AS DOUBLE) AS mean_surprisal
    FROM toks t JOIN lm ON lm.tok = t.tok
    GROUP BY t.doc_id
    """,
)
def doc_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram surprisal (-ln p(token) averaged over
    tokens), the perplexity-proxy quality signal CCNet-style pipelines
    filter on (Wenzek et al. 2020 use a wikipedia LM; this self-trains
    the unigram model on the corpus itself) — documents of improbable
    tokens score high, repetitive/common-token documents low.

    Cross-engine determinism: ln() may differ between the JVM and
    libm in the last ulp and double summation is order-dependent, so
    each token's surprisal is rounded to 6 decimals AND scaled to an
    integer BEFORE the per-doc sum — longs add associatively in any
    engine — then the mean is rounded once more after the divide (the
    weighted-sample pow() discipline, CLAUDE.md).

    Scale shape: one token-count aggregation (map-side combined), the
    LM broadcast back onto the exploded tokens (a unigram vocab is
    ≤ millions of rows — broadcastable by construction), one per-doc
    aggregation.  No self-joins, no windows over the corpus."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("tok"))
    tot = toks.agg(F.count(F.lit(1)).alias("n_total"))
    lm = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .crossJoin(F.broadcast(tot))
        .select(
            "tok",
            F.round(
                -F.log(
                    F.col("c").cast("double")
                    / F.col("n_total").cast("double")
                )
                * F.lit(1000000.0)
            )
            .cast("long")
            .alias("s_scaled"),
        )
    )
    return (
        toks.join(F.broadcast(lm), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum("s_scaled").cast("double")
                / F.count(F.lit(1))
                / F.lit(1000000.0),
                6,
            ).alias("mean_surprisal"),
        )
        .select("doc_id", "n_tokens", "mean_surprisal")
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split (training-data last mile)
# ---------------------------------------------------------------------------

_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _split_oracle_sql() -> str:
    from ..operators.splits import split_case_sql

    case = split_case_sql(_SPLIT_WEIGHTS, "doc_id", seed=7)
    return f"""
    SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM (SELECT lang, {case} AS split FROM documents)
    GROUP BY lang, split
    """


@query("doc_split_counts", _split_oracle_sql())
def doc_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, split) counts of the deterministic 80/10/10
    train/val/test assignment (operators/splits.assign_split): the
    hash-coin boundary CASE is reproduced textually in the DuckDB
    oracle (the doc_weighted_sample Knuth-hash construction), so the
    driver verifies the exact membership function — a document can
    never silently migrate between splits across engines or reruns.

    Scale: one per-row CASE + one grouped count; no shuffle beyond the
    tiny (lang × split) aggregation."""
    from ..operators.splits import assign_split

    d = load_table(spark, sf_dir, "documents")
    return (
        assign_split(d, _SPLIT_WEIGHTS, seed=7)
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )



# ---------------------------------------------------------------------------
# DSIR importance weighting (data selection, Xie et al. NeurIPS 2023)
# ---------------------------------------------------------------------------

_HEX_DECODE = """
    list_aggregate(list_transform(range(1, 7),
        i -> (strpos('0123456789abcdef',
                     substr(md5(feature), CAST(i AS INTEGER), 1)) - 1)
             * CAST(16 ** (6 - i) AS BIGINT)), 'sum')
"""


@query(
    "doc_dsir_importance",
    f"""
    WITH feats AS (
        SELECT doc_id, lang = 'en' AS is_tgt,
               unnest(list_concat(toks,
                   list_transform(range(1, len(toks)),
                                  i -> toks[i] || ' ' || toks[i + 1])
               )) AS feature
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks
              FROM documents)
    ),
    fb AS (
        SELECT doc_id, is_tgt, ({_HEX_DECODE}) % 1024 AS bucket
        FROM feats
    ),
    counts AS (
        SELECT bucket, COUNT(*) AS c_raw,
               SUM(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS c_tgt
        FROM fb GROUP BY bucket
    ),
    tot AS (SELECT SUM(c_raw) AS n_raw, SUM(c_tgt) AS n_tgt FROM counts),
    lm AS (
        SELECT bucket,
               CAST(ROUND((
                   ln(CAST(c_tgt + 1 AS DOUBLE)
                      / CAST((SELECT n_tgt FROM tot) + 1024 AS DOUBLE))
                 - ln(CAST(c_raw + 1 AS DOUBLE)
                      / CAST((SELECT n_raw FROM tot) + 1024 AS DOUBLE))
               ) * 1000000.0) AS BIGINT) AS r_scaled
        FROM counts
    )
    SELECT f.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_features,
           CAST(ROUND(CAST(SUM(lm.r_scaled) AS DOUBLE) / COUNT(*)
                      / 1000000.0, 6) AS DOUBLE) AS log_importance
    FROM fb f JOIN lm USING (bucket)
    GROUP BY f.doc_id
    """,
)
def doc_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR hashed n-gram importance weights (operators/dsir.py, Xie
    et al. NeurIPS 2023): per-document mean log p̂_target/q̂_raw over
    hashed unigram+bigram features, target = lang='en' documents.
    The md5-prefix bucket hash and the scaled-long log-ratio sum are
    reproduced exactly in the DuckDB oracle (hex decode via strpos
    arithmetic — DuckDB has no conv()).

    Scale: two ≤1024-row bucket aggregations, the log-ratio table
    broadcast onto the feature stream, one per-doc agg — no
    self-joins, no windows (operators/dsir.py docstring)."""
    from ..operators.dsir import importance_weights

    d = load_table(spark, sf_dir, "documents")
    return importance_weights(d, F.col("lang") == "en")


# ---------------------------------------------------------------------------
# Gopher rule-set quality filter (Rae et al. 2021, §A1.1)
# ---------------------------------------------------------------------------

@query(
    "doc_gopher_rules",
    """
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(ROUND(CAST(wchars AS DOUBLE) / n_words, 6) AS DOUBLE)
             AS mean_word_len,
           n_words BETWEEN 20 AND 1000 AS r_word_count,
           wchars >= 3 * n_words AND wchars <= 10 * n_words AS r_word_len,
           stop_cnt >= 2 AS r_stopwords,
           alpha_cnt * 5 >= n_words * 4 AS r_alpha_words,
           stop_cnt * 10 <= n_words * 3 AS r_stop_frac,
           (n_words BETWEEN 20 AND 1000)
             AND wchars >= 3 * n_words AND wchars <= 10 * n_words
             AND stop_cnt >= 2
             AND alpha_cnt * 5 >= n_words * 4
             AND stop_cnt * 10 <= n_words * 3 AS pass_gopher
    FROM (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_words,
               length(text) - (len(string_split(text, ' ')) - 1) AS wchars,
               len(list_filter(string_split(text, ' '),
                   x -> x IN ('the','a','of','and','to'))) AS stop_cnt,
               len(list_filter(string_split(text, ' '),
                   x -> regexp_full_match(x, '[A-Za-z]+'))) AS alpha_cnt
        FROM documents
    )
    """,
)
def doc_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher §A1.1 quality rule set (Rae et al. 2021 — the canonical
    pre-training cleaning heuristics) as per-document booleans + the
    conjunction: word-count bounds [20, 1000], mean word length
    [3, 10], ≥2 stop words, ≥80% alphabetic words, ≤30% stop-word
    fraction.  Every bound is an INTEGER cross-multiplied comparison
    (wchars ≥ 3·n_words, alpha·5 ≥ n·4 …) so no float ever decides a
    flag — engines cannot diverge.  mean_word_len reuses the
    single-space identity chars_in_words = length(text) − (n−1) (the
    doc_quality_scores trick).  Pure per-row projection — zero
    shuffle, scan-wide codegen."""
    return gopher_rule_flags(load_table(spark, sf_dir, "documents"))


def gopher_rule_flags(d: DataFrame, text_col: str = "text") -> DataFrame:
    """Rule computation behind q:doc_gopher_rules — factored out so
    planted-edge tests can drive it on constructed frames."""
    toks = T.tokens(F.col(text_col))
    staged = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_words"),
        (F.length(text_col) - (F.size(toks) - 1)).cast("long").alias("wchars"),
        F.size(
            F.filter(toks, lambda x: x.isin("the", "a", "of", "and", "to"))
        ).cast("long").alias("stop_cnt"),
        F.size(
            F.filter(toks, lambda x: x.rlike("^[A-Za-z]+$"))
        ).cast("long").alias("alpha_cnt"),
    )
    r_wc = F.col("n_words").between(20, 1000)
    r_wl = (F.col("wchars") >= 3 * F.col("n_words")) & (
        F.col("wchars") <= 10 * F.col("n_words")
    )
    r_stop = F.col("stop_cnt") >= 2
    r_alpha = F.col("alpha_cnt") * 5 >= F.col("n_words") * 4
    r_sfrac = F.col("stop_cnt") * 10 <= F.col("n_words") * 3
    return staged.select(
        "doc_id",
        "n_words",
        F.round(F.col("wchars").cast("double") / F.col("n_words"), 6).alias(
            "mean_word_len"
        ),
        r_wc.alias("r_word_count"),
        r_wl.alias("r_word_len"),
        r_stop.alias("r_stopwords"),
        r_alpha.alias("r_alpha_words"),
        r_sfrac.alias("r_stop_frac"),
        (r_wc & r_wl & r_stop & r_alpha & r_sfrac).alias("pass_gopher"),
    )
