"""Late-registering sketch/LM queries (past the driver's 50-slot
window on purpose; the in-repo contract gate oracle-checks them):
count-min-sketch heavy hitters (operators/cms.py), held-out
Stupid-Backoff LM scoring (operators/lm.py), and HyperLogLog
distinct-count sketches (operators/hll.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.cms import cms_estimates, cms_table
from ..operators.lm import stupid_backoff_doc_scores
from ..operators.splits import assign_split, split_case_sql
from .registry import query

#: CMS geometry for the driver query — 150 users into 64 buckets
#: forces real collisions (the estimator's min-over-rows is exercised,
#: not vacuous); 4×64 = 256 counter rows.
_CMS_DEPTH = 4
_CMS_WIDTH = 64


def _md5_48_sql(expr: str) -> str:
    """DuckDB SQL for the 48-bit md5-prefix hash of ``expr`` — the
    ``operators.cms.cms_bucket`` mirror (strpos hex-decode arithmetic,
    the kmv/dsir discipline)."""
    return f"""list_aggregate(list_transform(range(1, 13),
        i -> (strpos('0123456789abcdef',
                     substr(md5({expr}), CAST(i AS INTEGER), 1)) - 1)
             * CAST(16 ** (12 - i) AS BIGINT)), 'sum')"""


@query(
    "user_heavy_hitters_cms",
    f"""
    WITH c AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_count
        FROM events GROUP BY user_id
    ),
    tot AS (
        SELECT SUM(exact_count) AS n_total,
               COUNT(*) AS n_users
        FROM c
    ),
    hh AS (
        SELECT user_id, exact_count FROM c
        WHERE exact_count * 10 * (SELECT n_users FROM tot)
              >= 12 * (SELECT n_total FROM tot)
    ),
    tb AS (
        SELECT r AS row,
               ({_md5_48_sql("r || '|' || CAST(user_id AS VARCHAR)")})
                   % {_CMS_WIDTH} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events, UNNEST(range(0, {_CMS_DEPTH})) AS u(r)
        GROUP BY 1, 2
    ),
    fan AS (
        SELECT hh.user_id, hh.exact_count, u.r AS row,
               ({_md5_48_sql("u.r || '|' || CAST(hh.user_id AS VARCHAR)")})
                   % {_CMS_WIDTH} AS bucket
        FROM hh, UNNEST(range(0, {_CMS_DEPTH})) AS u(r)
    )
    SELECT fan.user_id,
           fan.exact_count,
           CAST(MIN(COALESCE(tb.cnt, 0)) AS BIGINT) AS est_count
    FROM fan
    LEFT JOIN tb ON tb.row = fan.row AND tb.bucket = fan.bucket
    GROUP BY fan.user_id, fan.exact_count
    """,
)
def user_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters (users with ≥1.2× the average event count —
    integer-exact threshold: 10·n·|users| ≥ 12·total) with their
    count-min-sketch frequency estimate beside the exact count.  The
    CMS estimate is deterministic (md5-prefix row hashes) and
    reproduced value-exactly by the DuckDB oracle; est ≥ exact always
    (CMS never under-counts).

    Scale: the exact aggregation here is the VALIDATOR — at 100 TB on
    an unbounded key space (tokens, URLs) only the depth×width counter
    table and the candidate probe survive; see operators/cms.py."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("exact_count")
    )
    tot = c.agg(
        F.sum("exact_count").alias("n_total"),
        F.count(F.lit(1)).alias("n_users"),
    )
    hh = (
        c.crossJoin(F.broadcast(tot))
        .filter(
            F.col("exact_count") * 10 * F.col("n_users")
            >= 12 * F.col("n_total")
        )
        .select("user_id", "exact_count")
    )
    tbl = cms_table(ev, "user_id", depth=_CMS_DEPTH, width=_CMS_WIDTH)
    est = cms_estimates(
        tbl, hh, "user_id", depth=_CMS_DEPTH, width=_CMS_WIDTH
    )
    return hh.join(est, "user_id").select(
        "user_id", "exact_count", F.col("est").alias("est_count")
    )


#: held-out LM split: train the trigram counts on 90%, score the rest
#: (self-trained LMs never back off — every n-gram is its own
#: training data; the held-out shape exercises all three arms)
_LM_WEIGHTS = {"train": 0.9, "val": 0.1}
_LM_SEED = 7


@query(
    "doc_lm_stupid_backoff",
    f"""
    WITH d AS (
        SELECT doc_id, text,
               {split_case_sql(_LM_WEIGHTS, "doc_id", seed=_LM_SEED)} AS split
        FROM documents
    ),
    tr AS (SELECT string_split(text, ' ') AS t FROM d WHERE split = 'train'),
    tri_c AS (
        SELECT g AS tri, COUNT(*) AS c123 FROM (
            SELECT unnest(list_transform(range(1, len(t) - 1),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
            FROM tr
        ) GROUP BY g
    ),
    bi_c AS (
        SELECT g AS bg, COUNT(*) AS cb FROM (
            SELECT unnest(list_transform(range(1, len(t)),
                i -> t[i] || ' ' || t[i+1])) AS g
            FROM tr
        ) GROUP BY g
    ),
    uni_c AS (
        SELECT tok, COUNT(*) AS cu FROM (
            SELECT unnest(t) AS tok FROM tr
        ) GROUP BY tok
    ),
    tot AS (SELECT COUNT(*) AS n_total FROM (SELECT unnest(t) FROM tr)),
    sc AS (
        SELECT doc_id, string_split(text, ' ') AS t
        FROM d WHERE split = 'val'
    ),
    st AS (
        SELECT doc_id,
               t[u.i] || ' ' || t[u.i+1] AS lead,
               t[u.i+1] || ' ' || t[u.i+2] AS trail,
               t[u.i+1] AS w2, t[u.i+2] AS w3,
               t[u.i] || ' ' || t[u.i+1] || ' ' || t[u.i+2] AS tri
        FROM sc, UNNEST(range(1, len(t) - 1)) AS u(i)
    ),
    scored AS (
        SELECT st.doc_id,
               CAST(ROUND(log10(
                   CASE WHEN tc.c123 IS NOT NULL THEN
                            CAST(tc.c123 AS DOUBLE) / CAST(bl.cb AS DOUBLE)
                        WHEN bt.cb IS NOT NULL THEN
                            0.4 * CAST(bt.cb AS DOUBLE)
                                / CAST(u2.cu AS DOUBLE)
                        ELSE
                            0.4 * 0.4
                            * CAST(GREATEST(COALESCE(u3.cu, 0), 1) AS DOUBLE)
                            / CAST((SELECT n_total FROM tot) AS DOUBLE)
                   END) * 1000000.0) AS BIGINT) AS s
        FROM st
        LEFT JOIN tri_c tc ON tc.tri = st.tri
        LEFT JOIN bi_c bl ON bl.bg = st.lead
        LEFT JOIN bi_c bt ON bt.bg = st.trail
        LEFT JOIN uni_c u2 ON u2.tok = st.w2
        LEFT JOIN uni_c u3 ON u3.tok = st.w3
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_trigrams,
           CAST(ROUND(CAST(SUM(s) AS DOUBLE) / COUNT(*) / 1000000.0, 6)
                AS DOUBLE) AS mean_log10_score
    FROM scored GROUP BY doc_id
    """,
)
def doc_lm_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out Stupid-Backoff trigram LM scores (operators/lm.py):
    counts from the hash-assigned 90% train split, every val document
    scored by mean log10 S(w3|w1 w2).  ~43% of val trigrams are unseen
    in train at sf0.01 — the backoff arms carry real weight, unlike a
    self-trained LM where the first arm always hits.

    Cross-engine: per-trigram log-scores rounded to scaled longs
    before the per-doc sum (the doc_unigram_surprisal discipline);
    split assignment is the assign_split hash coin, mirrored by
    split_case_sql."""
    docs = load_table(spark, sf_dir, "documents")
    d = assign_split(docs, _LM_WEIGHTS, id_col="doc_id", seed=_LM_SEED)
    train = d.filter(F.col("split") == "train")
    val = d.filter(F.col("split") == "val")
    return stupid_backoff_doc_scores(
        train, val, text_col="text", id_col="doc_id"
    )


#: Bloom geometry for the driver query — ~380 benchmark 13-grams into
#: 66×62 = 4092 bits at k=3 gives a ~1.4% per-probe false-positive
#: rate: n_maybe > n_exact on real fixture docs, so the approximate
#: membership semantics (not just the exact path) are exercised.
_BLOOM_WORDS = 66
_BLOOM_K = 3
_BLOOM_N = 13

_GRAM13_SQL = " || ' ' || ".join(f"t[u.i+{d}]" for d in range(_BLOOM_N))


@query(
    "doc_bloom_contamination",
    f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= {_BLOOM_N}
    ),
    dg AS (
        SELECT DISTINCT doc_id, {_GRAM13_SQL} AS g
        FROM toks, UNNEST(range(1, len(t) - {_BLOOM_N - 2})) AS u(i)
    ),
    bg AS (SELECT DISTINCT g FROM dg WHERE doc_id % 50 = 0),
    pos AS (
        SELECT g, s,
               ({_md5_48_sql("s || '|' || g")})
                   % {_BLOOM_WORDS * 62} AS p
        FROM bg, UNNEST(range(0, {_BLOOM_K})) AS u(s)
    ),
    bits AS (
        SELECT p // 62 AS word,
               bit_or(CAST(1 AS BIGINT) << CAST(p % 62 AS INTEGER)) AS bits
        FROM pos GROUP BY 1
    ),
    probe AS (
        SELECT dg.doc_id, dg.g, s,
               ({_md5_48_sql("s || '|' || dg.g")})
                   % {_BLOOM_WORDS * 62} AS p
        FROM dg, UNNEST(range(0, {_BLOOM_K})) AS u(s)
    ),
    hits AS (
        SELECT probe.doc_id, probe.g,
               bool_and(
                   (COALESCE(b.bits, 0)
                    & (CAST(1 AS BIGINT) << CAST(p % 62 AS INTEGER)))
                   = (CAST(1 AS BIGINT) << CAST(p % 62 AS INTEGER))
               ) AS maybe
        FROM probe LEFT JOIN bits b ON b.word = probe.p // 62
        GROUP BY probe.doc_id, probe.g
    ),
    flagged AS (
        SELECT h.doc_id, h.maybe,
               (bg.g IS NOT NULL) AS exact
        FROM hits h LEFT JOIN bg ON bg.g = h.g
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT)
               AS n_maybe,
           CAST(SUM(CASE WHEN exact THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact
    FROM flagged GROUP BY doc_id
    """,
)
def doc_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination probe (operators/bloom.py): the
    every-50th-doc benchmark's distinct 13-grams are compressed to
    66 longs; every document's distinct 13-grams are probed map-only
    against the broadcast bits, with the exact membership count
    beside it (n_maybe ≥ n_exact always; the gap is the deterministic
    false-positive set, reproduced value-exactly by the oracle).

    Scale: the exact join ships the full benchmark gram set; the
    filter is a few KB per million keys at a fixed FP rate, and the
    corpus side never shuffles — flagged survivors (a ~1% superset)
    go to the exact second pass.  See operators/bloom.py."""
    from ..functions import text as T
    from ..operators.bloom import bloom_build, bloom_probe
    from ..operators.skew import spread_for_cpu

    # single-split scan feeding a CPU-heavy map-only chain (13-gram
    # fan + 3 md5 probes per gram, no shuffle anywhere) — the
    # spread_for_cpu shape; measured best-of-3 at sf0.1: 1.48 → 0.73 s
    docs = spread_for_cpu(
        load_table(spark, sf_dir, "documents")
        .filter(F.size(T.tokens(F.col("text"))) >= _BLOOM_N)
        .select("doc_id", "text")
    )
    grams = T.with_shingles(docs, "text", "g", _BLOOM_N).select(
        "doc_id", F.explode("g").alias("g")
    )
    bench = grams.filter(F.col("doc_id") % 50 == 0).select("g").distinct()
    bloom = bloom_build(bench, "g", n_words=_BLOOM_WORDS, k=_BLOOM_K)
    probed = bloom_probe(
        grams, "g", bloom, n_words=_BLOOM_WORDS, k=_BLOOM_K
    )
    flagged = probed.join(
        F.broadcast(bench.withColumn("__exact", F.lit(True))), "g", "left"
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum(F.when(F.col("maybe_member"), 1).otherwise(0))
        .cast("long")
        .alias("n_maybe"),
        F.sum(F.when(F.col("__exact").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_exact"),
    )


#: HLL geometry for the driver query — p=8 (256 buckets) puts the
#: ~1300 distinct custkeys per priority at sf0.01 in the RAW-estimator
#: regime (> 2.5·m = 640), so the oracled formula is the one a user
#: would actually read, not the linear-counting branch.
_HLL_P = 8
_HLL_M = 1 << _HLL_P
_HLL_REM = 1 << (60 - _HLL_P)
_HLL_RHO_MAX = 60 - _HLL_P + 1
_HLL_POW = 1 << _HLL_RHO_MAX


def _hll_scale() -> float:
    from ..operators.hll import _alpha

    return _alpha(_HLL_M) * float(_HLL_M) * float(_HLL_M) * float(_HLL_POW)


def _md5_60_sql(expr: str) -> str:
    """DuckDB SQL for the 60-bit md5-prefix hash of ``expr`` — the
    ``operators.hll.hll_hash`` mirror (strpos hex-decode widened to
    15 chars; every 16**k term is a power of two, exact in double
    before the BIGINT cast)."""
    return f"""list_aggregate(list_transform(range(1, 16),
        i -> (strpos('0123456789abcdef',
                     substr(md5({expr}), CAST(i AS INTEGER), 1)) - 1)
             * CAST(16 ** (15 - i) AS BIGINT)), 'sum')"""


@query(
    "orders_hll_distinct_custkeys",
    f"""
    WITH h AS (
        SELECT DISTINCT o_orderpriority,
               ({_md5_60_sql("CAST(o_custkey AS VARCHAR)")}) AS h60
        FROM orders
    ),
    reg AS (
        SELECT o_orderpriority, h60 >> {60 - _HLL_P} AS bucket,
               MAX(CASE WHEN h60 % {_HLL_REM} = 0 THEN {_HLL_RHO_MAX}
                        ELSE {_HLL_RHO_MAX}
                             - length(bin(h60 % {_HLL_REM})) END) AS r
        FROM h GROUP BY 1, 2
    ),
    agg AS (
        SELECT o_orderpriority, COUNT(*) AS nb,
               CAST(SUM(CAST(2 ** ({_HLL_RHO_MAX} - r) AS BIGINT))
                    AS BIGINT) AS zp
        FROM reg GROUP BY 1
    ),
    ex AS (
        SELECT o_orderpriority,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact
        FROM orders GROUP BY 1
    )
    SELECT agg.o_orderpriority,
           ex.n_exact,
           CAST(agg.nb AS BIGINT) AS hll_buckets_used,
           CAST(agg.zp + ({_HLL_M} - agg.nb) * {_HLL_POW} AS BIGINT)
               AS hll_zscaled,
           ROUND({_hll_scale()!r}
                 / CAST(agg.zp + ({_HLL_M} - agg.nb) * {_HLL_POW}
                        AS DOUBLE), 3) AS hll_estimate
    FROM agg JOIN ex USING (o_orderpriority)
    """,
)
def orders_hll_distinct_custkeys(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HyperLogLog distinct customers per order priority
    (operators/hll.py) beside the exact COUNT(DISTINCT): p=8 (256
    register rows per group) estimates ~1300 distinct custkeys within
    the sketch's 1.04/√m ≈ 6.5% σ, and the registers, the exact
    BIGINT indicator sum, and the raw estimate all reproduce
    value-exactly in DuckDB (60-bit md5-prefix hash, minimal-width
    bin() rank, one literal-parsed scale constant, one IEEE division,
    ROUND half-away-from-zero).

    Scale: COUNT(DISTINCT) exchanges every distinct key; the sketch
    exchanges ≤ 256 map-side-combined register rows per group per
    task, and sketches MERGE by UNION ALL + MAX over their register
    rows (operators/hll.py) — per-day sketches roll up to per-month
    without a rescan.  The corrected (linear-counting) estimate is deliberately
    NOT in the oracled projection: it needs libm ln, which is not
    bit-pinned across engines; tests golden-pin it instead."""
    from ..operators.hll import hll_distinct

    orders = load_table(spark, sf_dir, "orders")
    est = hll_distinct(
        orders, ["o_orderpriority"], "o_custkey", p=_HLL_P
    )
    exact = orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").cast("long").alias("n_exact")
    )
    return exact.join(est, "o_orderpriority").select(
        "o_orderpriority",
        "n_exact",
        "hll_buckets_used",
        "hll_zscaled",
        "hll_estimate",
    )


#: Poisson-bootstrap geometry for the driver query
_BOOT_B = 64
_BOOT_SCALE = 10**6


def _bootstrap_oracle() -> str:
    from ..operators.bootstrap import POISSON1_CDF, W_CAP

    ladder = " ".join(
        f"WHEN u < {POISSON1_CDF[k]!r} THEN {k}"
        for k in range(len(POISSON1_CDF))
    )
    coin = _md5_48_sql("CAST(b AS VARCHAR) || '|' || CAST(id AS VARCHAR)")
    return f"""
    WITH fan AS (
        SELECT e.event_id AS id,
               CAST(ROUND(e.value * {float(_BOOT_SCALE)!r}) AS BIGINT) AS v,
               u.b
        FROM events e, UNNEST(range(0, {_BOOT_B})) AS u(b)
    ),
    coins AS (
        SELECT b, v,
               (CAST(({coin}) AS DOUBLE) + 0.5) / 281474976710656.0 AS u
        FROM fan
    ),
    w AS (
        SELECT b, v, (CASE {ladder} ELSE {W_CAP} END) AS w FROM coins
    ),
    m AS (
        SELECT b, CAST(SUM(w) AS BIGINT) AS n_eff,
               CASE WHEN SUM(w) > 0 THEN
                   ROUND(CAST(SUM(w * v) AS DOUBLE)
                         / CAST(SUM(w) AS DOUBLE)
                         / {float(_BOOT_SCALE)!r}, 9) END AS mean_value
        FROM w GROUP BY b
    ),
    pt AS (
        SELECT ROUND(
                   CAST(SUM(CAST(ROUND(value * {float(_BOOT_SCALE)!r})
                                 AS BIGINT)) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE)
                   / {float(_BOOT_SCALE)!r}, 9) AS point_mean
        FROM events
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_resamples,
           (SELECT point_mean FROM pt) AS point_mean,
           ROUND(quantile_cont(mean_value, 0.025), 9) AS mean_lo,
           ROUND(quantile_cont(mean_value, 0.975), 9) AS mean_hi
    FROM m
    """


@query("value_bootstrap_ci", _bootstrap_oracle())
def value_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for the mean event value
    (operators/bootstrap.py): 64 resamples in ONE pass — each row
    draws a deterministic Poisson(1) replication weight per resample
    from a fresh md5 coin, weighted sums stay exact scaled-long
    integers, and the percentile-method interval comes from the exact
    interpolated percentile both engines share.  The whole thing —
    coins, weights, 64 resample means, CI bounds — reproduces
    value-exactly in DuckDB.

    Scale: the classic bootstrap needs global n and random access; the
    Poisson bootstrap is a streaming fan with map-side combine (the
    shuffle carries B partial rows per task, never B×n), which is why
    it is the uncertainty method for massive data (Chamandy et al.
    2012)."""
    from ..operators.bootstrap import bootstrap_ci, poisson_bootstrap_means
    from ..operators.skew import spread_for_cpu

    # single-split scan feeding a CPU-heavy map-only fan (B md5 coins
    # per row before the map-side combine) — the spread_for_cpu shape;
    # measured best-of-3 at sf0.1: 12.1 → see ARCHITECTURE note
    ev = spread_for_cpu(
        load_table(spark, sf_dir, "events").select("event_id", "value")
    )
    means = poisson_bootstrap_means(
        ev, "value", "event_id", n_resamples=_BOOT_B, scale=_BOOT_SCALE
    )
    ci = bootstrap_ci(means, alpha=0.05)
    pt = ev.agg(
        F.round(
            F.sum(
                F.round(F.col("value").cast("double") * _BOOT_SCALE, 0)
                .cast("long")
            ).cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(float(_BOOT_SCALE)),
            9,
        ).alias("point_mean")
    )
    return ci.crossJoin(F.broadcast(pt)).select(
        "n_resamples", "point_mean", "mean_lo", "mean_hi"
    )


#: histogram-quantile geometry for the driver query
_HIST_W = 5.0
_HIST_QS = (0.5, 0.9, 0.99)


def _hist_oracle() -> str:
    cols = []
    for q in _HIST_QS:
        label = f"q_{str(q).replace('.', '_')}"
        t = f"{q!r} * CAST(n - 1 AS DOUBLE)"
        cols.append(
            f"""MAX(CASE WHEN CAST(cum_before AS DOUBLE) <= {t}
                 AND {t} < CAST(cum_before + c AS DOUBLE)
            THEN ROUND(CAST(bin AS DOUBLE) * {_HIST_W!r}
                       + {_HIST_W!r}
                         * LEAST(({t} - CAST(cum_before AS DOUBLE) + 0.5)
                            / CAST(c AS DOUBLE), 1.0), 9) END) AS {label}"""
        )
    sel = ",\n           ".join(cols)
    return f"""
    WITH h AS (
        SELECT event_type,
               CAST(FLOOR(value / {_HIST_W!r}) AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events WHERE value IS NOT NULL
        GROUP BY 1, 2
    ),
    s AS (
        SELECT event_type, bin, c,
               CAST(COALESCE(SUM(c) OVER (
                   PARTITION BY event_type ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS cum_before,
               CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM h
    )
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
           {sel}
    FROM s GROUP BY event_type
    """


@query("value_histogram_quantiles", _hist_oracle())
def value_histogram_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Histogram-sketch quantiles per event type
    (operators/histogram.py): fixed-width bins (exact long counts,
    merge-by-sum), p50/p90/p99 by mid-rank interpolation inside the
    covering bin — every estimate within one bin width of the
    covering order statistic (the honest bound; see
    operators/histogram.py), and the whole pipeline (bins, cumsums, one pinned
    interpolation tree) reproduces value-exactly in DuckDB.

    Scale: q:value_percentiles_exact is the VALIDATOR — exact
    percentile() shuffles every value into a per-group sort; this
    exchanges |bins| counter rows per group and the value stream never
    crosses an exchange.  Per-partition/per-day histograms roll up by
    UNION ALL + SUM over their bin rows (operators/histogram.py)
    without a rescan — the monitoring-system shape at any corpus
    size."""
    from ..operators.histogram import histogram_quantiles_of

    ev = load_table(spark, sf_dir, "events")
    return histogram_quantiles_of(
        ev,
        "value",
        qs=_HIST_QS,
        group_cols=["event_type"],
        width=_HIST_W,
    )


@query(
    "doc_lm_kneser_ney",
    f"""
    WITH d AS (
        SELECT doc_id, text,
               {split_case_sql(_LM_WEIGHTS, "doc_id", seed=_LM_SEED)} AS split
        FROM documents
    ),
    tr AS (SELECT string_split(text, ' ') AS t FROM d WHERE split = 'train'),
    bgs AS (
        SELECT t[u.i] AS w1, t[u.i+1] AS w2
        FROM tr, UNNEST(range(1, len(t))) AS u(i)
    ),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bgs GROUP BY 1, 2),
    head AS (
        SELECT w1, CAST(SUM(c12) AS BIGINT) AS cw1,
               COUNT(*) AS n1p_w1
        FROM c12 GROUP BY 1
    ),
    cont AS (SELECT w2, COUNT(*) AS n1p_w2 FROM c12 GROUP BY 1),
    gstats0 AS (
        SELECT COUNT(*) AS n1p_all,
               SUM(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS n_once,
               SUM(CASE WHEN c12 = 2 THEN 1 ELSE 0 END) AS n_twice
        FROM c12
    ),
    gstats AS (
        SELECT n1p_all,
               CASE WHEN n_once + 2 * n_twice > 0 THEN
                   CAST(n_once AS DOUBLE)
                   / (CAST(n_once AS DOUBLE)
                      + 2.0 * CAST(n_twice AS DOUBLE))
               ELSE 0.5 END AS d
        FROM gstats0
    ),
    sc AS (
        SELECT doc_id, string_split(text, ' ') AS t
        FROM d WHERE split = 'val'
    ),
    sb AS (
        SELECT doc_id, t[u.i] AS w1, t[u.i+1] AS w2
        FROM sc, UNNEST(range(1, len(t))) AS u(i)
    ),
    scored AS (
        SELECT sb.doc_id,
               CAST(ROUND(log10(
                   CASE WHEN h.cw1 IS NOT NULL THEN
                       (GREATEST(CAST(COALESCE(c.c12, 0) AS DOUBLE)
                                 - g.d, 0.0)
                        + g.d
                          * CAST(h.n1p_w1 AS DOUBLE)
                          * (CAST(GREATEST(COALESCE(ct.n1p_w2, 0), 1)
                                  AS DOUBLE)
                             / CAST(g.n1p_all AS DOUBLE)))
                       / CAST(h.cw1 AS DOUBLE)
                   ELSE
                       CAST(GREATEST(COALESCE(ct.n1p_w2, 0), 1) AS DOUBLE)
                       / CAST(g.n1p_all AS DOUBLE)
                   END) * 1000000.0) AS BIGINT) AS s
        FROM sb
        LEFT JOIN c12 c ON c.w1 = sb.w1 AND c.w2 = sb.w2
        LEFT JOIN head h ON h.w1 = sb.w1
        LEFT JOIN cont ct ON ct.w2 = sb.w2
        CROSS JOIN gstats g
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(ROUND(CAST(SUM(s) AS DOUBLE) / COUNT(*) / 1000000.0, 6)
                AS DOUBLE) AS mean_log10_kn
    FROM scored GROUP BY doc_id
    """,
)
def doc_lm_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out interpolated Kneser-Ney bigram scores
    (operators/lm.kneser_ney_doc_scores): absolute discount
    D = n1/(n1+2·n2) from the train split's bigram counts-of-counts,
    continuation probabilities from distinct-context type counts, val
    documents scored by mean log10 P_KN(w2|w1).  Beside
    doc_lm_stupid_backoff on the SAME hash-assigned split — the
    properly-normalized smoother next to the web-scale heuristic.

    Cross-engine: every model component is an exact integer aggregate;
    D and each probability are one pinned IEEE tree; per-bigram
    log-scores round to scaled longs before the per-doc sum (the
    surprisal discipline)."""
    from ..operators.lm import kneser_ney_doc_scores

    docs = load_table(spark, sf_dir, "documents")
    d = assign_split(docs, _LM_WEIGHTS, id_col="doc_id", seed=_LM_SEED)
    return kneser_ney_doc_scores(
        d.filter(F.col("split") == "train"),
        d.filter(F.col("split") == "val"),
        text_col="text",
        id_col="doc_id",
    )


@query(
    "value_moments_by_type",
    """
    WITH x AS (
        SELECT event_type,
               CAST(ROUND(value * 1000.0) AS BIGINT) AS v
        FROM events WHERE value IS NOT NULL
    ),
    sums AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(v AS HUGEINT)) AS s1,
               SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS s2,
               SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)
                   * CAST(v AS HUGEINT)) AS s3,
               SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)
                   * CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS s4
        FROM x GROUP BY 1
    ),
    st AS (
        SELECT event_type, n,
               CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 1000.0 AS a1,
               CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS a2,
               CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
                   / 1000000000.0 AS a3,
               CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)
                   / 1000000000000.0 AS a4
        FROM sums
    ),
    c AS (
        SELECT event_type, n, a1 AS m1,
               a2 - a1 * a1 AS m2,
               a3 - 3.0 * a1 * a2 + 2.0 * a1 * a1 * a1 AS m3,
               a4 - 4.0 * a1 * a3 + 6.0 * a1 * a1 * a2
                  - 3.0 * a1 * a1 * a1 * a1 AS m4
        FROM st
    )
    SELECT event_type, n,
           ROUND(m1, 9) AS mean,
           ROUND(m2, 9) AS variance,
           CASE WHEN m2 > 0 THEN ROUND(m3 / (SQRT(m2) * m2), 9)
                END AS skewness,
           CASE WHEN m2 > 0 THEN ROUND(m4 / (m2 * m2) - 3.0, 9)
                END AS kurt_excess
    FROM c
    """,
)
def value_moments_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic skewness/kurtosis per event type
    (operators/histogram.grouped_moments): Spark's built-in
    skewness()/kurtosis() stream float updates whose result drifts
    with partitioning and aggregation order; here values are scaled
    longs, the four power sums are exact decimal(38,0)/HUGEINT
    integers, and the central-moment formulas are layered pinned IEEE
    trees over those exact sums — bit-identical at any layout and
    value-exact against DuckDB.

    Scale: one map-side-combined aggregation (five integer sums per
    group), no second pass for the mean — the textbook one-pass
    moment pipeline made deterministic."""
    from ..operators.histogram import grouped_moments

    ev = load_table(spark, sf_dir, "events")
    return grouped_moments(
        ev, "value", group_cols=["event_type"], scale=10**3
    )


@query(
    "value_drift_psi",
    """
    WITH hp AS (
        SELECT event_type, CAST(FLOOR(value / 5.0) AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    hg AS (
        SELECT CAST(FLOOR(value / 5.0) AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    ts AS (SELECT DISTINCT event_type FROM events),
    hq AS (SELECT ts.event_type, hg.bin, hg.c FROM ts, hg),
    j AS (
        SELECT COALESCE(p.event_type, q.event_type) AS event_type,
               COALESCE(p.bin, q.bin) AS bin,
               COALESCE(p.c, 0) AS cp, COALESCE(q.c, 0) AS cq
        FROM hp p FULL OUTER JOIN hq q
          ON q.event_type = p.event_type AND q.bin = p.bin
    ),
    s AS (
        SELECT event_type, bin, cp, cq,
               SUM(cp) OVER (PARTITION BY event_type) AS np,
               SUM(cq) OVER (PARTITION BY event_type) AS nq,
               COUNT(*) OVER (PARTITION BY event_type) AS nb
        FROM j
    ),
    t AS (
        SELECT event_type, nb,
               CAST(ROUND(
                   (CAST(cp + 1 AS DOUBLE) / CAST(np + nb AS DOUBLE)
                    - CAST(cq + 1 AS DOUBLE) / CAST(nq + nb AS DOUBLE))
                   * ln((CAST(cp + 1 AS DOUBLE) / CAST(np + nb AS DOUBLE))
                        / (CAST(cq + 1 AS DOUBLE)
                           / CAST(nq + nb AS DOUBLE)))
                   * 1000000.0) AS BIGINT) AS tt
        FROM s
    )
    SELECT event_type, CAST(MAX(nb) AS BIGINT) AS n_bins,
           CAST(ROUND(CAST(SUM(tt) AS DOUBLE) / 1000000.0, 6)
                AS DOUBLE) AS psi
    FROM t GROUP BY 1
    """,
)
def value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of each event type's value
    distribution against the global one (operators/histogram.psi) —
    the segment-drift report an ML-ops pipeline runs on every feature:
    PSI < 0.1 stable, > 0.25 action.  Add-one smoothing over the union
    bin set keeps every term finite (convention pinned in the
    operator); per-bin terms round to 10⁻⁶-scaled longs before the
    exact sum (the entropy discipline), so the index reproduces
    value-exactly in DuckDB.

    Scale: both sides are |bins|-row histogram sketches — computing
    drift between two 100 TB snapshots costs two histogram passes plus
    a |bins|-sized join."""
    from ..operators.histogram import histogram, psi

    ev = load_table(spark, sf_dir, "events")
    hp = histogram(ev, "value", ["event_type"], width=5.0)
    hg = histogram(ev, "value", [], width=5.0)
    types = ev.select("event_type").distinct()
    hq = types.crossJoin(hg)
    return psi(hp, hq, ["event_type"])


@query(
    "orders_quality_report",
    """
    WITH w AS (
        SELECT
            ROUND(CAST(COUNT(o_custkey) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE), 9) AS m0,
            ROUND(CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE), 9) AS m1,
            ROUND(CAST(MIN(o_totalprice) AS DOUBLE), 9) AS m2,
            ROUND(CAST(MAX(o_totalprice) AS DOUBLE), 9) AS m3,
            ROUND(CAST(SUM(CASE WHEN o_orderstatus IN ('O', 'F', 'P')
                               THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE), 9) AS m4,
            CAST(COUNT(*) AS DOUBLE) AS m5
        FROM orders
    )
    SELECT 'completeness>=1.0' AS constraint, 'o_custkey' AS "column",
           m0 AS metric, m0 >= 1.0 AS passed FROM w
    UNION ALL SELECT 'uniqueness>=1.0', 'o_orderkey', m1, m1 >= 1.0 FROM w
    UNION ALL SELECT 'min>=0.0', 'o_totalprice', m2, m2 >= 0.0 FROM w
    UNION ALL SELECT 'max<=600000.0', 'o_totalprice', m3,
                     m3 <= 600000.0 FROM w
    UNION ALL SELECT 'accepted_values>=1.0', 'o_orderstatus', m4,
                     m4 >= 1.0 FROM w
    UNION ALL SELECT 'non_empty', '*', m5, m5 >= 1.0 FROM w
    """,
)
def orders_quality_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Declarative data-quality constraint report over orders
    (operators/checks.py — the Deequ model, Schelter et al. VLDB'18):
    completeness, key uniqueness, value bounds, accepted domains, and
    non-emptiness, ALL computed in one aggregate pass and emitted as
    (constraint, column, metric, passed) rows — the gate a training
    pipeline runs on every ingest before anything downstream touches
    the data.

    Cross-engine: metrics are exact counts/mins/maxes and pinned
    9 dp ratios — the whole report reproduces value-exactly in
    DuckDB.  Scale: N constraints = one scan + one map-side-combined
    aggregate, never N scans."""
    from ..operators.checks import (
        accepted_values,
        completeness,
        max_bound,
        min_bound,
        non_empty,
        quality_report,
        uniqueness,
    )

    orders = load_table(spark, sf_dir, "orders")
    return quality_report(
        orders,
        [
            completeness("o_custkey"),
            uniqueness(["o_orderkey"]),
            min_bound("o_totalprice", 0.0),
            max_bound("o_totalprice", 600000.0),
            accepted_values("o_orderstatus", ["O", "F", "P"]),
            non_empty(),
        ],
    )


@query(
    "value_ks_click_vs_purchase",
    """
    WITH a AS (
        SELECT value FROM events
        WHERE event_type = 'click' AND value IS NOT NULL
    ),
    b AS (
        SELECT value FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL
    ),
    u AS (
        SELECT value, 1 AS ia, 0 AS ib FROM a
        UNION ALL SELECT value, 0 AS ia, 1 AS ib FROM b
    ),
    g AS (
        SELECT value, CAST(SUM(ia) AS BIGINT) AS ca,
               CAST(SUM(ib) AS BIGINT) AS cb
        FROM u GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
               CAST(SUM(cb) AS BIGINT) AS n_b
        FROM g
    ),
    c AS (
        SELECT CAST(SUM(ca) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cuma,
               CAST(SUM(cb) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cumb
        FROM g
    )
    SELECT t.n_a, t.n_b,
           (SELECT MAX(ROUND(ABS(
                CAST(cuma AS DOUBLE) / CAST(t.n_a AS DOUBLE)
                - CAST(cumb AS DOUBLE) / CAST(t.n_b AS DOUBLE)), 9))
            FROM c) AS ks_stat
    FROM tot t
    """,
)
def value_ks_click_vs_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the click
    and purchase value distributions (operators/histogram.ks_statistic)
    — the binning-free drift check beside value_drift_psi.  Counts are
    exact longs, each ECDF gap one pinned IEEE expression rounded to
    9 dp, MAX over an identical set — value-exact in DuckDB."""
    from ..operators.histogram import ks_statistic

    ev = load_table(spark, sf_dir, "events")
    return ks_statistic(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        "value",
    )


def _profile_oracle() -> str:
    cols = [
        ("o_orderkey", "bigint", True),
        ("o_custkey", "bigint", True),
        ("o_orderstatus", "string", False),
        ("o_totalprice", "double", True),
        ("o_orderdate", "timestamp", False),
        ("o_orderpriority", "string", False),
    ]
    aggs, rows = [], []
    for c, dt, num in cols:
        aggs.append(f"CAST(COUNT({c}) AS BIGINT) AS nn_{c}")
        aggs.append(f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS nd_{c}")
        if num:
            aggs.append(f"ROUND(CAST(MIN({c}) AS DOUBLE), 6) AS mn_{c}")
            aggs.append(f"ROUND(CAST(MAX({c}) AS DOUBLE), 6) AS mx_{c}")
        mn = f"mn_{c}" if num else "CAST(NULL AS DOUBLE)"
        mx = f"mx_{c}" if num else "CAST(NULL AS DOUBLE)"
        rows.append(
            f"SELECT '{c}' AS \"column\", '{dt}' AS dtype, n,"
            f" n - nn_{c} AS n_null, nd_{c} AS n_distinct,"
            f" {mn} AS min_value, {mx} AS max_value FROM w"
        )
    agg_sql = ",\n               ".join(
        ["CAST(COUNT(*) AS BIGINT) AS n"] + aggs
    )
    return (
        f"WITH w AS (SELECT {agg_sql} FROM orders)\n    "
        + "\n    UNION ALL ".join(rows)
    )


@query("orders_profile", _profile_oracle())
def orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic per-column profile of orders
    (operators/checks.profile_table) — counts, null counts, distinct
    cardinalities, and numeric min/max for every column in ONE
    aggregate pass: the snapshot artifact that turns schema or
    cardinality drift into a diff.  min/max emitted as rounded doubles
    for numeric columns only (cross-engine string rendering of
    timestamps is not pinned; doubles are) — the whole profile
    value-exact in DuckDB."""
    from ..operators.checks import profile_table

    return profile_table(load_table(spark, sf_dir, "orders"))
