"""Benchmark decontamination — flag/remove training documents that
overlap an evaluation set (task brief: training-data pipeline surface).

Method: n-gram collision, the published procedure used for GPT-3
(Brown et al. 2020, appendix C: 13-gram overlap) and PaLM: a document
is contaminated if it shares at least ``min_hits`` distinct token
n-grams with any benchmark document.  N-grams travel as 64-bit
fingerprints (``functions.text.with_shingle_hashes`` — tokens hashed
once, rotate-xor rolling combine), never as strings.

Scale design: the benchmark side is an eval suite — thousands of
documents, millions of n-grams at most — so its distinct-hash set is
broadcast by default and the probe is a map-side hash join over the
corpus scan: zero shuffle of corpus data, linear in corpus size.  With
``broadcast_benchmark=False`` the same plan degrades gracefully to a
shuffled equi-join on the hash for oversized benchmark sets.

Reference parity note: the reference worker (trends.go) has no
decontamination concept; this is part of the engine-addition surface
alongside dedup/ANN (SURVEY §north-star).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T


#: tokens per window partition in _ngram_hashes — bounds the work one
#: task can receive from a single giant document (power of two)
_BLOCK_TOKENS = 1 << 17


def _ngram_hashes(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    out_id: str,
    block_tokens: int = _BLOCK_TOKENS,
) -> DataFrame:
    """(out_id, h): DISTINCT n-gram fingerprints per document.

    Formulation: posexplode tokens → window of ``n`` codegen'd lags →
    xor of rotated terms.  Bit-identical to the staged zip_with fold
    (``with_shingle_hashes``): token at lag d sits d positions from the
    window's end, so its accumulated rotation is 7·d.  For the large n
    of decontamination (13) the n-1 interpreted zip_with passes were
    the pipeline's dominant cost — the lag window pays one shuffle of
    token rows and keeps the per-row work in whole-stage codegen
    (measured 3× at sf0.1: 1.65 s → 0.62 s).  Documents shorter than
    ``n`` tokens contribute their whole-text hash, matching
    ``with_shingle_hashes``' fallback.

    Giant-document guard: the lag window is salted by token BLOCK —
    partitionBy(doc, p div B) instead of partitionBy(doc) — so one
    multi-million-token document spreads over ceil(len/B) window
    partitions instead of serializing a single task.  The last n-1
    tokens of each block are duplicated into the next block as lag
    context (n-1 overlap => every gram still sees its full window,
    bit-identical to the unblocked form) and each gram is emitted only
    in the block that owns its END position, so no duplicates arise.
    Overhead for normal documents: one extra int column in the shuffle
    key and (n-1)/B ≈ 0.01% duplicated token rows.
    """
    return (
        _ngram_hash_ends(df, id_col, text_col, n, out_id, block_tokens)
        .select(out_id, "h")
        .distinct()
    )


def _ngram_hash_ends(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    out_id: str,
    block_tokens: int = _BLOCK_TOKENS,
) -> DataFrame:
    """(out_id, p, h): every n-gram fingerprint WITH its end-token
    position — the position-carrying base of ``_ngram_hashes`` (span
    removal needs every occurrence, the flag path adds the distinct).
    Documents shorter than ``n`` contribute their whole-text hash with
    p = len-1, so a short-doc match marks a span covering the whole
    document after clamping."""
    # explicit raise, not assert: stripped under python -O, after which
    # the shift/mask math would silently drop boundary-gram context
    if block_tokens < n or block_tokens & (block_tokens - 1) != 0:
        raise ValueError(
            f"block_tokens must be a power of two >= n, got {block_tokens}"
        )
    shift = block_tokens.bit_length() - 1
    # every stage below is a selectExpr/where STRING: the Column API
    # costs ~10 py4j round-trips per operator of driver plan-build and
    # this builder runs twice per decontamination query (the
    # plan-build tax, CLAUDE.md — measured 0.2 s/call here before the
    # string form); the parsed trees are identical, goldens unchanged
    staged = df.selectExpr(
        f"CAST({id_col} AS BIGINT) AS {out_id}",
        f"split({text_col}, ' ') AS __t",
    )
    tok = (
        staged.where(f"size(__t) >= {n}")
        .selectExpr(out_id, "posexplode(__t) AS (p, t)")
        .selectExpr(
            out_id, "CAST(p AS BIGINT) AS p", "xxhash64(t) AS h0"
        )
    )
    b0 = f"shiftright(p, {shift})"
    tok = tok.selectExpr(
        out_id,
        "p",
        "h0",
        f"explode(CASE WHEN (p & {block_tokens - 1})"
        f" >= {block_tokens - (n - 1)}"
        f" THEN array({b0}, {b0} + 1) ELSE array({b0}) END) AS __blk",
    )
    # the n-term lag-rotate-xor fan as ONE parsed SQL expression —
    # Column-by-Column it costs ~10 py4j round-trips per lag term of
    # driver plan-build (the plan-build tax, CLAUDE.md).  Catalyst
    # groups the identical inline OVER specs into a single Window
    # operator exactly as the shared Window object did; `^`/rotation
    # text parses to the same tree, so grams stay bit-identical.
    over = f"OVER (PARTITION BY {out_id}, __blk ORDER BY p)"

    def _rot_sql(x: str, r: int) -> str:
        r %= 64
        if r == 0:
            return x
        return (
            f"(shiftrightunsigned({x}, {r}) | shiftleft({x}, {64 - r}))"
        )

    gram = F.expr(
        " ^ ".join(
            _rot_sql(f"lag(h0, {d}) {over}", 7 * d) for d in range(n)
        )
    )
    grams = (
        tok.select(out_id, "p", "__blk", gram.alias("h"))
        .where(f"p >= {n - 1} AND p >= shiftleft(__blk, {shift})")
        .select(out_id, "p", "h")
    )
    short = staged.where(f"size(__t) < {n}").selectExpr(
        out_id,
        "CAST(size(__t) - 1 AS BIGINT) AS p",
        "xxhash64(concat_ws(' ', __t)) AS h",
    )
    return grams.unionByName(short)


def contamination_hits(
    docs: DataFrame,
    benchmark: DataFrame,
    doc_id_col: str = "doc_id",
    doc_text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
    n: int = 13,
    min_hits: int = 1,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Per-document contamination verdict against a benchmark corpus.

    Returns one row per input document:
    (doc_id, n_hits, n_benchmarks, contaminated) where ``n_hits`` is
    the count of distinct shared n-gram fingerprints, ``n_benchmarks``
    the count of distinct benchmark documents hit, and ``contaminated``
    is ``n_hits >= min_hits``.  Clean documents appear with zeros, so
    the output is a total verdict table (left join, not a hit list).
    """
    doc_ng = _ngram_hashes(docs, doc_id_col, doc_text_col, n, "id")
    bench_ng = _ngram_hashes(
        benchmark, bench_id_col, bench_text_col, n, "bid"
    )
    bench_side = (
        F.broadcast(bench_ng) if broadcast_benchmark else bench_ng
    )
    hits = (
        doc_ng.join(bench_side, "h")
        .groupBy("id")
        .agg(
            F.countDistinct("h").alias("n_hits"),
            F.countDistinct("bid").alias("n_benchmarks"),
        )
    )
    ids = docs.select(F.col(doc_id_col).cast("long").alias("id"))
    return ids.join(hits, "id", "left").select(
        F.col("id").alias(doc_id_col),
        F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
        F.coalesce(F.col("n_benchmarks"), F.lit(0)).alias("n_benchmarks"),
        (F.coalesce(F.col("n_hits"), F.lit(0)) >= min_hits).alias(
            "contaminated"
        ),
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    doc_id_col: str = "doc_id",
    **kwargs,
) -> DataFrame:
    """The filter form: ``docs`` minus contaminated rows (all original
    columns preserved).  Kwargs pass through to ``contamination_hits``."""
    verdict = contamination_hits(
        docs, benchmark, doc_id_col=doc_id_col, **kwargs
    )
    clean = verdict.filter(~F.col("contaminated")).select(doc_id_col)
    return docs.join(clean, doc_id_col, "left_semi")


def remove_contaminated_spans(
    docs: DataFrame,
    benchmark: DataFrame,
    doc_id_col: str = "doc_id",
    doc_text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
    n: int = 13,
    margin: int = 0,
    broadcast_benchmark: bool = True,
    block_tokens: int = _BLOCK_TOKENS,
) -> DataFrame:
    """Surgical decontamination (the GPT-3 appendix-C REMOVAL step):
    instead of dropping a contaminated document, cut out every token
    that lies inside a matched benchmark n-gram window, ± ``margin``
    context tokens, and stitch the remainder back together.

    Per document: (doc_id, text_clean, n_tokens, n_removed).  Clean
    documents pass through untouched — only documents with at least
    one matched gram are re-tokenized and rebuilt, so the rebuild cost
    scales with the contaminated subset, not the corpus.

    Mechanics (all JVM-side, no UDFs):

    1. matched gram END positions: the position-carrying fingerprint
       stream (``_ngram_hash_ends``) semi-joined against the broadcast
       benchmark hash set;
    2. token kill flags: a token at position p dies iff some matched
       end e sits in [p − margin, p + n − 1 + margin] — one bounded
       RANGE-frame window max over end-markers per document (never a
       per-token × per-end join);
    3. rebuild: surviving tokens re-assembled in position order with
       ``array_sort`` + ``concat_ws`` (one aggregate, no window sort).

    Overlapping or adjacent matched windows merge for free — the kill
    flag is a max over the covering frame.  The kill-flag window
    partitions by document; the block-salt guard of the fingerprint
    stage does not apply here because only CONTAMINATED documents
    reach this window (bounded by the eval-suite overlap, not by
    corpus document length — a pathological giant doc that is also
    contaminated re-serializes one task, accepted and documented).
    """
    doc_ng = _ngram_hash_ends(
        docs, doc_id_col, doc_text_col, n, "id", block_tokens
    )
    bench_ng = _ngram_hashes(
        benchmark, bench_id_col, bench_text_col, n, "bid"
    ).select("h").distinct()
    bench_side = (
        F.broadcast(bench_ng) if broadcast_benchmark else bench_ng
    )
    # narrow repartition barrier: ``ends`` feeds BOTH the dirty-doc
    # semi-join and the kill-mark join; without an exchange between
    # them each branch re-runs the corpus-wide fingerprint window and
    # benchmark probe (the self-join-sides lesson, CLAUDE.md — same
    # fix as dsir.importance_weights).  The matched-end stream is tiny
    # (bounded by the contamination overlap), so the shuffle is cheap.
    ends = (
        doc_ng.join(bench_side, "h", "left_semi")
        .select("id", "p")
        .repartition("id")
    )
    staged = docs.select(
        F.col(doc_id_col).cast("long").alias("id"),
        F.col(doc_text_col).alias("__text"),
    )
    return _cut_marked_spans(staged, ends, n, margin, doc_id_col)


def _cut_marked_spans(
    staged: DataFrame,
    ends: DataFrame,
    n: int,
    margin: int,
    doc_id_col: str,
) -> DataFrame:
    """Shared span-removal tail: given ``staged`` (id, __text) and the
    marked gram END positions ``ends`` (id, p), cut every token inside
    a marked n-gram window ± margin and stitch the remainder — the
    mechanics documented on ``remove_contaminated_spans``.  Returns
    (doc_id, text_clean, n_tokens, n_removed); untouched docs pass
    through without re-tokenization."""
    dirty_ids = ends.select("id").distinct()
    dirty = staged.join(dirty_ids, "id", "left_semi")
    # token TEXT never enters a shuffle (r7, the boilerplate lesson):
    # the kill-flag window and the per-doc aggregate run over
    # (id, p, __end) INTS; survivor positions come back as an array
    # and the clean text is rebuilt by INDEX from the staged per-doc
    # token array, in the scan stage.  Previously both the window and
    # the reassembly groupBy carried every dirty token string.
    # (String-form expressions throughout: the Column-by-Column build
    # cost ~0.3 s of driver py4j round-trips per query — plan-build
    # tax, CLAUDE.md; parsed trees identical, goldens unchanged.)
    tok = dirty.selectExpr(
        "id", "posexplode(split(__text, ' ')) AS (p, __t0)"
    ).selectExpr("id", "CAST(p AS BIGINT) AS p")
    marks = ends.selectExpr("id", "p", "1 AS __end")
    flagged = tok.join(marks, ["id", "p"], "left").selectExpr(
        "id", "p", "coalesce(__end, 0) AS __end"
    )
    # a gram ending at e covers tokens [e-n+1, e]; the frame looks
    # FORWARD from each token for an end within reach (± margin)
    killed = flagged.selectExpr(
        "id",
        "p",
        f"max(__end) OVER (PARTITION BY id ORDER BY p RANGE BETWEEN"
        f" {margin} PRECEDING AND {n - 1 + margin} FOLLOWING)"
        " AS __kill",
    )
    flag_agg = killed.groupBy("id").agg(
        F.expr("count(1) AS n_tokens"),
        F.expr("sum(__kill) AS n_removed"),
        F.expr(
            "sort_array(collect_list("
            "CASE WHEN __kill = 0 THEN p END)) AS __keep"
        ),
    )
    rebuilt = (
        dirty.selectExpr("id", "split(__text, ' ') AS __toks")
        .join(flag_agg, "id")
        .selectExpr(
            "id",
            "n_tokens",
            "n_removed",
            "concat_ws(' ', transform(__keep,"
            " p -> element_at(__toks, CAST(p + 1 AS INT))))"
            " AS text_clean",
        )
    )
    return staged.join(rebuilt, "id", "left").selectExpr(
        f"id AS {doc_id_col}",
        "coalesce(text_clean, __text) AS text_clean",
        # the extra 0 arm: size(tokens(NULL)) is NULL, and the oracles
        # count a NULL-text doc as 0 tokens (r7 review finding)
        "coalesce(n_tokens,"
        " CAST(size(split(__text, ' ')) AS BIGINT),"
        " CAST(0 AS BIGINT)) AS n_tokens",
        "CAST(coalesce(n_removed, 0) AS BIGINT) AS n_removed",
    )


def remove_duplicate_spans(
    docs: DataFrame,
    doc_id_col: str = "doc_id",
    doc_text_col: str = "text",
    n: int = 10,
    min_count: int = 2,
    margin: int = 0,
    block_tokens: int = _BLOCK_TOKENS,
) -> DataFrame:
    """Exact-substring deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): cut every token span
    that occurs verbatim at least ``min_count`` times ANYWHERE in the
    corpus (other documents or elsewhere in the same one) and is at
    least ``n`` tokens long — the suffix-array ExactSubstr operator of
    that paper, re-expressed as a corpus-wide n-gram frequency pass.

    Equivalence (why n-grams suffice, no suffix array needed): the
    union of all duplicated substrings of length >= n equals the union
    of the coverage of all duplicated n-grams — every duplicated
    substring of length m >= n is covered by its m-n+1 (duplicated)
    n-grams, and every duplicated n-gram IS a duplicated substring of
    length n.  So marking positions whose n-gram occurs >= min_count
    times and cutting their coverage removes exactly what the
    suffix-array formulation removes.

    Pipeline (all JVM-side): position-carrying rolled n-gram
    fingerprints (``_ngram_hash_ends`` — block-salted lag windows, so
    one giant doc cannot serialize a task) → global multiplicity as a
    COUNT window over the fingerprint itself (the df-via-window trick:
    one pass, no second corpus scan; a pathologically hot gram's
    window partition holds its occurrence list — linear in its df,
    like the stop-shingle cap) → marked ends repartitioned by doc →
    the shared span-cutting tail (``_cut_marked_spans``).  Only
    documents owning at least one duplicated gram are re-tokenized.

    Per document: (doc_id, text_clean, n_tokens, n_removed).  Spans
    travel as 64-bit rolled fingerprints (collisions negligible at
    corpus scale — the ``doc_duplicate_spans`` precedent); documents
    shorter than ``n`` tokens participate via their whole-text
    fingerprint, so exact-duplicate short docs are cut whole.
    """
    # Dead end (r11), closing the variant the r8b note left
    # unmeasured: localCheckpoint(ends_all) + map-side-combined
    # groupBy(h) + AQE-broadcast semi join — interleaved best-of-5 at
    # sf0.1 with a doc_overlap_pairs anchor measured 1.81 → 2.04 s min
    # (anchor-normalized still a loss): the fingerprint-stream
    # materialization costs more than the sort the window pays, and
    # the window's single exchange already map-side-aggregates
    # nothing it doesn't need.  Both join-shaped variants are now
    # measured losses (r8b: un-checkpointed semi 1.4× slower; r11:
    # checkpointed semi ~1.15× slower).  The window stays.
    ends_all = _ngram_hash_ends(
        docs, doc_id_col, doc_text_col, n, "id", block_tokens
    )
    w_df = Window.partitionBy("h")
    ends = (
        ends_all.withColumn("__c", F.count(F.lit(1)).over(w_df))
        .filter(F.col("__c") >= F.lit(int(min_count)))
        .select("id", "p")
        .repartition("id")
    )
    staged = docs.select(
        F.col(doc_id_col).cast("long").alias("id"),
        F.col(doc_text_col).alias("__text"),
    )
    return _cut_marked_spans(staged, ends, n, margin, doc_id_col)


def remove_duplicate_spans_keep_first(
    docs: DataFrame,
    doc_id_col: str = "doc_id",
    doc_text_col: str = "text",
    n: int = 10,
    margin: int = 0,
    block_tokens: int = _BLOCK_TOKENS,
) -> DataFrame:
    """The C4 flavor of exact span dedup (Raffel et al. 2020, §2.2:
    "we discarded all but one of any three-sentence span occurring
    more than once"): where ``remove_duplicate_spans`` cuts EVERY
    occurrence of a duplicated span, this keeps the canonical first
    one — the occurrence with the smallest (doc_id, position) — and
    cuts the rest, so exactly one copy of each duplicated region
    survives in the corpus.

    Same machinery as ``remove_duplicate_spans`` with one extra value
    in the fingerprint window: the per-hash global minimum (id, p)
    occurrence (a struct MIN in the same window pass — lexicographic,
    deterministic because (id, p) is unique per gram row).  An
    occurrence is cut iff its gram is duplicated AND it is not that
    minimum.  Per-gram semantics: when two duplicated runs overlap, a
    token of the canonical copy survives only while none of its
    covering grams is marked, exactly mirroring the oracle's
    row_number formulation.

    Per document: (doc_id, text_clean, n_tokens, n_removed).
    """
    ends_all = _ngram_hash_ends(
        docs, doc_id_col, doc_text_col, n, "id", block_tokens
    )
    w_df = Window.partitionBy("h")
    first = F.min(F.struct("id", "p")).over(w_df)
    ends = (
        ends_all.withColumn("__c", F.count(F.lit(1)).over(w_df))
        .withColumn("__f", first)
        .filter(
            (F.col("__c") >= F.lit(2))
            & ~(
                (F.col("id") == F.col("__f")["id"])
                & (F.col("p") == F.col("__f")["p"])
            )
        )
        .select("id", "p")
        .repartition("id")
    )
    staged = docs.select(
        F.col(doc_id_col).cast("long").alias("id"),
        F.col(doc_text_col).alias("__text"),
    )
    return _cut_marked_spans(staged, ends, n, margin, doc_id_col)
