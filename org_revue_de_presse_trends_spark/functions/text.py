"""Text-analysis column expressions for the LLM-data-pipeline surface.

All JVM-side built-ins (no Python in the hot path) so they stay inside
whole-stage codegen and scale linearly with input splits — at 100 TB
these run embarrassingly parallel with zero shuffle.

Portability note: every expression here has an exact ANSI-SQL
equivalent runnable by DuckDB (the driver's correctness oracle), which
constrains the dialect: single-space tokenization, simple RE2/Java-
compatible regexes, md5 for fingerprints.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram/stopword
# language-ID heuristic.  Deliberately small + deterministic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "fr": ("le", "la", "et", "les", "de"),
    "es": ("el", "los", "las", "y", "que"),
    "de": ("der", "die", "das", "und", "ist"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization (array<string>)."""
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long").alias("token_count")


def word_tokens_regex(text: Column) -> Column:
    """BPE-ish regex tokenizer: runs of letters or digits.

    Pattern is valid in both Java regex (Spark) and RE2 (DuckDB).
    """
    return F.regexp_extract_all(text, F.lit("[A-Za-z]+|[0-9]+"), 0)


def _in_set(words: tuple[str, ...]):
    """1-arg lambda factory (PySpark introspects lambda arity; extra
    default args would be bound to Columns)."""
    return lambda t: t.isin(*words)


def stopword_ratio(text: Column, stopwords: tuple[str, ...]) -> Column:
    toks = tokens(text)
    hits = F.size(F.filter(toks, _in_set(stopwords)))
    return hits.cast("double") / F.size(toks).cast("double")


def quality_score(text: Column) -> Column:
    """Composite document-quality heuristic in [0,1]:
    mean of (length score, mean-token-length score, stopword presence).

    Pure arithmetic over portable primitives so the DuckDB oracle can
    reproduce it bit-for-bit.
    """
    n_chars = F.length(text).cast("double")
    toks = tokens(text)
    n_toks = F.size(toks).cast("double")
    mean_tok_len = (n_chars - (n_toks - F.lit(1.0))) / n_toks
    len_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    tok_len_score = F.least(mean_tok_len / F.lit(8.0), F.lit(1.0))
    stop_score = F.least(
        stopword_ratio(text, LANG_MARKERS["en"]) * F.lit(5.0), F.lit(1.0)
    )
    return (len_score + tok_len_score + stop_score) / F.lit(3.0)


def lang_id(text: Column) -> Column:
    """Stopword-marker language ID: the language whose marker-token hit
    count is highest wins; ties broken by language code ascending;
    'und' when no marker hits at all."""
    toks = tokens(text)
    scored = [
        F.struct(
            F.size(F.filter(toks, _in_set(words))).alias("hits"),
            F.lit(code).alias("code"),
        )
        for code, words in sorted(LANG_MARKERS.items())
    ]
    arr = F.array(*scored)
    # max hits first, then min code among winners (deterministic ties)
    max_hits = F.array_max(F.transform(arr, lambda s: s["hits"]))
    winners = F.filter(arr, lambda s: s["hits"] == max_hits)
    best_code = F.array_min(F.transform(winners, lambda s: s["code"]))
    return F.when(max_hits > 0, best_code).otherwise(F.lit("und"))


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of lowercased,
    whitespace-trimmed text.  md5 is identical in Spark and DuckDB."""
    return F.md5(F.lower(F.trim(text)))


def _combine_kgrams(th: Column, k: int) -> Column:
    """Rotate-xor combination of k consecutive token hashes (position-
    dependent, overflow-free under ANSI mode).  zip_with over k shifted
    slices — linear work; referencing the whole array inside a
    per-element lambda would re-evaluate it per element (O(n²) per
    document).  ``th`` should be a column ATTRIBUTE when possible:
    interpreted HOF eval recomputes a non-attribute subtree once per
    slice reference (k times)."""
    n = F.size(th)

    def rot(c: Column, r: int) -> Column:
        return F.shiftrightunsigned(c, r).bitwiseOR(F.shiftleft(c, 64 - r))

    win = F.greatest(n - F.lit(k - 1), F.lit(1))
    combined = F.slice(th, 1, win)
    for j in range(1, k):
        combined = F.zip_with(
            combined,
            F.slice(th, j + 1, win),
            lambda a, b: rot(a, 7).bitwiseXOR(b),
        )
    return combined


def _combine_kgrams_sql(th_name: str, k: int) -> str:
    """SQL text of :func:`_combine_kgrams` over a column ATTRIBUTE
    named ``th_name`` — one parse instead of ~20 py4j round-trips per
    k; parses to the identical expression tree (goldens unchanged)."""
    win = f"greatest(size({th_name}) - {k - 1}, 1)"
    combined = f"slice({th_name}, 1, {win})"
    for j in range(1, k):
        combined = (
            f"zip_with({combined}, slice({th_name}, {j + 1}, {win}), "
            "(a, b) -> (shiftrightunsigned(a, 7) | shiftleft(a, 57)) ^ b)"
        )
    return combined


def _rolling_kgram_hashes(toks: Column, k: int) -> Column:
    """ORDERED rolling hashes of k-token windows (array<long>, one per
    window position): hash each token once, then rotate-xor combine."""
    return _combine_kgrams(F.transform(toks, lambda t: F.xxhash64(t)), k)


def shingle_hashes(text: Column, k: int = 3) -> Column:
    """Distinct 64-bit fingerprints of k-word shingles (array<long>)
    WITHOUT materializing shingle strings — ~3× cheaper; used by
    MinHash where only a fingerprint is needed (exact-Jaccard keeps
    real strings).  Prefer ``with_shingle_hashes`` in DataFrame
    contexts (stages the token/hash levels as attributes; this Column
    form re-tokenizes k+1 times per row under interpreted HOF eval)."""
    toks = tokens(text)
    n = F.size(toks)
    return F.when(
        n < F.lit(k), F.array(F.xxhash64(F.concat_ws(" ", toks)))
    ).otherwise(F.array_distinct(_rolling_kgram_hashes(toks, k)))


def with_shingle_hashes(
    df, text_col: str = "text", out_col: str = "sh", k: int = 3
):
    """DataFrame-level ``shingle_hashes`` with each level staged as a
    column attribute (see ``with_winnow_fingerprints`` for why) —
    identical values, tokenization/hashing evaluated once per row.
    (An O(log k)-pass doubling combine measured 2.3× slower at k=13/sf0.1:
    each staged level copies a full-length array attribute.)
    """
    rest = list(df.columns)
    # every stage as ONE parsed SQL expression: the Column-by-Column
    # construction cost ~0.2 s of driver plan-build per call (~60 py4j
    # round-trips through slices/lambdas/rotates — the plan-build tax,
    # CLAUDE.md).  The SQL text parses to the same expression trees:
    # rot(a,7) = shiftrightunsigned|shiftleft(57), xor via ^ — values
    # bit-identical, pinned by the goldens.
    d1 = df.select(
        *rest, F.expr(f"split(`{text_col}`, ' ')").alias("__sh_toks")
    )
    d2 = d1.select(
        *rest,
        "__sh_toks",
        F.expr("transform(__sh_toks, t -> xxhash64(t))").alias("__sh_th"),
    )
    d3 = d2.select(
        *rest,
        "__sh_toks",
        F.expr(_combine_kgrams_sql("__sh_th", k)).alias("__sh_comb"),
    )
    out = F.expr(
        f"CASE WHEN size(__sh_toks) < {k} THEN "
        "array(xxhash64(concat_ws(' ', __sh_toks))) "
        "ELSE array_distinct(__sh_comb) END"
    )
    return d3.select(*rest, out.alias(out_col))


def with_shingles(
    df, text_col: str = "text", out_col: str = "sh", k: int = 3
):
    """DataFrame-level ``shingles`` (string k-grams) with the token
    array staged as an attribute — identical values, one tokenization
    per row instead of k+2."""
    rest = list(df.columns)
    # one parsed expression per stage (plan-build tax — see
    # with_shingle_hashes); trees and values identical
    d1 = df.select(
        *rest, F.expr(f"split(`{text_col}`, ' ')").alias("__sg_toks")
    )
    win = f"greatest(size(__sg_toks) - {k - 1}, 1)"
    combined = f"slice(__sg_toks, 1, {win})"
    for j in range(1, k):
        combined = (
            f"zip_with({combined}, slice(__sg_toks, {j + 1}, {win}), "
            "(a, b) -> concat_ws(' ', a, b))"
        )
    out = F.expr(
        f"CASE WHEN size(__sg_toks) < {k} THEN "
        "array(concat_ws(' ', __sg_toks)) "
        f"ELSE array_distinct({combined}) END"
    )
    return d1.select(*rest, out.alias(out_col))


def winnow_fingerprints(text: Column, k: int = 5, w: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD'03 — public algorithm): the min of every ``w``-window of the
    rolling k-gram hash sequence, distinct (array<long>).

    Guarantee: two documents sharing a token run of length
    >= w + k - 1 share at least one fingerprint, while only
    ~2/(w+1) of all k-gram hashes are kept — a tunable-density
    candidate-blocking key for near-dup detection (explode + equi-join
    on fingerprint, the same scale shape as every other dedup path).
    The sliding min is w-1 zip_with(least) passes over shifted slices —
    linear, no per-element slicing.

    PERFORMANCE: higher-order functions are interpreted, and
    interpreted eval re-evaluates a subtree once per REFERENCE — this
    single-Column form references the rolling-hash tree w times and the
    token tree k times within it (≈ k·w tokenizations per row,
    measured ~10× slower).  Prefer ``with_winnow_fingerprints`` (the
    DataFrame form used by the engine's own query/operator paths),
    which stages each level as a column attribute so it is evaluated
    exactly once per row; this Column form is kept for expression-only
    contexts.
    """
    toks = tokens(text)
    hs = _rolling_kgram_hashes(toks, k)
    mins = _sliding_min(hs, w)
    return F.when(
        F.size(tokens(text)) < F.lit(k),
        F.array(F.xxhash64(F.concat_ws(" ", toks))),
    ).otherwise(F.array_distinct(mins))


def _sliding_min(hs: Column, w: int) -> Column:
    n_h = F.size(hs)
    win = F.greatest(n_h - F.lit(w - 1), F.lit(1))
    # zip_with pads the shorter (shifted) side with null; least()
    # ignores nulls, so short tails still produce a valid window min
    mins = F.slice(hs, 1, win)
    for j in range(1, w):
        mins = F.zip_with(
            mins, F.slice(hs, j + 1, win), lambda a, b: F.least(a, b)
        )
    return mins


def with_winnow_fingerprints(
    df,
    text_col: str = "text",
    out_col: str = "fps",
    k: int = 5,
    w: int = 4,
):
    """DataFrame-level winnowing: identical values to
    ``winnow_fingerprints`` (same expressions), but each level (tokens
    → rolling k-gram hashes → sliding min) is materialized as a column
    ATTRIBUTE behind a projection boundary, so interpreted HOF eval
    computes it once per row instead of once per reference
    (CollapseProject keeps the boundaries: the aliases are non-cheap
    and referenced more than once).  Measured ~10× faster at sf0.1.
    Returns df with ``out_col`` added and no other column changes."""
    rest = [c for c in df.columns]
    d1 = df.select(*rest, tokens(F.col(text_col)).alias("__wf_toks"))
    d1b = d1.select(
        *rest,
        "__wf_toks",
        F.transform(F.col("__wf_toks"), lambda t: F.xxhash64(t)).alias(
            "__wf_th"
        ),
    )
    d2 = d1b.select(
        *rest,
        "__wf_toks",
        _combine_kgrams(F.col("__wf_th"), k).alias("__wf_hs"),
    )
    d3 = d2.select(
        *rest,
        "__wf_toks",
        _sliding_min(F.col("__wf_hs"), w).alias("__wf_mins"),
    )
    fps = F.when(
        F.size(F.col("__wf_toks")) < F.lit(k),
        F.array(F.xxhash64(F.concat_ws(" ", F.col("__wf_toks")))),
    ).otherwise(F.array_distinct(F.col("__wf_mins")))
    return d3.select(*rest, fps.alias(out_col))


def chunks_from_tokens(
    toks_attr: Column, size: int = 50, overlap: int = 10
) -> Column:
    """Overlapping token-window chunks for LLM training data:
    array<struct<chunk_id:int, chunk:string, n_tokens:int>>.

    ``toks_attr`` MUST be a materialized column attribute (not an
    inline split() expression) so the lambda's reference doesn't
    re-evaluate tokenization per chunk.  Chunk i covers tokens
    [i*step, i*step+size), step = size - overlap; the last chunk may be
    short; every token belongs to ≥1 chunk.
    """
    if overlap >= size:
        raise ValueError("overlap must be smaller than size")
    step = size - overlap
    n = F.size(toks_attr)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)).cast("double") / F.lit(step)).cast("int"),
        F.lit(1),
    )
    return F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_id"),
            F.concat_ws(" ", F.slice(toks_attr, i * step + 1, size)).alias(
                "chunk"
            ),
            F.least(n - i * step, F.lit(size)).cast("int").alias("n_tokens"),
        ),
    )


def shingles(text: Column, k: int = 3) -> Column:
    """k-word shingles (array<string>), distinct.

    Built by zip_with over k shifted slices of the token array —
    linear work (slicing inside a per-element lambda re-evaluates the
    array per element: O(n²) per document).
    """
    toks = tokens(text)
    n = F.size(toks)
    win = F.greatest(n - F.lit(k - 1), F.lit(1))
    combined = F.slice(toks, 1, win)
    for j in range(1, k):
        combined = F.zip_with(
            combined,
            F.slice(toks, j + 1, win),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.when(
        n < F.lit(k), F.array(F.concat_ws(" ", toks))
    ).otherwise(F.array_distinct(combined))


def with_repetition_signals(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
):
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1)
    per document, added as columns:

    - ``dup_line_frac``  — fraction of non-blank lines that are
      repeats of an earlier line (0 for ≤1-line docs)
    - ``dup_ngram_frac`` — fraction of token n-gram OCCURRENCES that
      are repeats (1 - distinct/total; 0 when fewer than n tokens)
    - ``top_ngram_frac`` — share of the single most frequent n-gram
      among all n-gram occurrences

    Lines are HOF work on a tiny per-row array; n-gram stats need the
    occurrence multiset, so they go through ONE explode + two-level
    aggregation (count per (doc, gram) map-side combines before the
    shuffle — at 100 TB the exchange carries one row per DISTINCT gram
    per doc, not per occurrence) and join back on ``id_col``.
    Ordered (non-distinct) n-gram fingerprints reuse the staged
    rolling-hash pipeline of ``with_shingle_hashes``.
    """
    rest = list(df.columns)
    lines = F.filter(
        F.split(F.col(text_col), "\n"), lambda x: F.trim(x) != ""
    )
    d0 = df.select(*rest, lines.alias("__rl"))
    n_lines = F.size("__rl")
    dup_line = F.when(
        n_lines > 0,
        (n_lines - F.size(F.array_distinct(F.col("__rl"))))
        .cast("double") / n_lines,
    ).otherwise(F.lit(0.0))
    with_lines = d0.select(*rest, dup_line.alias("dup_line_frac"))

    # ordered n-gram fingerprints, each level staged as an attribute
    d1 = with_lines.select(
        *with_lines.columns, tokens(F.col(text_col)).alias("__rt")
    )
    d2 = d1.select(
        *with_lines.columns,
        "__rt",
        F.transform(F.col("__rt"), lambda t: F.xxhash64(t)).alias("__rh"),
    )
    d3 = d2.select(
        *with_lines.columns,
        F.when(
            F.size("__rt") < F.lit(n), F.array()
        ).otherwise(_combine_kgrams(F.col("__rh"), n)).alias("__rng"),
    )
    occ = d3.select(
        F.col(id_col).alias("__rid"), F.explode("__rng").alias("g")
    )
    per_gram = occ.groupBy("__rid", "g").agg(F.count("*").alias("c"))
    stats = per_gram.groupBy("__rid").agg(
        F.sum("c").alias("__tot"),
        F.count("*").alias("__dis"),
        F.max("c").alias("__mx"),
    )
    joined = d3.drop("__rng").join(
        stats, d3[id_col] == stats["__rid"], "left"
    )
    tot = F.col("__tot")
    return joined.select(
        *with_lines.columns,
        F.when(tot > 0, (tot - F.col("__dis")).cast("double") / tot)
        .otherwise(F.lit(0.0))
        .alias("dup_ngram_frac"),
        F.when(tot > 0, F.col("__mx").cast("double") / tot)
        .otherwise(F.lit(0.0))
        .alias("top_ngram_frac"),
    )
