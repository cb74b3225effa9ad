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


#: lambda bodies for :func:`_kgram_windows_sql` (``a`` is the fold so
#: far, ``b`` the next member of the window)
_ROTATE_XOR = "(shiftrightunsigned(a, 7) | shiftleft(a, 57)) ^ b"
_CONCAT = "concat_ws(' ', a, b)"
_LEAST = "least(a, b)"


def _kgram_windows_sql(arr: str, k: int, combine: str) -> str:
    """SQL text folding every k consecutive elements of the array
    column ATTRIBUTE ``arr`` with the lambda body ``combine``: one
    array element per window position, ``max(size - k + 1, 1)`` of
    them.

    Rotate-xor gives position-dependent k-gram hashes (overflow-free
    under ANSI mode), ``concat_ws`` the k-gram strings and ``least``
    a sliding min.  zip_with over k shifted slices is linear work; a
    per-element lambda referencing the whole array would re-evaluate
    it per element (O(n²) per document).  ``arr`` must be an attribute:
    interpreted HOF eval recomputes a non-attribute subtree once per
    slice reference.  zip_with pads a short slice with null, which
    ``concat_ws`` and ``least`` skip, so an array shorter than k still
    yields one window.  One parsed expression instead of ~20 py4j
    round-trips per k (the plan-build tax)."""
    win = f"greatest(size({arr}) - {k - 1}, 1)"
    out = f"slice({arr}, 1, {win})"
    for j in range(1, k):
        out = (
            f"zip_with({out}, slice({arr}, {j + 1}, {win}), "
            f"(a, b) -> {combine})"
        )
    return out


def with_shingle_hashes(
    df, text_col: str = "text", out_col: str = "sh", k: int = 3
):
    """Distinct 64-bit fingerprints of k-word shingles (array<long>)
    WITHOUT materializing shingle strings — ~3× cheaper; used by
    MinHash where only a fingerprint is needed (exact-Jaccard keeps
    real strings).  A document shorter than k tokens gets the hash of
    its whole text.  Each level is staged as a column attribute (see
    ``with_winnow_fingerprints`` for why), so tokenization and hashing
    run once per row.  (An O(log k)-pass doubling combine measured
    2.3× slower at k=13/sf0.1: each staged level copies a full-length
    array attribute.)
    """
    rest = list(df.columns)
    # every stage as ONE parsed SQL expression: the Column-by-Column
    # construction cost ~0.2 s of driver plan-build per call (~60 py4j
    # round-trips through slices/lambdas/rotates, the plan-build tax);
    # values are pinned by the goldens
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
        F.expr(_kgram_windows_sql("__sh_th", k, _ROTATE_XOR)).alias(
            "__sh_comb"
        ),
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
    """Distinct k-word shingles (array<string>); a document shorter than
    k tokens is one shingle of its whole text.  The token array is
    staged as an attribute, so each row is tokenized once instead of
    k+2 times."""
    rest = list(df.columns)
    # one parsed expression per stage (plan-build tax — see
    # with_shingle_hashes)
    d1 = df.select(
        *rest, F.expr(f"split(`{text_col}`, ' ')").alias("__sg_toks")
    )
    combined = _kgram_windows_sql("__sg_toks", k, _CONCAT)
    out = F.expr(
        f"CASE WHEN size(__sg_toks) < {k} THEN "
        "array(concat_ws(' ', __sg_toks)) "
        f"ELSE array_distinct({combined}) END"
    )
    return d1.select(*rest, out.alias(out_col))


def with_winnow_fingerprints(
    df,
    text_col: str = "text",
    out_col: str = "fps",
    k: int = 5,
    w: int = 4,
):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD'03 — public algorithm): the min of every ``w``-window of the
    rolling k-gram hash sequence, distinct (array<long>).  Returns df
    with ``out_col`` added and no other column changes.

    Guarantee: two documents sharing a token run of length
    >= w + k - 1 share at least one fingerprint, while only
    ~2/(w+1) of all k-gram hashes are kept — a tunable-density
    candidate-blocking key for near-dup detection (explode + equi-join
    on fingerprint, the same scale shape as every other dedup path).
    A document shorter than k tokens gets the hash of its whole text.

    Each level (tokens → token hashes → rolling k-gram hashes →
    sliding min) is materialized as a column ATTRIBUTE behind a
    projection boundary: higher-order functions are interpreted, and
    interpreted eval re-evaluates a subtree once per REFERENCE, so an
    unstaged expression re-tokenizes ≈ k·w times per row (measured
    ~10× slower at sf0.1).  CollapseProject keeps the boundaries: the
    aliases are non-cheap and referenced more than once."""
    rest = list(df.columns)
    d1 = df.select(
        *rest, F.expr(f"split(`{text_col}`, ' ')").alias("__wf_toks")
    )
    d1b = d1.select(
        *rest,
        "__wf_toks",
        F.expr("transform(__wf_toks, t -> xxhash64(t))").alias("__wf_th"),
    )
    d2 = d1b.select(
        *rest,
        "__wf_toks",
        F.expr(_kgram_windows_sql("__wf_th", k, _ROTATE_XOR)).alias(
            "__wf_hs"
        ),
    )
    d3 = d2.select(
        *rest,
        "__wf_toks",
        F.expr(_kgram_windows_sql("__wf_hs", w, _LEAST)).alias("__wf_mins"),
    )
    fps = F.expr(
        f"CASE WHEN size(__wf_toks) < {k} THEN "
        "array(xxhash64(concat_ws(' ', __wf_toks))) "
        "ELSE array_distinct(__wf_mins) END"
    )
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
    Ordered (non-distinct) n-gram fingerprints are the rolling hashes
    of ``with_shingle_hashes`` before its distinct step.
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
        F.when(F.size("__rt") < F.lit(n), F.array())
        .otherwise(F.expr(_kgram_windows_sql("__rh", n, _ROTATE_XOR)))
        .alias("__rng"),
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
