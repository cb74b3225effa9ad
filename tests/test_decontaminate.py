"""Decontamination + repetition-signal semantics on planted fixtures
(the sf0.01 golden hashes in test_golden_rowsonly.py pin determinism;
these tests pin MEANING)."""

from __future__ import annotations

from pyspark.sql import functions as F

from org_revue_de_presse_trends_spark.functions.text import (
    with_repetition_signals,
)
from org_revue_de_presse_trends_spark.operators.decontaminate import (
    contamination_hits,
    decontaminate,
)

BENCH_Q = (
    "what is the capital city of the country of france "
    "answer paris is the capital"
)  # 14 tokens → contains 13-grams


def _docs(spark):
    filler = " ".join(f"tok{i}" for i in range(30))
    return spark.createDataFrame(
        [
            # verbatim benchmark inclusion, surrounded by filler
            (1, f"{filler} {BENCH_Q} {filler}"),
            # clean doc, same vocabulary register but no shared 13-gram
            (2, " ".join(f"word{i}" for i in range(40))),
            # partial overlap below n (12 shared tokens only)
            (3, " ".join(BENCH_Q.split()[:12]) + " " + filler),
            # short doc (< 13 tokens, not equal to any benchmark)
            (4, "tiny document"),
        ],
        ["doc_id", "text"],
    )


def _bench(spark):
    return spark.createDataFrame(
        [(100, BENCH_Q), (101, "another benchmark question entirely")],
        ["bench_id", "text"],
    )


def test_contamination_flags_verbatim_inclusion_only(spark):
    out = {
        r["doc_id"]: r
        for r in contamination_hits(_docs(spark), _bench(spark)).collect()
    }
    assert len(out) == 4  # total verdict table: clean docs present
    assert out[1]["contaminated"] and out[1]["n_hits"] >= 1
    assert out[1]["n_benchmarks"] == 1
    for clean_id in (2, 3, 4):
        assert not out[clean_id]["contaminated"], clean_id
        assert out[clean_id]["n_hits"] == 0


def test_decontaminate_filters_and_preserves_columns(spark):
    docs = _docs(spark).withColumn("extra", F.lit("x"))
    kept = decontaminate(docs, _bench(spark))
    assert kept.columns == ["doc_id", "text", "extra"]
    assert sorted(r["doc_id"] for r in kept.collect()) == [2, 3, 4]


def test_contamination_shuffled_join_agrees_with_broadcast(spark):
    a = contamination_hits(
        _docs(spark), _bench(spark), broadcast_benchmark=True
    ).collect()
    b = contamination_hits(
        _docs(spark), _bench(spark), broadcast_benchmark=False
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_block_salted_window_bit_identical_across_boundaries(spark):
    """The giant-doc block salt must not change a single fingerprint:
    with a tiny block size (16 tokens) every document crosses several
    block boundaries, and the (id, h) set must equal the effectively
    unblocked computation (block size far above every doc length)."""
    from org_revue_de_presse_trends_spark.operators.decontaminate import (
        _ngram_hashes,
    )

    docs = spark.createDataFrame(
        [
            # 100 tokens: 7 blocks at B=16, grams span every boundary
            (1, " ".join(f"w{i % 17}" for i in range(100))),
            # exactly one block
            (2, " ".join(f"x{i}" for i in range(16))),
            # shorter than n → whole-text fallback path
            (3, "tiny doc"),
            # repeated tokens → duplicate grams must still dedup
            (4, " ".join(["rep"] * 50)),
        ],
        ["doc_id", "text"],
    )
    for n in (3, 13):
        blocked = set(
            (r["id"], r["h"])
            for r in _ngram_hashes(
                docs, "doc_id", "text", n, "id", block_tokens=16
            ).collect()
        )
        unblocked = set(
            (r["id"], r["h"])
            for r in _ngram_hashes(
                docs, "doc_id", "text", n, "id", block_tokens=1 << 20
            ).collect()
        )
        assert blocked == unblocked
        assert len(blocked) > 0


def test_giant_document_spreads_over_window_partitions(spark):
    """A planted 1M-token document must fan out over multiple window
    partitions (the skew guard) while small docs stay single-block,
    and the verdict must still be exact."""
    from org_revue_de_presse_trends_spark.operators.decontaminate import (
        _BLOCK_TOKENS,
        _ngram_hashes,
    )

    n_tok = 1_000_000
    giant = spark.range(1).select(
        F.lit(5).alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), F.lit(n_tok - 1)),
                lambda i: F.concat(F.lit("t"), (i % 40_000).cast("string")),
            ),
        ).alias("text"),
    )
    ng = _ngram_hashes(giant, "doc_id", "text", 13, "id")
    # distinct 13-grams of a period-40k token stream: one per start
    # position, minus the wrap-around dedup — just require the count
    # matches the unsalted formula: positions 12..n_tok-1, dedup by
    # repeating period (40k-period stream repeats grams exactly)
    got = ng.count()
    assert got == 40_000  # one distinct gram per phase of the period
    assert n_tok > 2 * _BLOCK_TOKENS  # the fixture actually spans blocks


def test_repetition_signals_planted(spark):
    rep_line = "the same line again"
    docs = spark.createDataFrame(
        [
            # 4 identical non-blank lines → dup_line_frac = 3/4; the
            # 2-gram stream is maximally repetitive
            (1, "\n".join([rep_line] * 4)),
            # all-distinct tokens → zero repetition, top 2-gram 1/n
            (2, " ".join(f"w{i}" for i in range(21))),
            # "a b a b a b" → 2-grams: ab ba ab ba ab → top = ab 3/5
            (3, "a b a b a b"),
            # degenerate: one token (< n) and empty text
            (4, "solo"),
            (5, ""),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in with_repetition_signals(docs, n=2).collect()
    }
    assert abs(out[1]["dup_line_frac"] - 3 / 4) < 1e-12
    assert out[1]["dup_ngram_frac"] > 0.5
    assert out[2]["dup_line_frac"] == 0.0
    assert out[2]["dup_ngram_frac"] == 0.0
    assert abs(out[2]["top_ngram_frac"] - 1 / 20) < 1e-12
    assert abs(out[3]["top_ngram_frac"] - 3 / 5) < 1e-12
    assert abs(out[3]["dup_ngram_frac"] - 3 / 5) < 1e-12
    for deg in (4, 5):
        assert out[deg]["dup_ngram_frac"] == 0.0
        assert out[deg]["top_ngram_frac"] == 0.0
    # schema contract: signals append to the input columns
    cols = with_repetition_signals(docs, n=2).columns
    assert cols == [
        "doc_id", "text", "dup_line_frac", "dup_ngram_frac",
        "top_ngram_frac",
    ]


def test_remove_spans_cuts_exactly_the_matched_windows(spark):
    """Verbatim benchmark inclusion: exactly the 15 benchmark tokens
    vanish (the three overlapping 13-grams merge); the surrounding
    filler survives in order.  Clean docs pass through untouched."""
    from org_revue_de_presse_trends_spark.operators.decontaminate import (
        remove_contaminated_spans,
    )

    out = {
        r["doc_id"]: r
        for r in remove_contaminated_spans(
            _docs(spark), _bench(spark)
        ).collect()
    }
    filler = " ".join(f"tok{i}" for i in range(30))
    r1 = out[1]
    assert r1["text_clean"] == f"{filler} {filler}"
    assert r1["n_tokens"] == 75 and r1["n_removed"] == 15
    # clean doc and the sub-n partial overlap are untouched
    for did in (2, 3):
        assert out[did]["n_removed"] == 0
        assert out[did]["text_clean"] == {
            r["doc_id"]: r["text"] for r in _docs(spark).collect()
        }[did]


def test_remove_spans_margin_extends_cut(spark):
    """margin=2 also removes the two filler tokens on each side of the
    planted span."""
    from org_revue_de_presse_trends_spark.operators.decontaminate import (
        remove_contaminated_spans,
    )

    out = {
        r["doc_id"]: r
        for r in remove_contaminated_spans(
            _docs(spark), _bench(spark), margin=2
        ).collect()
    }
    r1 = out[1]
    assert r1["n_removed"] == 19
    left = " ".join(f"tok{i}" for i in range(28))
    right = " ".join(f"tok{i}" for i in range(2, 30))
    assert r1["text_clean"] == f"{left} {right}"


def test_remove_spans_short_doc_match_removes_whole_text(spark):
    """A sub-n document that exactly equals a benchmark text is wiped
    (whole-text fallback hash; the clamped span covers every token)."""
    from org_revue_de_presse_trends_spark.operators.decontaminate import (
        remove_contaminated_spans,
    )

    docs = spark.createDataFrame(
        [(1, "tiny document"), (2, "other tiny document")],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "tiny document")], ["bench_id", "text"]
    )
    out = {
        r["doc_id"]: r
        for r in remove_contaminated_spans(docs, bench, n=13).collect()
    }
    assert out[1]["text_clean"] == "" and out[1]["n_removed"] == 2
    assert out[2]["text_clean"] == "other tiny document"
    assert out[2]["n_removed"] == 0


def test_remove_spans_block_salt_bit_identical(spark):
    """Tiny block size forces many window blocks; output must equal the
    default-block run token for token."""
    from org_revue_de_presse_trends_spark.operators.decontaminate import (
        remove_contaminated_spans,
    )

    a = sorted(
        map(
            tuple,
            remove_contaminated_spans(
                _docs(spark), _bench(spark), block_tokens=16
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            remove_contaminated_spans(
                _docs(spark), _bench(spark)
            ).collect(),
        )
    )
    assert a == b


def test_remove_duplicate_spans_planted(spark):
    """Lee et al. exact-substring dedup: a 6-token run shared by two
    docs is cut from BOTH (corpus-wide multiplicity, no benchmark
    set); unique docs pass through untouched; exact-duplicate short
    docs (< n tokens) are cut whole via the whole-text fingerprint;
    an in-DOC repeat also counts (multiplicity, not distinct docs)."""
    from org_revue_de_presse_trends_spark.operators.decontaminate import (
        remove_duplicate_spans,
    )

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens
    rows = [
        (1, f"one two {shared} three four"),
        (2, f"five six {shared} seven eight"),
        (3, "lonely words that appear nowhere else at all ok"),
        (4, "tiny twin"),
        (5, "tiny twin"),
        (6, f"intra {shared} middle {shared} end"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["text_clean"], r["n_tokens"], r["n_removed"])
        for r in remove_duplicate_spans(df, n=6, min_count=2).collect()
    }
    # docs 1/2: exactly the shared 6-gram dies (its end is the only
    # marked position; coverage = the 6 shared tokens)
    assert out[1] == ("one two three four", 10, 6)
    assert out[2] == ("five six seven eight", 10, 6)
    assert out[3] == (rows[2][1], 9, 0)
    # short exact twins: whole-text fingerprint, everything cut
    assert out[4] == ("", 2, 2)
    assert out[5] == ("", 2, 2)
    # doc 6 repeats the run internally -> both occurrences cut even
    # ignoring docs 1/2's copies
    assert out[6] == ("intra middle end", 15, 12)


def test_remove_duplicate_spans_overlap_merges(spark):
    """Two overlapping duplicated 4-gram windows merge into one cut
    (the kill flag is a max over the covering frame)."""
    from org_revue_de_presse_trends_spark.operators.decontaminate import (
        remove_duplicate_spans,
    )

    run = "a b c d e"  # 5 tokens: two overlapping 4-grams
    rows = [
        (1, f"x {run} y"),
        (2, f"p q {run} r"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["text_clean"], r["n_removed"])
        for r in remove_duplicate_spans(df, n=4, min_count=2).collect()
    }
    assert out[1] == ("x y", 5)
    assert out[2] == ("p q r", 5)


def test_keep_first_span_dedup(spark):
    """C4 flavor: the canonical first occurrence (smallest (doc_id,
    pos)) of a duplicated span survives; every later copy is cut —
    including later copies INSIDE the first document."""
    from org_revue_de_presse_trends_spark.operators.decontaminate import (
        remove_duplicate_spans_keep_first,
    )

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens
    rows = [
        (1, f"one two {shared} three four"),
        (2, f"five six {shared} seven eight"),
        (3, f"intra {shared} again {shared} end"),
        (4, "tiny twin"),
        (5, "tiny twin"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["text_clean"], r["n_tokens"], r["n_removed"])
        for r in remove_duplicate_spans_keep_first(df, n=6).collect()
    }
    # doc 1 holds the canonical copy: untouched
    assert out[1] == (rows[0][1], 10, 0)
    # docs 2 and 3 lose every copy (doc 3's first internal copy is
    # still later than doc 1's)
    assert out[2] == ("five six seven eight", 10, 6)
    assert out[3] == ("intra again end", 15, 12)
    # short exact twins: first survives whole, second cut whole
    assert out[4] == ("tiny twin", 2, 0)
    assert out[5] == ("", 2, 2)
