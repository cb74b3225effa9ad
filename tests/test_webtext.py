"""HTML → text extraction (functions/htmltext.py) and corpus-wide
line dedup (operators/linededup.py): exact-string evidence on
realistic inputs, cross-engine parity on adversarial strings (the
registered queries' sf-fixture parity lives in test_driver_contract).
"""

from __future__ import annotations

import duckdb
import pytest

from org_revue_de_presse_trends_spark.functions import htmltext as H
from org_revue_de_presse_trends_spark.operators.linededup import (
    line_dedup_oracle_sql,
    remove_duplicate_lines,
)


def _extract_one(spark, html: str) -> str:
    df = spark.createDataFrame([(html,)], "html string")
    return df.select(H.html_text_col("html").alias("t")).collect()[0]["t"]


PAGE = (
    "<html><head><title> My Page </title>"
    "<style>p { color: red; }</style>"
    '<script>if (1 < 2) { alert("a&b"); }</script></head>'
    "<body><!-- hidden -->"
    "<h1>Header</h1>"
    '<p class="x">one   two</p>'
    "<ul><li>alpha</li><li>beta&amp;gamma</li></ul>"
    "<p>quote &#39;q&#39; and &lt;b&gt;bold&lt;/b&gt;&nbsp;end</p>"
    "line a<br/>line b"
    "</body></html>"
)


def test_extraction_end_to_end(spark):
    out = _extract_one(spark, PAGE)
    assert out == (
        "My Page\n"
        "Header\n"
        "one two\n"
        "alpha\n"
        "beta&gamma\n"
        "quote 'q' and <b>bold</b> end\n"
        "line a\n"
        "line b"
    )


def test_script_content_never_leaks(spark):
    # the bare '<', '&' and quotes inside script/style text must
    # vanish entirely, not half-decode into tags
    out = _extract_one(
        spark,
        "<script>for (i = 0; i < n; i++) { s += '&lt;'; }</script>keep"
        "<style>a > b { x: '&amp;'; }</style>this",
    )
    assert out == "keep this"


def test_entity_order_amp_last(spark):
    # double-escaped text decodes exactly one level
    assert _extract_one(spark, "&amp;lt;tag&amp;gt;") == "&lt;tag&gt;"


def test_plain_text_unharmed(spark):
    assert _extract_one(spark, "no markup at all") == "no markup at all"


@pytest.mark.parametrize(
    "html",
    [
        PAGE,
        "",
        "a < b and c > d",  # bare comparators are not tags... '< b and c >' IS
        "<p>unclosed",
        "&amp;lt;deep&amp;gt; &unknown; &#x2019;",
        "<SCRIPT>UPPER()</SCRIPT>ok<BR>two",
        "<!-- multi\nline\ncomment -->text",
        # CRLF page: the cr stage folds \r\n before any '$' anchor
        # can split the engines (review-caught)
        "<p>crlf line one.</p>\r\n<p>crlf line two!</p>\r\n",
        "bare\rcarriage\rreturns",
    ],
)
def test_cross_engine_parity(spark, html):
    """The identical chain rendered for DuckDB produces the identical
    string — including the deliberate boundary cases (unknown
    entities kept verbatim, a bare '<…>' span stripped as a tag)."""
    s = _extract_one(spark, html)
    con = duckdb.connect()
    d = con.execute(
        "SELECT " + H.html_to_text_sql("duckdb", "html")
        + " FROM (SELECT ? AS html)",
        [html],
    ).fetchone()[0]
    assert s == d


# ---------------------------------------------------------------------------
# line dedup
# ---------------------------------------------------------------------------


def _line_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_keep_first_across_docs(spark):
    df = _line_df(
        spark,
        [
            (1, "unique one\nshared boilerplate line\nunique two"),
            (2, "shared boilerplate line\nunique three"),
            (3, "  shared boilerplate line \nunique four"),
        ],
    )
    out = {
        r["doc_id"]: r
        for r in remove_duplicate_lines(df, min_chars=5).collect()
    }
    assert out[1]["text_line_deduped"] == (
        "unique one\nshared boilerplate line\nunique two"
    )
    # later occurrences dropped, including the whitespace-variant
    # (normalization is trim; the KEPT doc keeps its raw line)
    assert out[2]["text_line_deduped"] == "unique three"
    assert out[3]["text_line_deduped"] == "unique four"
    assert out[2]["n_dropped"] == 1 and out[3]["n_dropped"] == 1
    assert out[1]["n_kept"] == 3 and out[1]["n_dropped"] == 0


def test_short_lines_exempt(spark):
    df = _line_df(spark, [(1, "ok\nlong enough line here"), (2, "ok\nx")])
    out = {
        r["doc_id"]: r
        for r in remove_duplicate_lines(df, min_chars=5).collect()
    }
    # 'ok' and 'x' are under min_chars: kept everywhere
    assert out[1]["text_line_deduped"] == "ok\nlong enough line here"
    assert out[2]["text_line_deduped"] == "ok\nx"


def test_all_lines_dropped_doc_stays(spark):
    df = _line_df(
        spark, [(1, "only shared line"), (2, "only shared line")]
    )
    out = {
        r["doc_id"]: r
        for r in remove_duplicate_lines(df, min_chars=5).collect()
    }
    assert out[1]["text_line_deduped"] == "only shared line"
    assert out[2]["text_line_deduped"] == ""
    assert out[2]["n_kept"] == 0 and out[2]["n_dropped"] == 1


def test_within_doc_duplicates_also_dedup(spark):
    df = _line_df(spark, [(7, "repeat this line\nmiddle bit\nrepeat this line")])
    row = remove_duplicate_lines(df, min_chars=5).collect()[0]
    assert row["text_line_deduped"] == "repeat this line\nmiddle bit"
    assert row["n_kept"] == 2 and row["n_dropped"] == 1


def test_layout_independence(spark):
    rows = [
        (i, f"common header line\nbody {i} with words\ncommon footer line")
        for i in range(1, 41)
    ]
    df = _line_df(spark, rows)
    a = sorted(
        map(tuple, remove_duplicate_lines(df, min_chars=5).collect())
    )
    b = sorted(
        map(
            tuple,
            remove_duplicate_lines(df.repartition(13), min_chars=5).collect(),
        )
    )
    assert a == b
    # keep-first is by (doc_id, pos): doc 1 holds both shared lines
    first = dict((r[0], r[1]) for r in a)[1]
    assert first == (
        "common header line\nbody 1 with words\ncommon footer line"
    )


def test_oracle_sql_matches_operator(spark):
    rows = [
        (1, "alpha beta gamma\nshared line here\n"),
        (2, "shared line here\ndelta epsilon"),
        (3, ""),
    ]
    df = _line_df(spark, rows)
    got = sorted(
        (r["doc_id"], r["text_line_deduped"], r["n_lines"], r["n_kept"],
         r["n_dropped"])
        for r in remove_duplicate_lines(df, min_chars=5).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d AS SELECT * FROM (VALUES "
        + ", ".join(
            "(%d, '%s')" % (i, t.replace("'", "''").replace("\n", "\n"))
            for i, t in rows
        )
        + ") t(doc_id, text)"
    )
    want = sorted(
        map(
            tuple,
            con.execute(
                line_dedup_oracle_sql("SELECT doc_id, text FROM d", min_chars=5)
            ).fetchall(),
        )
    )
    assert got == want


# ---------------------------------------------------------------------------
# C4 line filter
# ---------------------------------------------------------------------------

from org_revue_de_presse_trends_spark.functions import c4lines as C4  # noqa: E402


def _c4_one(spark, text, **kw):
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    return C4.with_c4_lines(df, **kw).collect()[0]


GOOD_PAGE = "\n".join(
    [
        "This is a perfectly fine sentence one.",
        "Here is another good长 sentence two!",
        'A quoted sentence ends like this."',
        "Does a question mark terminate lines?",
        "Sentence five rounds out the page.",
        "too short.",  # 2 words -> dropped
        "Please enable JavaScript to continue here.",  # dropped
        "an unterminated trailing line with words",  # dropped
    ]
)


def test_crlf_page_extracts_clean(spark):
    out = _extract_one(
        spark, "<html>\r\n<p>One fine line.</p>\r\n<p>Two.</p>\r\n</html>"
    )
    assert out == "One fine line.\nTwo."
    assert "\r" not in out


def test_c4_per_line_rules(spark):
    row = _c4_one(spark, GOOD_PAGE)
    assert row["page_kept"] is True
    kept = row["text_c4"].split("\n")
    assert len(kept) == 5 and row["n_kept_lines"] == 5
    assert all(k.rstrip()[-1] in '.!?"' for k in kept)
    assert not any("JavaScript" in k for k in kept)
    assert row["n_lines"] == 8


@pytest.mark.parametrize(
    "blocker",
    [
        "Some Lorem Ipsum filler text sits here.",
        "code like function() { return; } kills the page.",
    ],
)
def test_c4_page_blockers(spark, blocker):
    row = _c4_one(spark, GOOD_PAGE + "\n" + blocker)
    assert row["page_kept"] is False and row["text_c4"] == ""


def test_c4_min_kept_lines_gate(spark):
    four = "\n".join(GOOD_PAGE.split("\n")[:4])
    row = _c4_one(spark, four)
    assert row["n_kept_lines"] == 4 and row["page_kept"] is False
    assert row["text_c4"] == ""
    assert _c4_one(spark, four, min_kept_lines=4)["page_kept"] is True


@pytest.mark.parametrize(
    "text",
    [
        GOOD_PAGE,
        "",
        "one.\ntwo.\nthree.",
        "spaced   words   here   ok.\n" * 6,
        "Sample LOREM IPSUM mixed case.",
        # CRLF lines: '\r' stripped before the terminal-punct anchor
        # in BOTH engines (review-caught Java-vs-RE2 '$' divergence)
        "crlf terminal line one.\r\ncrlf terminal line two!\r\n" * 3,
    ],
)
def test_c4_cross_engine_parity(spark, text):
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    srow = C4.with_c4_lines(df).selectExpr(
        "text_c4", "n_lines", "n_kept_lines", "page_kept"
    ).collect()[0]
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.execute("INSERT INTO d VALUES (1, ?)", [text])
    drow = con.execute(
        C4.c4_oracle_select("duckdb", "SELECT doc_id, text FROM d")
    ).fetchone()
    import hashlib

    assert hashlib.md5(srow["text_c4"].encode()).hexdigest() == drow[1]
    assert (srow["n_lines"], srow["n_kept_lines"], srow["page_kept"]) == (
        drow[2], drow[3], drow[4],
    )
