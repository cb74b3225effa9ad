"""HTML → text extraction (the front door of every web-scale corpus:
C4 / RefinedWeb / FineWeb all begin by reducing crawled HTML to plain
text before any quality or dedup stage runs).

Deterministic, engine-portable subset of what trafilatura-style
extractors do, expressed as a fixed chain of regex / literal-replace
stages valid in BOTH Java regex (Spark) and RE2 (DuckDB) — no
lookaround, no backreferences in patterns — so the driver's DuckDB
oracle runs the character-for-character identical extraction:

1. strip ``<!-- comments -->``, ``<script>…</script>`` and
   ``<style>…</style>`` spans (non-greedy, dotall; a ``<`` or ``&``
   inside script text never reaches later stages),
2. closing block tags (``</p> </div> </li> </h1> … </title>``) and
   ``<br>`` become newlines (document structure survives as lines —
   the unit the line-level dedup pass keys on),
3. every remaining tag becomes a space,
4. a fixed entity table is decoded AFTER tag stripping (``&amp;``
   LAST, per the HTML spec's double-escaping convention) — so
   ``&lt;b&gt;`` becomes the literal text ``<b>`` and stays text,
5. whitespace is normalized: space runs collapse, spaces hug no
   newline, newline runs collapse, ends trimmed.

Boundary (documented, not silently wrong): numeric character
references beyond the fixed table (``&#x2019;`` …) and CDATA sections
are left verbatim; a full HTML5 tokenizer is out of scope for a
regex-portable stage and the entity table covers the five named
entities plus the two quote forms that dominate crawled text.

Scale shape (100 TB): one pure map stage — every expression is a
JVM-side built-in inside whole-stage codegen, embarrassingly parallel,
zero shuffle; the whole chain renders as ONE parsed ``F.expr`` string
(plan-build py4j-tax lesson, CLAUDE.md).  Each stage references its
input exactly once, so the chain is safe from the multi-reference
projection-inlining blowup documented for ``operators/urls.py``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: regex stages, applied in order: (name, raw-pattern, replacement).
#: Patterns are written with SINGLE backslashes; the Spark renderer
#: doubles them (Spark SQL string literals process escapes, DuckDB's
#: don't).  Replacements are literal text (real control chars are
#: embedded in the rendered SQL — neither engine needs an escape).
HTML_STRIP_STAGES: tuple[tuple[str, str, str], ...] = (
    ("comments", r"(?s)<!--.*?-->", " "),
    ("script", r"(?is)<script[^>]*>.*?</script>", " "),
    ("style", r"(?is)<style[^>]*>.*?</style>", " "),
    (
        "breaks",
        r"(?i)</(?:p|div|li|ul|ol|h[1-6]|tr|table|thead|tbody"
        r"|blockquote|article|section|title)>|<br[^>]*>",
        "\n",
    ),
    ("tags", r"(?s)<[^>]*>", " "),
)

#: literal entity decodes, applied in order AFTER tag stripping;
#: ``&amp;`` must be last or double-escaped text over-decodes.
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&amp;", "&"),
)

#: whitespace normalization, applied last.  The cr stage first folds
#: CRLF / lone CR into LF — real crawls are CRLF-encoded, and a
#: surviving '\r' would both defeat line-level dedup downstream and
#: split the engines on '$' anchors (Java regex treats a final '\r'
#: as a line terminator, RE2 does not; review-caught).
HTML_WS_STAGES: tuple[tuple[str, str, str], ...] = (
    ("cr", r"\r\n?", "\n"),
    ("hspace", r"[ \t]+", " "),
    ("nl_hug", r" ?\n ?", "\n"),
    ("nl_runs", r"\n+", "\n"),
    ("ends", r"^[\n ]+|[\n ]+$", ""),
)

#: pattern for the <title> text (group 1)
TITLE_PATTERN = r"(?is)<title[^>]*>(.*?)</title>"


def _sql_quote(s: str) -> str:
    """Render ``s`` as a SQL single-quoted literal with REAL control
    characters embedded (DuckDB string literals do not process
    backslash escapes — CLAUDE.md r10c)."""
    return "'" + s.replace("'", "''") + "'"


def _pat(engine: str, raw: str) -> str:
    """Render a raw regex for ``engine``'s string-literal rules."""
    if engine == "spark":
        raw = raw.replace("\\", "\\\\")
    return _sql_quote(raw)


def _re_all(engine: str, expr: str, raw_pat: str, repl: str) -> str:
    flag = ", 'g'" if engine == "duckdb" else ""
    return (
        f"regexp_replace({expr}, {_pat(engine, raw_pat)}, "
        f"{_sql_quote(repl)}{flag})"
    )


def html_to_text_sql(engine: str, expr: str) -> str:
    """One nested-call SQL expression extracting plain text from the
    HTML string ``expr`` — identical semantics in both engines."""
    out = expr
    for _, pat, repl in HTML_STRIP_STAGES:
        out = _re_all(engine, out, pat, repl)
    for ent, ch in HTML_ENTITIES:
        out = f"replace({out}, {_sql_quote(ent)}, {_sql_quote(ch)})"
    for _, pat, repl in HTML_WS_STAGES:
        out = _re_all(engine, out, pat, repl)
    return out


def html_title_sql(engine: str, expr: str) -> str:
    """The trimmed ``<title>`` text ('' when the document has none —
    both engines return '' for a no-match group extract)."""
    return f"trim(regexp_extract({expr}, {_pat(engine, TITLE_PATTERN)}, 1))"


def html_text_col(html: str) -> Column:
    """Spark Column: extracted plain text of the HTML column named
    ``html`` (one parsed expression)."""
    return F.expr(html_to_text_sql("spark", html))
