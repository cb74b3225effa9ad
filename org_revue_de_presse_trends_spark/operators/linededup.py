"""Corpus-wide line-level exact deduplication (C4-style: Raffel et
al. 2020 §2.2 discard all-but-one occurrence of repeated spans; Dolma
and FineWeb run the same pass at line granularity to kill boilerplate
lines — "Subscribe to our newsletter" — that survive document-level
dedup because every HOSTING document is unique).

Semantics
---------
Split every document into lines, normalize each line by ``trim``, and
keep exactly ONE occurrence of every normalized line corpus-wide — the
occurrence with the smallest ``(doc_id, line_pos)`` (keep-first under
the corpus's total order, the same convention as
``operators/decontaminate.span_dedup_keep_first``).  Lines shorter
than ``min_chars`` after trimming are EXEMPT (always kept): dedup of
"1" or "" across a corpus is noise, and C4's own rule only fires on
three-sentence spans.  Documents whose every line is dropped stay in
the output with empty text (totality — the r8b oracle lesson).

Scale shape (100 TB)
--------------------
Deliberately NOT a window over the normalized line: boilerplate lines
are EXACTLY the skewed keys (one line, 10^8 occurrences), and a
``row_number() OVER (PARTITION BY line)`` puts each such key in one
task with no partial aggregation.  Instead the kept occurrence is
computed as ``groupBy(line).agg(min(struct(doc_id, pos, line_raw)))``
— a hash aggregate with MAP-SIDE COMBINE, so the skewed key reduces
to one row per partition before the exchange, then the aggregate
OUTPUT (already one row per distinct line) IS the kept-line set: no
join back to the exploded stream at all.  Reassembly is one more
hash aggregate by doc_id plus an equi-join on the unique doc key to
restore dropped-to-empty documents.  Two shuffles total, both
skew-immune.  At 100 TB the group key becomes ``xxhash64(line)`` with
the line carried as a payload (the md5-sibling collision argument in
COVERAGE.md applies); the oracled driver query keys on the raw string
so the cross-engine check stays collision-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _lines_frame(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exploded per-line frame: (_id, _pos, _line, _norm)."""
    return df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_line"),
    ).withColumn("_norm", F.trim("_line"))


def _keep_first(lines: DataFrame, min_chars: int) -> DataFrame:
    """Surviving lines of an exploded frame under keep-first:
    short-line exemption union the per-norm first occurrence."""
    eligible = F.length("_norm") >= min_chars
    exempt = lines.where(~eligible).select("_id", "_pos", "_line")
    # the aggregate output IS the kept set: min(struct) picks the
    # first occurrence and carries its raw line through
    kept_first = (
        lines.where(eligible)
        .groupBy("_norm")
        .agg(F.min(F.struct("_id", "_pos", "_line")).alias("_f"))
        .select(
            F.col("_f._id").alias("_id"),
            F.col("_f._pos").alias("_pos"),
            F.col("_f._line").alias("_line"),
        )
    )
    return exempt.unionByName(kept_first)


def _reassemble(
    df: DataFrame,
    kept: DataFrame,
    id_col: str,
    text_col: str,
    out_col: str,
) -> DataFrame:
    """Per-doc reassembly of kept lines + totality left join."""
    rebuilt = kept.groupBy("_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list("
            "struct(_pos, _line))), x -> x._line), '\n')"
        ).alias(out_col),
        F.count(F.lit(1)).alias("n_kept"),
    )

    base = df.select(
        F.col(id_col).alias("_id"),
        F.size(F.split(F.col(text_col), "\n")).cast("long").alias("n_lines"),
    )
    out = (
        base.join(rebuilt, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col(out_col), F.lit("")).alias(out_col),
            "n_lines",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        )
        .withColumn("n_dropped", (F.col("n_lines") - F.col("n_kept")).cast("long"))
    )
    return out


def remove_duplicate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 10,
    out_col: str = "text_line_deduped",
) -> DataFrame:
    """Corpus-wide keep-first line dedup.

    Returns one row per input row: ``id_col``, ``out_col`` (the
    surviving lines joined by newline, '' when none survive),
    ``n_lines`` (original), ``n_kept``, ``n_dropped``.
    """
    lines = _lines_frame(df, id_col, text_col)
    kept = _keep_first(lines, min_chars)
    return _reassemble(df, kept, id_col, text_col, out_col)


def line_dedup_oracle_sql(
    docs_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 10,
) -> str:
    """DuckDB mirror of :func:`remove_duplicate_lines` over the
    document set produced by ``docs_sql`` (columns ``id_col``,
    ``text_col``).  The oracle may use the window form (row_number
    = 1 under the same (doc_id, pos) order is definitionally the
    min(struct) occurrence); scale shape is irrelevant at sf0.01.

    Emits columns: id, text_line_deduped, n_lines, n_kept, n_dropped.
    """
    return f"""
    WITH _docs AS ({docs_sql}),
    _split AS (
        SELECT {id_col} AS _id, string_split({text_col}, chr(10)) AS _t
        FROM _docs
    ),
    _lines AS (
        SELECT _id, _pos, _t[_pos] AS _line, trim(_t[_pos]) AS _norm
        FROM (
            SELECT _id, _t, unnest(range(1, len(_t) + 1)) AS _pos
            FROM _split
        )
    ),
    _kept AS (
        SELECT _id, _pos, _line FROM _lines WHERE length(_norm) < {min_chars}
        UNION ALL
        SELECT _id, _pos, _line FROM (
            SELECT _id, _pos, _line,
                   row_number() OVER (
                       PARTITION BY _norm ORDER BY _id, _pos
                   ) AS _rn
            FROM _lines WHERE length(_norm) >= {min_chars}
        ) WHERE _rn = 1
    ),
    _rebuilt AS (
        SELECT _id,
               string_agg(_line, chr(10) ORDER BY _pos) AS _txt,
               COUNT(*) AS _n_kept
        FROM _kept GROUP BY _id
    )
    SELECT s._id AS {id_col},
           coalesce(r._txt, '') AS text_line_deduped,
           CAST(len(s._t) AS BIGINT) AS n_lines,
           CAST(coalesce(r._n_kept, 0) AS BIGINT) AS n_kept,
           CAST(len(s._t) - coalesce(r._n_kept, 0) AS BIGINT) AS n_dropped
    FROM _split s LEFT JOIN _rebuilt r USING (_id)
    """
